package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.Assertions

/** Randomized differential properties whose check is ONE Spark job: the
  * fixed cases plus `n` generated ones become the rows of one DataFrame,
  * instead of one job per case. The seed is fresh per run and printed on
  * failure; `draw(gen, n, Seed.fromBase64(s).get)` replays that draw.
  */
object Cases {
  def draw[A](gen: Gen[A], n: Int, seed: Seed): Seq[A] =
    Gen.listOfN(n, gen).pureApply(Gen.Parameters.default, seed)

  /** Fails unless `mismatches` finds none among `fixed` and `n` drawn cases. */
  def check[A](gen: Gen[A], fixed: Seq[A] = Nil, n: Int = 200)(
      mismatches: Seq[A] => Seq[Any]): Unit = {
    val seed = Seed.random()
    val bad = mismatches(fixed ++ draw(gen, n, seed))
    Assertions.assert(bad.isEmpty,
      s"seed ${seed.toBase64}: ${bad.size} mismatches, first ${bad.take(5).mkString("; ")}")
  }
}
