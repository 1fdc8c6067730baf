package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CorpusLm

/** Pins the corpus-LM curation operators: bigram-bits agrees with the
  * hand-derived add-α formula on a two-doc corpus, repeated text scores
  * fewer bits than one-off text (the CCNet head/tail intuition), terciles
  * split per language with the doc_id tie-break, and DSIR ranks docs made
  * of target-typical tokens above docs with tokens absent from the target
  * slice. Exact cross-engine values are covered by the q_lm_bits /
  * q_dsir_select oracles.
  */
class CorpusLmSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs(rows: (Long, String, String, String)*) =
    rows.toDF("doc_id", "lang", "source", "text")

  test("bigramBits: exact add-alpha values on a two-doc corpus") {
    // bigrams: doc1 = (a,a)x2, doc2 = (a,b)x1
    // c1(a)=3; c2(a,a)=2, c2(a,b)=1; V=|{a,b}|=2; alpha=0.1
    val d = docs((1L, "en", "s", "a a a"), (2L, "en", "s", "a b"))
    val out = CorpusLm.bigramBits(d, alpha = 0.1).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("bits"))).toMap
    // same double op-order as the operator: lp sums, then -(s/n)/ln2, r6
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val lp11 = math.log((2.0 + 0.1) / (3.0 + 0.1 * 2.0))
    val lp2 = math.log((1.0 + 0.1) / (3.0 + 0.1 * 2.0))
    assert(out(1L) == ((2L, r6(-((0.0 + lp11 + lp11) / 2.0) / math.log(2.0)))))
    assert(out(2L) == ((1L, r6(-((0.0 + lp2) / 1.0) / math.log(2.0)))))
    // the repeated bigram is more predictable => fewer bits
    assert(out(1L)._2 < out(2L)._2)
  }

  test("bigramBits: terciles split per language, doc_id tie-break") {
    // three identical docs in one lang => identical bits; ntile(3) must
    // still hand out head/middle/tail deterministically by doc_id
    val d = docs(
      (1L, "en", "s", "x y x y"), (2L, "en", "s", "x y x y"),
      (3L, "en", "s", "x y x y"), (4L, "fr", "s", "u v"))
    val out = CorpusLm.bigramBits(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    assert(out(1L) == "head" && out(2L) == "middle" && out(3L) == "tail")
    // a single-doc language is entirely head (ntile(3) of 1 row => tile 1)
    assert(out(4L) == "head")
    // docs with < 2 tokens are out of scope (no bigram) — absent, not null
    val short = CorpusLm.bigramBits(docs((9L, "en", "s", "solo")))
    assert(short.count() == 0L)
  }

  test("two-phase tercile rank equals ntile(3) over the full stratum") {
    // the r7 rewrite computes the tercile from a coarse-bucket offset plus
    // a within-bucket row_number; it must equal SQL ntile(3) OVER
    // (PARTITION BY lang ORDER BY bits, doc_id). Property: the 25 fixed
    // docs plus drawn ones, all in ONE corpus (bits depend on the corpus).
    val fixed = (0 until 25).map { i =>
      val lang = if (i % 2 == 0) "en" else "fr"
      lang -> (0 to i % 7 + 1).map(j => s"w${(i * 3 + j) % 9}").mkString(" ")
    }
    // a skewed language pool gives strata of random sizes; texts drawn
    // from a small repeated pool tie on bits, and random 2–12-token texts
    // over 12 words spread bits across several coarse (floor) buckets
    val repeated = Seq("x y x y", "a b c", "q q q q q", "u v", "m n o p m n")
    val genText = Gen.choose(2, 12)
      .flatMap(n => Gen.listOfN(n, Gen.choose(0, 11)))
      .map(_.map(w => s"w$w").mkString(" "))
    val genDoc = Gen.zip(
      Gen.frequency(3 -> Gen.const("en"), 2 -> Gen.const("fr"),
        10 -> Gen.choose(0, 29).map(i => s"l$i")),
      Gen.frequency(1 -> Gen.oneOf(repeated), 3 -> genText))
    Cases.check(genDoc, fixed, n = 240) { cases =>
      val d = docs(cases.zipWithIndex.map { case ((lang, text), i) =>
        (i.toLong, lang, "s", text) }: _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("bits"), col("doc_id"))
      val rows = CorpusLm.bigramBits(d)
        .withColumn("expected", element_at(
          typedlit(Seq("head", "middle", "tail")), ntile(3).over(w)))
        .select("doc_id", "lang", "bits", "bucket", "expected").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3),
          r.getString(4)))
      // every doc has >= 2 tokens, so every doc is scored exactly once
      val ids = rows.map(_._1).toSeq
      val want = cases.indices.map(_.toLong)
      val coverage =
        if (ids.sorted == want) Nil
        else Seq(s"${ids.length} rows for ${want.length} docs; " +
          s"unscored ${(want.toSet -- ids).toSeq.sorted.mkString(",")}; " +
          s"repeated ${ids.diff(ids.distinct).distinct.sorted.mkString(",")}")
      // the draw must reach what the two-phase form could get wrong
      val strata = rows.groupBy(_._2).values.toSeq
      val unreached = Seq(
        "a stratum size for every n % 3" ->
          (strata.map(_.length % 3).toSet == Set(0, 1, 2)),
        "repeated bits within a stratum" ->
          strata.exists(s => s.map(_._3).distinct.length < s.length),
        "a stratum over more than one coarse bucket" ->
          strata.exists(s => s.map(r => math.floor(r._3)).distinct.length > 1))
        .collect { case (what, false) => s"draw lacks $what" }
      rows.filter(r => r._4 != r._5).toSeq ++ coverage ++ unreached
    }
  }

  test("dsirWeights: target-typical tokens outrank target-absent tokens") {
    // target slice uses token x only; candidate 3 matches it, 4 does not
    val d = docs(
      (1L, "en", "tgt", "x"), (2L, "en", "tgt", "x"),
      (3L, "en", "raw", "x"), (4L, "en", "raw", "y"))
    val out = CorpusLm.dsirWeights(d, isTarget = col("source") === "tgt",
      buckets = 8192, alpha = 0.5, topK = 10).collect()
    assert(out.length == 4)
    // the three x-docs tie on weight, rank by doc_id; y-doc is last
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L, 4L))
    val w = out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Double]("weight")).toMap
    assert(w(3L) > w(4L) && w(1L) == w(3L))
    assert(out.head.getAs[Long]("n_toks") == 1L)
  }

  test("dsirWeights: topK limits; per-token lp accumulates over length") {
    // every x-bucket position carries the SAME lp (here negative: rc=6 vs
    // tc=3 and the add-alpha mass dominates the totals ratio), so weight
    // is lp * n_toks and the SHORTEST doc ranks first — the additive-over-
    // positions contract of DSIR, verified against the closed form
    val d = docs(
      (1L, "en", "tgt", "x x x"),
      (2L, "en", "raw", "x x"), (3L, "en", "raw", "x"))
    val top2 = CorpusLm.dsirWeights(d, col("source") === "tgt", topK = 2)
      .collect()
    assert(top2.length == 2)
    assert(top2.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L, 2L))
    val lp = math.log(3.0 + 0.5) - math.log(3.0 + 0.5 * 8192) -
      (math.log(6.0 + 0.5) - math.log(6.0 + 0.5 * 8192))
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    assert(top2.head.getAs[Double]("weight") == r6(0.0 + lp))
    assert(top2(1).getAs[Double]("weight") == r6(0.0 + lp + lp))
  }

  private def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  test("pmiCollocations: closed-form values, raw ranking, w1 tie-break") {
    // bigrams: (a,b) (a,c) (d,b); N=3, cl(a)=2, cl(d)=1, cr(b)=2, cr(c)=1
    val d = docs((1L, "en", "s", "a b"), (2L, "en", "s", "a c"),
      (3L, "en", "s", "d b"))
    val out = CorpusLm.pmiCollocations(d, minCount = 1, topK = 10).collect()
    def pmi(c12: Double, cl: Double, cr: Double) =
      math.log((c12 * 3.0) / (cl * cr))
    // (a,c) and (d,b) tie at ln(1.5); w1 breaks the tie; (a,b) is negative
    assert(out.map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"))).toSeq
      == Seq(("a", "c"), ("d", "b"), ("a", "b")))
    assert(out(0).getAs[Double]("pmi") == r6d(pmi(1, 2, 1)))
    assert(out(2).getAs[Double]("pmi") == r6d(pmi(1, 2, 2)))
    assert(out(2).getAs[Double]("pmi") < 0.0)
    // min-count floor drops everything here
    assert(CorpusLm.pmiCollocations(d, minCount = 2, topK = 10).count() == 0)
  }

  test("zipfFit: exact counts and the closed-form ln-ln regression") {
    // counts: a=4 b=2 c=1 d=1 -> 8 tokens, 4 vocab, 2 hapax
    val d = docs((1L, "en", "s", "a a a a b b c"), (2L, "en", "s", "d"))
    val row = CorpusLm.zipfFit(d, k = 100).head()
    assert(row.getAs[Long]("n_tokens") == 8L)
    assert(row.getAs[Long]("n_vocab") == 4L)
    assert(row.getAs[Long]("n_hapax") == 2L)
    assert(row.getAs[Double]("hapax_frac") == 0.5)
    assert(row.getAs[Long]("k_fit") == 4L)
    // same fold order and op order as the operator
    val pts = Seq((1L, 4L), (2L, 2L), (3L, 1L), (4L, 1L))
      .map { case (r, c) => (math.log(r.toDouble), math.log(c.toDouble)) }
    val (sx, sy) = (pts.foldLeft(0.0)(_ + _._1), pts.foldLeft(0.0)(_ + _._2))
    val sxy = pts.foldLeft(0.0)((a, p) => a + p._1 * p._2)
    val sxx = pts.foldLeft(0.0)((a, p) => a + p._1 * p._1)
    val kd = 4.0
    val slope = (kd * sxy - sx * sy) / (kd * sxx - sx * sx)
    assert(row.getAs[Double]("slope") == r6d(slope))
    assert(row.getAs[Double]("intercept") == r6d((sy - slope * sx) / kd))
    // a frequency-decaying corpus fits a negative slope
    assert(row.getAs[Double]("slope") < 0.0)
  }

  test("tokenEntropy: degenerate, uniform, and diversity ordering") {
    val d = docs(
      (1L, "en", "s", "x x x"),     // single distinct token: H = 0
      (2L, "en", "s", "a a b b"),   // uniform over 2: H = ln 2 (micro-trunc)
      (3L, "en", "s", "p p p q"),   // skewed over 2: H < ln 2
      (4L, "en", "s", "k l m n"))   // uniform over 4: H = ln 4
    val out = CorpusLm.tokenEntropy(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Double]("entropy") == 0.0 &&
      out(1L).getAs[Double]("entropy_norm") == 0.0)
    // per-term micro truncation: floor(0.5·ln0.5 ·1e6 + 0.5) = -346574
    assert(out(2L).getAs[Double]("entropy") == 0.693148)
    assert(out(3L).getAs[Double]("entropy") <
      out(2L).getAs[Double]("entropy"))
    assert(out(4L).getAs[Double]("entropy") >
      out(2L).getAs[Double]("entropy"))
    // normalized: both uniform docs read ~1 (±1 micro per term)
    assert(math.abs(out(4L).getAs[Double]("entropy_norm") - 1.0) < 1e-5)
    assert(out(2L).getAs[Long]("n_tokens") == 4L &&
      out(2L).getAs[Long]("n_distinct") == 2L)
  }
}
