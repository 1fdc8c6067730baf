package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Conversations

/** Pins the conversation-level training ops on hand-built transcripts:
  * QC flag semantics (alternation repeats, blank turns, err tool calls,
  * trainable fraction), loss-span contiguity/partitioning, and the
  * budget-truncation prefix property. Exact cross-engine values are
  * covered by the q_conv_qc / q_loss_spans / q_truncate_budget oracles.
  */
class ConversationsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // (conv_id, turn_idx, role, text)
  private def tx(rows: (String, Int, String, String)*) =
    rows.toDF("conv_id", "turn_idx", "role", "text")

  private val convA = Seq(
    ("a", 0, "user", "hello there"),             // 2 tok
    ("a", 1, "assistant", "hi how are you"),     // 4 tok, trainable
    ("a", 2, "user", ""),                        // blank
    ("a", 3, "user", "still here"),              // role repeat (user,user)
    ("a", 4, "tool", "CALL tool=x status=err"),  // err call, 3 tok
    ("a", 5, "assistant", "done"))               // 1 tok, trainable

  test("qc: flags, counts, and trainable fraction") {
    val out = Conversations.qc(tx(convA: _*)).collect().head
    assert(out.getAs[Long]("n_turns") == 6L)
    assert(out.getAs[Boolean]("starts_with_user"))
    assert(out.getAs[Long]("n_blank") == 1L)
    // (2,"")→(3,user) follows (2,user): repeats at turn 3 only? turns 2 and
    // 3 are both user and turn 2 follows user turn... adjacency: 0u,1a,2u,
    // 3u,4t,5a → repeats at turn 3 (u after u). Turn 2 follows assistant.
    assert(out.getAs[Long]("n_role_repeats") == 1L)
    assert(out.getAs[Long]("n_err_calls") == 1L)
    assert(out.getAs[Long]("assistant_tokens") == 5L)
    assert(out.getAs[Long]("total_tokens") == 12L)
    assert(math.abs(out.getAs[Double]("trainable_frac") - 5.0 / 12.0) < 1e-6)
  }

  test("qc: conversation not starting with user is flagged") {
    val out = Conversations.qc(tx(("b", 0, "assistant", "sys"), ("b", 1, "user", "q")))
      .collect().head
    assert(!out.getAs[Boolean]("starts_with_user"))
    assert(out.getAs[Long]("n_role_repeats") == 0L)
  }

  test("lossSpans: spans are contiguous, partition the total, and mask by role") {
    val out = Conversations.lossSpans(tx(convA: _*))
      .orderBy("turn_idx").collect()
    // contiguity: each span starts where the previous ended
    out.sliding(2).foreach { case Array(p, n) =>
      assert(n.getAs[Long]("span_start") == p.getAs[Long]("span_end"))
    }
    assert(out.head.getAs[Long]("span_start") == 0L)
    assert(out.last.getAs[Long]("span_end") == 12L) // = total tokens
    // blank turn contributes an empty span, not a gap
    val blank = out(2)
    assert(blank.getAs[Long]("span_start") == blank.getAs[Long]("span_end"))
    // role is projected out; assistant turns in the fixture are 1 and 5
    assert(out.filter(_.getAs[Boolean]("trainable"))
      .map(_.getAs[Int]("turn_idx")).toSeq == Seq(1, 5))
  }

  test("truncateToBudget: keeps exactly the longest fitting prefix") {
    // budget 7: turns 0 (cum 2) + 1 (cum 6) fit; turn 2 blank (cum 6)
    // fits too; turn 3 (cum 8) overflows and nothing after re-enters
    val out = Conversations.truncateToBudget(tx(convA: _*), 7L)
      .orderBy("turn_idx").collect()
    assert(out.map(_.getAs[Int]("turn_idx")).toSeq == Seq(0, 1, 2))
    assert(out.last.getAs[Long]("cum_tok") == 6L)
  }

  test("truncateToBudget: first turn over budget yields no rows") {
    val out = Conversations.truncateToBudget(
      tx(("c", 0, "user", "one two three four"), ("c", 1, "assistant", "x")), 3L)
    assert(out.count() == 0L)
  }

  test("fingerprint: identical turn sequences collide, reordering does not") {
    val a = tx(("a", 0, "user", "hi"), ("a", 1, "assistant", "yo"))
    val b = tx(("b", 0, "user", "hi"), ("b", 1, "assistant", "yo"))
    val c = tx(("c", 0, "assistant", "yo"), ("c", 1, "user", "hi")) // swapped
    val fps = Conversations.fingerprint(a.unionByName(b).unionByName(c))
      .collect().map(r => r.getAs[String]("conv_id") -> r.getAs[Long]("conv_fp"))
      .toMap
    assert(fps("a") == fps("b"))
    assert(fps("a") != fps("c"))
  }

  test("fingerprint: role is part of turn identity") {
    val a = tx(("a", 0, "user", "same words"))
    val b = tx(("b", 0, "assistant", "same words"))
    val fps = Conversations.fingerprint(a.unionByName(b))
      .collect().map(_.getAs[Long]("conv_fp"))
    assert(fps.distinct.length == 2)
  }

  test("fingerprintSalted equals fingerprint for every bucket width") {
    val t = tx(
      ("a", 0, "user", "one two"), ("a", 1, "assistant", "three"),
      ("a", 2, "user", "four five six"), ("a", 3, "assistant", "seven"),
      ("a", 4, "tool", "status=ok"), ("b", 0, "user", "solo"))
    val plain = Conversations.fingerprint(t).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (w <- Seq(1, 2, 3, 5, 100)) {
      val salted = Conversations.fingerprintSalted(t, bucketWidth = w)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(salted == plain, s"width $w diverged")
    }
  }

  test("fingerprintSalted ≡ fingerprint over generated conversations and bucket widths") {
    import org.scalacheck.Gen
    // turn indexes: dense from 0, gapped, or starting past 0 (near a
    // 4096 boundary too), so conversations span several buckets
    val genIdx = for {
      n <- Gen.choose(1, 30)
      start <- Gen.frequency(3 -> Gen.const(0), 1 -> Gen.choose(1, 10000),
        1 -> Gen.choose(4090, 4095))
      gaps <- Gen.oneOf(Gen.listOfN(n - 1, Gen.const(1)),
        Gen.listOfN(n - 1, Gen.frequency(3 -> Gen.const(1),
          1 -> Gen.choose(2, 9), 1 -> Gen.choose(100, 5000))))
    } yield gaps.scanLeft(start)(_ + _)
    val genText = Gen.frequency(
      3 -> Gen.listOfN(3, Gen.alphaNumStr.map(_.take(5))).map(_.mkString(" ")),
      1 -> Gen.const(""),
      2 -> Gen.oneOf("héllo wörld", "日本語のテキスト", "emoji 🙂 ok", "Ωmega ∑ ≥ 0", "naïve\ttab"))
    val genConv = genIdx.flatMap(idx => Gen.sequence[Seq[(Int, String, String)], (Int, String, String)](
      idx.map(t => Gen.zip(Gen.oneOf("user", "assistant", "tool"), genText)
        .map { case (r, x) => (t, r, x) })))
    Cases.check(genConv) { convs =>
      val rows = convs.zipWithIndex.flatMap { case (turns, i) =>
        turns.map { case (t, r, x) => (f"case$i%04d", t, r, x) }
      }
      val t = rows.toDF("conv_id", "turn_idx", "role", "text")
      def fps(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val plain = fps(Conversations.fingerprint(t))
      Seq(1, 3, 4096).flatMap { w =>
        val salted = fps(Conversations.fingerprintSalted(t, bucketWidth = w))
        convs.indices.flatMap { i =>
          val c = f"case$i%04d"
          if (plain.contains(c) && salted.get(c) == plain.get(c)) None
          else Some((w, c, convs(i), plain.get(c), salted.get(c)))
        }
      }
    }
  }

  test("fingerprintSalted: a mega-conversation folds identically") {
    val mega = (0 until 5000).map(i =>
      ("mega", i, if (i % 2 == 0) "user" else "assistant", s"turn $i words"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val plain = Conversations.fingerprint(mega).head()
    val salted = Conversations.fingerprintSalted(mega, bucketWidth = 64).head()
    assert(salted.getAs[Long]("conv_fp") == plain.getAs[Long]("conv_fp"))
    assert(salted.getAs[Long]("n_turns") == 5000L)
  }

  test("pow_mod: square-and-multiply identities") {
    import graft.functions.{Hashing, PowModHelper}
    assert(PowModHelper.eval(2L, 10L) == 1024L)
    assert(PowModHelper.eval(8191L, 0L) == 1L)
    assert(PowModHelper.eval(12345L, 1L) == 12345L)
    // fermat: a^(P-1) = 1 mod P for prime P, a not divisible by P
    assert(PowModHelper.eval(8191L, Hashing.P - 1L) == 1L)
    // composition: 8191^(a+b) = 8191^a * 8191^b mod P
    val x = PowModHelper.eval(8191L, 123L)
    val y = PowModHelper.eval(8191L, 456L)
    assert(PowModHelper.eval(8191L, 579L) == x * y % Hashing.P)

    // property: the native expression ≡ BigInteger.modPow in the JVM,
    // over the whole long range of bases and non-negative exponents
    import java.math.BigInteger
    import org.apache.spark.sql.graft.Catalyst.{column, expression}
    import org.scalacheck.Gen
    import graft.functions.PowMod
    val P = Hashing.P
    val genBase = Gen.oneOf(Gen.long, Gen.choose(-3L, 3L),
      Gen.oneOf(P - 1, P, P + 1, -P, Long.MinValue, Long.MaxValue, 8191L))
    val genExp = Gen.oneOf(Gen.choose(0L, Long.MaxValue), Gen.choose(0L, 70L),
      Gen.oneOf(P - 2, P - 1, P, Long.MaxValue))
    val fixed = Seq((2L, 10L), (8191L, 0L), (12345L, 1L), (8191L, P - 1L),
      (8191L, 123L), (8191L, 456L), (8191L, 579L))
    Cases.check(Gen.zip(genBase, genExp), fixed) { cases =>
      val modPow = cases.map { case (b, e) =>
        (b, e, BigInteger.valueOf(b).modPow(BigInteger.valueOf(e), BigInteger.valueOf(P))
          .longValueExact())
      }
      modPow.toDF("base", "exp", "expected")
        .filter(column(PowMod(expression($"base"), expression($"exp"))) =!= $"expected")
        .as[(Long, Long, Long)].collect().toSeq
    }
  }

  test("dedupExact: keeps lowest conv_id, counts copies") {
    val t = tx(
      ("a", 0, "user", "hi"), ("a", 1, "assistant", "yo"),
      ("z", 0, "user", "hi"), ("z", 1, "assistant", "yo"), // copy of a
      ("m", 0, "user", "different"))
    val out = Conversations.dedupExact(t).collect()
      .map(r => r.getAs[String]("keep_conv") -> r.getAs[Long]("n_copies")).toMap
    assert(out == Map("a" -> 2L, "m" -> 1L))
  }

  test("qc and lossSpans agree on assistant token accounting") {
    val spans = Conversations.lossSpans(tx(convA: _*))
      .filter(col("trainable"))
      .agg(sum(col("span_end") - col("span_start"))).as[Long].head()
    val qc = Conversations.qc(tx(convA: _*))
      .select("assistant_tokens").as[Long].head()
    assert(spans == qc)
  }
}
