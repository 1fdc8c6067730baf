package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.model.MultilineSpec
import graft.model.MultilineMode._
import graft.operators.Segments
import graft.sources.Transcripts

/** Distributed segment assembly vs the single-threaded FSM model and the
  * metadata carried by assembleFsmRows — randomized properties
  * ([[Cases.check]]) whose fixed cases are the seeded fixtures. `specs`
  * covers all 4 modes with and without start patterns, including the
  * mode and pattern of every multiline query over the raw transcript
  * lines (q_multiline_haltbefore, q_multiline_fsm, q_multiline_through).
  */
class SegmentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Random multi-conversation fixture; seeded, includes blanks/indents. */
  private def randomTurns(seed: Long, convs: Int, maxTurns: Int): Seq[(String, Int, String)] = {
    val rnd = new Random(seed)
    val vocab = Seq("INFO step", "CALL tool=x", "ask about", "  at frame", "", "plain text", "END")
    (0 until convs).flatMap { c =>
      val n = 1 + rnd.nextInt(maxTurns)
      (0 until n).map { t =>
        val base = vocab(rnd.nextInt(vocab.size))
        (f"conv-$c%04d", t, if (base.isEmpty) "" else s"$base ${rnd.nextInt(50)}")
      }
    }
  }

  private def fsmExpected(spec: MultilineSpec, rows: Seq[(String, Int, String)]): Set[(String, Int, String)] =
    rows.groupBy(_._1).flatMap { case (conv, turns) =>
      Segments.runFsm(spec, turns.sortBy(_._2).map(_._3).iterator)
        .map { case (i, r) => (conv, i, r) }
    }.toSet

  /** The seeded fixtures as `fixed` cases: one conversation's lines each. */
  private def fixture(seed: Long, convs: Int, maxTurns: Int): Seq[Seq[String]] =
    randomTurns(seed, convs, maxTurns).groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))

  /** A generated conversation: pattern-bearing lines, blanks, indents,
    * free text, and lines that themselves contain '\n'.
    */
  private val genConv: Gen[Seq[String]] = {
    val vocab = Seq("INFO step", "CALL tool=x", "ask about", "  at frame",
      "plain text", "END", "ERROR boom", "Caused by: x")
    val genLine = Gen.frequency(
      8 -> Gen.zip(Gen.oneOf(vocab), Gen.choose(0, 49)).map { case (b, k) => s"$b $k" },
      1 -> Gen.const(""),
      1 -> Gen.alphaNumStr.map(_.take(6)),
      1 -> Gen.oneOf("INFO a\nb", "  at x\n  at y", "END\n", "\n"))
    Gen.choose(1, 25).flatMap(Gen.listOfN(_, genLine))
  }

  private def convId(c: Int) = f"c$c%04d"

  private def linesDf(convs: Seq[Seq[String]]) =
    convs.zipWithIndex.flatMap { case (ls, c) =>
      ls.zipWithIndex.map { case (l, t) => (convId(c), t, l) }
    }.toDF("conv_id", "turn_idx", "text")

  /** The single-threaded model: (conv_id, record_idx, record, n_lines). */
  private def model(spec: MultilineSpec, convs: Seq[Seq[String]]): Seq[(String, Int, String, Int)] =
    convs.zipWithIndex.flatMap { case (ls, c) =>
      val fsm = new Segments.Fsm(spec)
      ls.foreach(fsm.write)
      fsm.flush().zipWithIndex.map { case ((r, n), i) => (convId(c), i, r, n) }
    }

  /** Rows of `a` missing from `b` and of `b` missing from `a`. */
  private def diff[T](a: Seq[T], b: Seq[T]): Seq[Any] =
    a.diff(b).map(("missing", _)) ++ b.diff(a).map(("extra", _))

  private val specs = Seq(
    MultilineSpec(ContinuePast, "^\\s"),
    MultilineSpec(ContinueThrough, "^\\s"),
    MultilineSpec(ContinueThrough, "^(INFO|CALL|ask)"),
    MultilineSpec(HaltBefore, "^(INFO|CALL|ask)"),
    MultilineSpec(HaltWith, "END"),
    MultilineSpec(ContinuePast, "^\\s", startPattern = Some("^(INFO|CALL)")),
    MultilineSpec(ContinueThrough, "^\\s", startPattern = Some("^(INFO|CALL)")),
    MultilineSpec(HaltBefore, "^(INFO|CALL)", startPattern = Some("^INFO")),
    MultilineSpec(HaltWith, "END", startPattern = Some("^(INFO|END)")),
    MultilineSpec.Java)

  test("assembleFsm matches the single-threaded model across all 4 modes and start patterns") {
    Cases.check(genConv, fixture(seed = 42, convs = 30, maxTurns = 25)) { convs =>
      val df = linesDf(convs)
      specs.flatMap { spec =>
        val got = Segments.assembleFsm(df, spec)
          .as[(String, Int, String, Int)].collect().toSeq
        diff(model(spec, convs), got).map((spec, _))
      }
    }
  }

  test("assembleFsmRows yields assembleFsm's records, each with its first line's metadata") {
    // every line's metadata is a distinct function of (conv, turn), so the
    // record's metadata names the line it came from
    def meta(c: String, t: Int) =
      (s"role-$t", s"tool-$t", new java.sql.Timestamp(1700000000000L + t * 1000L), s"$c/f-$t")
    Cases.check(genConv) { convs =>
      val df = convs.zipWithIndex.flatMap { case (ls, c) =>
        ls.zipWithIndex.map { case (l, t) =>
          val (role, tool, ts, src) = meta(convId(c), t)
          (convId(c), t, l, role, tool, ts, src)
        }
      }.toDF("conv_id", "turn_idx", "text", "role", "tool", "ts", "src_file")
      specs.flatMap { spec =>
        val rows = Segments.assembleFsmRows(df, spec)
          .as[Segments.MetaRow].collect().toSeq
        val plain = Segments.assembleFsm(df, spec)
          .as[(String, Int, String, Int)].collect().toSeq
        // the model's line counts place each record's first line
        val expected = model(spec, convs).groupBy(_._1).toSeq.flatMap { case (c, recs) =>
          recs.zip(recs.scanLeft(0)(_ + _._4)).map { case (r, first) =>
            val (role, tool, ts, src) = meta(c, first)
            (c, r._2, role, tool, ts, src)
          }
        }
        (diff(plain.map(r => (r._1, r._2, r._3)), rows.map(r => (r.conv_id, r.turn_idx, r.text))) ++
          diff(expected, rows.map(r => (r.conv_id, r.turn_idx, r.role, r.tool, r.ts, r.src_file))))
          .map((spec, _))
      }
    }
  }

  test("mega-conversation skew: ordering invariant holds under repartition") {
    // one 5k-turn conversation among 50 small ones
    val df = Transcripts.synthesize(spark, numConvs = 50, turnsPerConv = 8,
      megaTurns = 5000, numPartitions = 8).toDF()
    val spec = MultilineSpec(HaltBefore, "^(INFO|CALL|ask)")
    val got = Segments.assembleFsm(df, spec)
    val rows = df.select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().toSeq
    val expected = fsmExpected(spec, rows)
    assert(got.as[(String, Int, String, Int)].collect()
      .map(r => (r._1, r._2, r._3)).toSet == expected)
    // total line conservation: sum of n_lines == input rows
    val totalLines = got.agg(sum("n_lines")).as[Long].head()
    assert(totalLines == rows.size)
  }
}
