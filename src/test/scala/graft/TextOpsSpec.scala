package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** Pins the new text-pipeline operators: Gopher repetition stats, PII
  * scrubbing, sliding-window chunking. The DuckDB oracle covers exact
  * cross-engine values; these tests pin the operator-level invariants.
  */
class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("repetition: planted repeated lines raise dup_line_frac; bigram share bounded") {
    val vocab = (0 until 30).map(j => s"w${(j * 13) % 25}")
    val clean = (0L until 8L).map(i => (i, vocab.drop((i % 5).toInt).mkString(" ")))
    val line = (0 until 10).map(j => s"r$j").mkString(" ")
    // doc 100: the same 10-token line four times -> 3 of 4 lines duplicate
    val planted = Seq((100L, Seq.fill(4)(line).mkString(" ")))
    val df = (clean ++ planted).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(df, "doc_id", "text")
      .select("doc_id", "n_lines", "dup_line_frac", "top_bigram_frac")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(100L)._2 == 4L)
    assert(out(100L)._3 == 0.75)
    // every bigram share is a valid fraction and the planted doc's dominant
    // bigram ("r9 r0" appears 3x of 39) beats any clean doc's share
    out.values.foreach(r => assert(r._4 >= 0.0 && r._4 <= 1.0))
    assert(out(100L)._4 > 0.0)
    // clean docs have no repeated 10-token lines
    assert(clean.forall { case (i, _) => out(i)._3 == 0.0 })
  }

  test("piiScrub: counts the planted families and leaves no residual matches") {
    val df = Seq(
      (1L, "plain words only"),
      (2L, "mail a@b.io and c.d@e-f.org ip 10.0.0.1 tel 555-1234"),
      (3L, "edge 999.999.999.999 still shaped like an ip")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(df, "text")
      .select("doc_id", "n_email", "n_ip", "n_phone", "scrubbed")
      .as[(Long, Int, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 0, 0, 0, "plain words only")))
    assert(out(2L)._2 == 2 && out(2L)._3 == 1 && out(2L)._4 == 1)
    assert(out(2L)._5 == "mail <EMAIL> and <EMAIL> ip <IP> tel <PHONE>")
    assert(out(3L)._3 == 1) // shape-based, not semantic, redaction
    // no family's pattern survives its own scrub
    val residual = TextAnalysis.piiScrub(
      TextAnalysis.piiScrub(df, "text").select($"doc_id", $"scrubbed".as("text")), "text")
      .agg(sum($"n_email" + $"n_ip" + $"n_phone")).as[Long].head()
    assert(residual == 0L)
  }

  test("incremental exact dedup: cross-batch store, idempotent replay, crash-safe commit") {
    import graft.operators.Dedup
    val store = java.nio.file.Files.createTempDirectory("graft-incdedup").toString
    val b1 = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    val r1 = Dedup.incrementalExact(b1, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(r1 == Seq(1L, 2L)) // within-batch dup (3) dropped, min id kept
    // batch 2: one repeat of batch 1, one new doc
    val b2 = Seq((10L, "gamma delta"), (11L, "epsilon zeta")).toDF("doc_id", "text")
    val r2 = Dedup.incrementalExact(b2, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSeq
    assert(r2 == Seq(11L))
    // replaying batch 2 (crash-and-retry) yields nothing new
    val r3 = Dedup.incrementalExact(b2, "doc_id", "text", store)
    assert(r3.isEmpty)
    // a leftover _tmp dir (crash mid-commit) is never read as seen state;
    // beside the commit dirs the root holds only the store's `_meta`
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .forall(st => st.getPath.getName.startsWith("seen-") || st.getPath.getName == "_meta"))
  }

  test("incremental exact dedup: seen-dir count stays bounded by compaction") {
    import graft.operators.Dedup
    val store = java.nio.file.Files.createTempDirectory("graft-incdedup-compact").toString
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // LIVE dirs only: compaction retires superseded dirs in place
    // (retention-delayed delete), and readers skip `_retired` dirs —
    // boundedness is about the reader-side union
    def seenDirs(): Seq[String] =
      Dedup.listSeen(fs, new org.apache.hadoop.fs.Path(store))
        .map(_.getName)
    for (k <- 0 until 8) {
      val b = Seq((k.toLong, s"content $k")).toDF("doc_id", "text")
      assert(Dedup.incrementalExact(b, "doc_id", "text", store, maxSeenDirs = 3)
        .count() == 1L)
      // stage-time compaction: bound holds up to the batch's own new dir
      assert(seenDirs().size <= 4, s"after batch $k: ${seenDirs()}")
    }
    // the compacted store still holds every batch's content
    val all = (0 until 8).map(k => (100L + k, s"content $k")).toDF("doc_id", "text")
    assert(Dedup.incrementalExact(all, "doc_id", "text", store, maxSeenDirs = 3).isEmpty)
  }

  test("chunkWindows: chunks tile [0, n) with stride overlap and clamped tail") {
    val df = Seq((1L, 30L), (2L, 64L), (3L, 65L), (4L, 200L)).toDF("doc_id", "n")
    val out = TextAnalysis.chunkWindows(df, "doc_id", "n", window = 64L, stride = 48L)
      .select("doc_id", "chunk_id", "start_tok", "end_tok", "n_tok")
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // n <= window -> exactly one chunk covering [0, n)
    assert(out(1L).toSeq == Seq((1L, 0L, 0L, 30L, 30L)))
    assert(out(2L).toSeq == Seq((2L, 0L, 0L, 64L, 64L)))
    // one token past the window forces a second, overlapping chunk
    assert(out(3L).toSeq == Seq((3L, 0L, 0L, 64L, 64L), (3L, 1L, 48L, 65L, 17L)))
    // general case: starts advance by the stride, ends clamp at n, and the
    // union of [start, end) covers [0, n) with no gap
    val c4 = out(4L)
    assert(c4.map(_._3).toSeq == c4.indices.map(_ * 48L))
    assert(c4.last._4 == 200L)
    c4.sliding(2).foreach { w => if (w.length == 2) assert(w(1)._3 < w(0)._4) }
  }
}
