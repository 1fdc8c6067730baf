package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{MultilineMode, MultilineSpec, Turn}
import graft.streaming.TranscriptStream

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def turn(conv: String, idx: Int, text: String): Turn =
    Turn(conv, idx, "assistant", text, "", new Timestamp(1700000000000L + idx * 60000L))

  test("stateful multiline assembly across micro-batches keeps the open buffer") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val spec = MultilineSpec(MultilineMode.HaltBefore, "^(INFO|CALL)")
    val q = TranscriptStream.assembleStream(in.toDS(), spec)
      .writeStream.format("memory").queryName("seg_out")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: record opens but does not close
      in.addData(turn("c1", 0, "INFO a"), turn("c1", 1, "detail 1"))
      q.processAllAvailable()
      assert(spark.table("seg_out").count() == 0)

      // batch 2: a new header closes the first record; buffer carries over
      in.addData(turn("c1", 2, "detail 2"), turn("c1", 3, "INFO b"), turn("c1", 4, "d3"))
      q.processAllAvailable()
      val rows = spark.table("seg_out")
        .as[(String, Int, String)].collect().toSet
      assert(rows == Set(("c1", 0, "INFO a\ndetail 1\ndetail 2")))

      // batch 3: another conversation interleaves independently
      in.addData(turn("c2", 0, "INFO x"), turn("c2", 1, "INFO y"))
      q.processAllAvailable()
      val rows2 = spark.table("seg_out").as[(String, Int, String)].collect().toSet
      assert(rows2 == Set(
        ("c1", 0, "INFO a\ndetail 1\ndetail 2"),
        ("c2", 0, "INFO x")))
    } finally q.stop()
  }

  test("out-of-order and gapped arrivals assemble in turn order via pending state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val spec = MultilineSpec(MultilineMode.HaltBefore, "^(INFO|CALL)")
    val q = TranscriptStream.assembleStream(in.toDS(), spec)
      .writeStream.format("memory").queryName("seg_ooo_out")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1 arrives shuffled AND with a gap: turn 3 present, turn 2
      // missing — the FSM must consume 0,1 only and hold 3 in pending
      in.addData(turn("c1", 3, "INFO c"), turn("c1", 1, "detail 1"),
        turn("c1", 0, "INFO a"))
      q.processAllAvailable()
      assert(spark.table("seg_ooo_out").count() == 0)

      // the gap row arrives late; 2 then 3 drain from pending, closing two
      // records ("INFO a\ndetail 1" at the INFO b header, "INFO b" at INFO c)
      in.addData(turn("c1", 2, "INFO b"))
      q.processAllAvailable()
      val rows = spark.table("seg_ooo_out").as[(String, Int, String)].collect().toSet
      assert(rows == Set(
        ("c1", 0, "INFO a\ndetail 1"),
        ("c1", 1, "INFO b")))
    } finally q.stop()
  }

  test("a 1-based (non-zero-indexed) stream emits from its first-seen index") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val spec = MultilineSpec(MultilineMode.HaltBefore, "^(INFO|CALL)")
    val q = TranscriptStream.assembleStream(in.toDS(), spec)
      .writeStream.format("memory").queryName("seg_onebased_out")
      .outputMode(OutputMode.Append).start()
    try {
      // the conversation's indexes start at 1 — with a hard 0-based cursor
      // every row would park in pending forever; the seed makes it flow
      in.addData(turn("c1", 1, "INFO a"), turn("c1", 2, "detail 1"))
      q.processAllAvailable()
      in.addData(turn("c1", 3, "INFO b"), turn("c1", 4, "detail 2"))
      q.processAllAvailable()
      val rows = spark.table("seg_onebased_out")
        .as[(String, Int, String)].collect().toSet
      assert(rows == Set(("c1", 0, "INFO a\ndetail 1")))
    } finally q.stop()
  }

  test("seed drops are observable; seedCursor=false keeps the strict 0-based cursor") {
    implicit val sqlCtx = spark.sqlContext
    // flavor A: seeded (default) with the drop counter — a 0-based
    // conversation whose head arrives AFTER the seed loses it, COUNTED
    val drops = spark.sparkContext.longAccumulator("seed-drops")
    val in = MemoryStream[Turn]
    val spec = MultilineSpec(MultilineMode.HaltBefore, "^(INFO|CALL)")
    val q = TranscriptStream.assembleStream(in.toDS(), spec,
      droppedBelowSeed = Some(drops))
      .writeStream.format("memory").queryName("seed_obs_out")
      .outputMode(OutputMode.Append).start()
    try {
      // first batch reordered: [2,3] land before [0,1] — seed = 1
      in.addData(turn("c1", 2, "INFO b"), turn("c1", 3, "detail b"))
      q.processAllAvailable()
      assert(drops.value == 0)
      // the head turns arrive late: below the seed → dropped AND counted
      in.addData(turn("c1", 0, "INFO a"), turn("c1", 1, "detail a"))
      q.processAllAvailable()
      assert(drops.value == 2)
      // a legit replay of an already-consumed turn is NOT a seed drop
      in.addData(turn("c1", 2, "INFO b"))
      q.processAllAvailable()
      assert(drops.value == 2)
    } finally q.stop()

    // flavor B: strict cursor — the same arrival order loses nothing;
    // rows park until turn 0 arrives, then assemble in full order
    val in2 = MemoryStream[Turn]
    val q2 = TranscriptStream.assembleStream(in2.toDS(), spec, seedCursor = false)
      .writeStream.format("memory").queryName("seed_strict_out")
      .outputMode(OutputMode.Append).start()
    try {
      in2.addData(turn("s1", 2, "INFO b"), turn("s1", 3, "detail b"))
      q2.processAllAvailable()
      assert(spark.table("seed_strict_out").count() == 0) // parked, not emitted
      in2.addData(turn("s1", 0, "INFO a"), turn("s1", 1, "detail a"))
      q2.processAllAvailable()
      val rows = spark.table("seed_strict_out").as[(String, Int, String)].collect().toSet
      assert(rows == Set(("s1", 0, "INFO a\ndetail a"))) // head intact, INFO b open
    } finally q2.stop()
  }

  test("a backfill-sized conversation in one batch streams through the FSM") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val spec = MultilineSpec(MultilineMode.HaltBefore, "^INFO")
    val q = TranscriptStream.assembleStream(in.toDS(), spec)
      .writeStream.format("memory").queryName("seg_bulk_out")
      .outputMode(OutputMode.Append).start()
    try {
      // 5000 turns of one conversation land in a single micro-batch —
      // the r2 implementation buffered them all on the task heap; the
      // MapState drain holds one row at a time. Every 5th turn opens a
      // record, so 999 records close (the 1000th stays buffered).
      val turns = (0 until 5000).map { i =>
        turn("big", i, if (i % 5 == 0) s"INFO h${i / 5}" else s"d$i")
      }
      in.addData(scala.util.Random.shuffle(turns))
      q.processAllAvailable()
      val rows = spark.table("seg_bulk_out").as[(String, Int, String)].collect()
      assert(rows.length == 999)
      assert(rows.map(_._2).sorted.toSeq == (0 until 999))
      // spot-check record reassembly in turn order despite shuffled input
      val r0 = rows.find(_._2 == 0).get._3
      assert(r0 == "INFO h0\nd1\nd2\nd3\nd4")
    } finally q.stop()
  }

  test("idle-timeout flush emits the open buffer as an at-least-once record") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val spec = MultilineSpec(MultilineMode.HaltBefore, "^(INFO|CALL)")
    val q = TranscriptStream.assembleStream(in.toDS(), spec, idleTimeoutMs = Some(300L))
      .writeStream.format("memory").queryName("seg_timeout_out")
      .outputMode(OutputMode.Append).start()
    // the engine fires timeout batches on its own wall clock — poll, don't
    // processAllAvailable-and-assert (that races the auto-flush)
    def pollRows(atLeast: Int): Set[(String, Int, String)] = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      var rows = Set.empty[(String, Int, String)]
      while (rows.size < atLeast && System.nanoTime() < deadline) {
        rows = spark.table("seg_timeout_out").as[(String, Int, String)].collect().toSet
        if (rows.size < atLeast) Thread.sleep(100L)
      }
      rows
    }
    try {
      // NOTE: no processAllAvailable here — with TimeMode.ProcessingTime
      // the engine keeps running timer-check batches, so "all available"
      // never becomes true; the sink is polled instead.

      // record opens but never closes — with NoTimeout this would wait
      // forever; the idle timeout must flush it without any further input
      in.addData(turn("t1", 0, "INFO a"), turn("t1", 1, "detail 1"))
      assert(pollRows(1) == Set(("t1", 0, "INFO a\ndetail 1")))

      // lines arriving AFTER the flush start a fresh record (the
      // at-least-once split) with the record index advanced past the flush;
      // "INFO b" closes the post-flush record "detail 2" as idx 1; the
      // open "INFO b" buffer then times out on its own as idx 2
      in.addData(turn("t1", 2, "detail 2"), turn("t1", 3, "INFO b"))
      assert(pollRows(3) == Set(
        ("t1", 0, "INFO a\ndetail 1"),
        ("t1", 1, "detail 2"),
        ("t1", 2, "INFO b")))
    } finally q.stop()
  }

  test("idle-timeout flush rescues gap-stranded pending rows in turn order") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val spec = MultilineSpec(MultilineMode.HaltBefore, "^(INFO|CALL)")
    val q = TranscriptStream.assembleStream(in.toDS(), spec, idleTimeoutMs = Some(300L))
      .writeStream.format("memory").queryName("seg_gap_out")
      .outputMode(OutputMode.Append).start()
    def pollRows(atLeast: Int): Set[(String, Int, String)] = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      var rows = Set.empty[(String, Int, String)]
      while (rows.size < atLeast && System.nanoTime() < deadline) {
        rows = spark.table("seg_gap_out").as[(String, Int, String)].collect().toSet
        if (rows.size < atLeast) Thread.sleep(100L)
      }
      rows
    }
    try {
      // turn 1 never arrives: 0 reaches the FSM, 2 parks in pending state.
      // The idle timeout must drain the stranded row (accepting the gap)
      // and flush "INFO a\ndetail 2" instead of stalling forever.
      in.addData(turn("g1", 0, "INFO a"), turn("g1", 2, "detail 2"))
      assert(pollRows(1) == Set(("g1", 0, "INFO a\ndetail 2")))
    } finally q.stop()
  }

  test("streaming exact dedup: first copy of each text passes, replays drop") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val q = TranscriptStream.dedupStream(in.toDS())
      .writeStream.format("memory").queryName("dedup_stream_out")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: a within-batch duplicate — one survivor
      in.addData(turn("c1", 0, "alpha beta"), turn("c1", 1, "gamma"),
        turn("c2", 0, "alpha beta"))
      q.processAllAvailable()
      val r1 = spark.table("dedup_stream_out")
        .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
      assert(r1.map(_._2).size == 2 && r1.exists(_._2 == 1))
      assert(r1.count(_ == ("c2", 0)) + r1.count(_ == ("c1", 0)) == 1)
      // batch 2: a cross-batch replay drops, new content passes — the
      // streaming analogue of the incremental store's idempotent replay
      in.addData(turn("c3", 0, "gamma"), turn("c3", 1, "delta"))
      q.processAllAvailable()
      val r2 = spark.table("dedup_stream_out")
        .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect()
      assert(r2.count(_._3 == "gamma") == 1)
      assert(r2.exists(r => r._1 == "c3" && r._3 == "delta"))
      assert(r2.length == 3)
    } finally q.stop()
  }

  test("streaming near-dup dedup: planted near-duplicates drop across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-nd-stream").toString
    val longA = "alpha " + (0 until 15).map(i => s"w$i").mkString(" ")
    val longB = "bravo " + (0 until 15).map(i => s"v$i").mkString(" ")
    val delivered = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val in = MemoryStream[Turn]
    val q = TranscriptStream.dedupStreamNearDup(in.toDS(), store,
      bands = 8, rowsPerBand = 2, threshold = 0.6) { (df, bid) =>
      delivered.synchronized {
        delivered ++= df.select("text").collect().map(r => bid -> r.getString(0))
      }
    }
    try {
      // batch 1: longA + a within-batch near-dup of it — one survivor
      in.addData(turn("c1", 0, longA), turn("c2", 0, longA + " tail tail"))
      q.processAllAvailable()
      assert(delivered.map(_._2).toSet == Set(longA))

      // batch 2: a cross-batch near-dup and an exact replay both drop;
      // genuinely new content passes
      in.addData(turn("c3", 0, longA + " tail"), turn("c4", 0, longA),
        turn("c5", 0, longB))
      q.processAllAvailable()
      assert(delivered.map(_._2).toSet == Set(longA, longB))

      // batch 3: replays of everything → nothing new
      in.addData(turn("c6", 0, longA + " tail tail"), turn("c7", 0, longB))
      q.processAllAvailable()
      assert(delivered.size == 2)
    } finally q.stop()
  }

  test("a retraction between micro-batches reopens retracted content for the stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-nd-retract").toString
    val longA = "alpha " + (0 until 15).map(i => s"w$i").mkString(" ")
    // a provenanced BATCH run seeds the shared store with longA from f1 —
    // the mixed batch+streaming campaign the store format is for
    val seed = Seq(("f1#0", longA, "f1")).toDF("id", "text", "src")
    val seeded = graft.operators.Dedup.incrementalMinhashStaged(seed,
      "id", "text", store, bands = 8, rowsPerBand = 2, threshold = 0.6,
      srcCol = Some("src"))
    assert(seeded.fresh.count() == 1)
    seeded.commit()

    val delivered = scala.collection.mutable.ArrayBuffer.empty[String]
    val in = MemoryStream[Turn]
    val q = TranscriptStream.dedupStreamNearDup(in.toDS(), store,
      bands = 8, rowsPerBand = 2, threshold = 0.6) { (df, _) =>
      delivered.synchronized {
        delivered ++= df.select("text").collect().map(_.getString(0))
      }
    }
    try {
      // batch 1: the seeded content and a near-dup of it — both suppressed
      in.addData(turn("c1", 0, longA), turn("c2", 0, longA + " tail tail"))
      q.processAllAvailable()
      assert(delivered.isEmpty)

      // f1 is invalidated between micro-batches: the batch pipeline
      // retracts its provenance — no sink holds longA any more
      graft.operators.Dedup.retractSources(spark, store, Seq("f1"))

      // batch 2: the same content is deliverable again, exactly once
      in.addData(turn("c3", 0, longA), turn("c4", 0, longA + " tail tail"))
      q.processAllAvailable()
      assert(delivered.toSeq == Seq(longA))

      // batch 3: and the stream's own commit now suppresses replays
      in.addData(turn("c5", 0, longA))
      q.processAllAvailable()
      assert(delivered.toSeq == Seq(longA))
    } finally q.stop()
  }

  test("windowed tool usage with watermark over a streaming source") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val q = TranscriptStream.windowedToolUsage(in.toDS().toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    try {
      val base = 1700000000000L
      in.addData(
        Turn("c1", 0, "tool", "CALL tool=exec", "exec", new Timestamp(base)),
        Turn("c1", 1, "tool", "CALL tool=exec", "exec", new Timestamp(base + 5 * 60000L)),
        Turn("c1", 2, "tool", "CALL tool=read", "read", new Timestamp(base + 12 * 60000L)))
      q.processAllAvailable()
      // advance watermark far enough to close the earlier windows
      in.addData(Turn("c9", 0, "tool", "CALL tool=plan", "plan",
        new Timestamp(base + 120 * 60000L)))
      q.processAllAvailable()
      // 10-min windows align to the epoch: base mod 600000 = 200000, so the
      // first window starts at base-200000 and covers both exec calls
      val rows = spark.table("win_out")
        .as[(Timestamp, String, Long)].collect()
        .map(r => (r._1.getTime - base, r._2, r._3)).toSet
      assert(rows.contains((-200000L, "exec", 2L)))
      assert(rows.contains((400000L, "read", 1L)))
    } finally q.stop()
  }

  test("stateless parse+route stages compose onto a stream unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val routed = TranscriptStream.parseAndRoute(in.toDS().toDF())
    val q = routed.writeStream.format("memory").queryName("route_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        turn("c1", 0, "ask something"),
        Turn("c1", 1, "tool", "CALL tool=exec k=1 dur=5ms status=ok", "exec",
          new Timestamp(1700000000000L)),
        turn("c1", 2, ""))
      q.processAllAvailable()
      val keys = spark.table("route_out").select("route_key")
        .as[String].collect().sorted.toSeq
      // blank row dropped; tool row fans out to role: + tool:
      assert(keys == Seq("role:assistant", "role:tool", "tool:exec"))
    } finally q.stop()
  }

  test("source mixing composes onto a stream: same survivors as batch") {
    // the mixer is a stateless broadcast-join + hash filter, so it must
    // apply to a readStream unchanged and agree with the batch blend per
    // micro-batch — the incremental-ingest face of corpus blending
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val rates = Map("s0" -> 1000, "s1" -> 300, "s2" -> 0)
    val in = MemoryStream[(Long, String)]
    val mixed = graft.operators.Mixing.mixBySource(
      in.toDS().toDF("id", "src"), col("id"), col("src"), rates)
    val q = mixed.writeStream.format("memory").queryName("mix_out")
      .outputMode(OutputMode.Append).start()
    try {
      val rows = (0L until 300L).map(i => (i, s"s${i % 3}"))
      in.addData(rows.take(150): _*)
      q.processAllAvailable()
      in.addData(rows.drop(150): _*)
      q.processAllAvailable()
      val streamed = spark.table("mix_out").select("id")
        .as[Long].collect().toSet
      val batch = graft.operators.Mixing.mixBySource(
          rows.toDF("id", "src"), col("id"), col("src"), rates)
        .select("id").as[Long].collect().toSet
      assert(streamed == batch)
      assert(streamed.exists(_ % 3 == 1) && !streamed.exists(_ % 3 == 2))
    } finally q.stop()
  }

  test("streaming conversation QC equals batch qc after the idle flush") {
    implicit val sqlCtx = spark.sqlContext
    def t(conv: String, idx: Int, role: String, text: String): Turn =
      Turn(conv, idx, role, text, "",
        new Timestamp(1700000000000L + idx * 60000L))
    // c1: well-formed but delivered OUT OF ORDER across two batches,
    // with a blank turn; c2: starts with assistant, adjacent tool turns
    // (one alternation violation), one failed tool call
    val all = Seq(
      t("c1", 0, "user", "hi there"), t("c1", 1, "assistant", "hello world ok"),
      t("c1", 2, "user", ""), t("c1", 3, "assistant", "bye"),
      t("c2", 0, "assistant", "x y"), t("c2", 1, "tool", "status=err boom"),
      t("c2", 2, "tool", "fine"))
    val in = MemoryStream[Turn]
    // 3s idle window: long enough that the two back-to-back addData
    // batches land before the timer under this microVM's steal stalls
    // (a premature flush would split c1 into two partial reports), short
    // enough that the poll below converges quickly
    val q = TranscriptStream.qcStream(in.toDS(), idleTimeoutMs = 3000L)
      .writeStream.format("memory").queryName("qc_out")
      .outputMode(OutputMode.Append).start()
    def asTuples(df: org.apache.spark.sql.DataFrame)
        : Set[(String, Long, Boolean, Long, Long, Long, Long, Long, Double)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getDouble(8))).toSet
    def poll(atLeast: Int)
        : Set[(String, Long, Boolean, Long, Long, Long, Long, Long, Double)] = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      var rows = Set.empty[(String, Long, Boolean, Long, Long, Long, Long, Long, Double)]
      while (rows.size < atLeast && System.nanoTime() < deadline) {
        rows = asTuples(spark.table("qc_out"))
        if (rows.size < atLeast) Thread.sleep(100L)
      }
      rows
    }
    try {
      // later turns first: they must park in state, then drain in order
      in.addData(all.filter(x => x.conv_id == "c1" && x.turn_idx >= 2): _*)
      in.addData(all.filterNot(x => x.conv_id == "c1" && x.turn_idx >= 2): _*)
      val streamed = poll(2)
      val batch = asTuples(graft.operators.Conversations.qc(all.toDF())
        .select("conv_id", "n_turns", "starts_with_user", "n_blank",
          "n_role_repeats", "n_err_calls", "assistant_tokens",
          "total_tokens", "trainable_frac"))
      assert(streamed == batch)
      // spot-check the fixture actually exercises the gates
      val c2 = streamed.find(_._1 == "c2").get
      assert(!c2._3 && c2._5 == 1L && c2._6 == 1L)
    } finally q.stop()
  }

  test("cardinality registers stream: live sketch equals the batch sketch") {
    // Cardinality.registers is a pure select + max-aggregate, so it
    // composes UNCHANGED onto a stream: bounded state (≤ m register rows,
    // monotone max — the mergeability that makes the sketch the streaming
    // sizing answer). Two overlapping micro-batches must converge to the
    // batch registers/estimate over the union.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, concat, lit}
    val in = MemoryStream[Long]
    val regs = graft.operators.Cardinality.registers(
      in.toDS().toDF("id"), concat(lit("item-"), col("id")))
    val q = regs.writeStream.format("memory").queryName("card_regs")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(0L until 500L: _*)
      q.processAllAvailable()
      in.addData(250L until 1000L: _*) // overlap: duplicates must not move it
      q.processAllAvailable()
      val streamedRegs = spark.table("card_regs")
      val batchRegs = graft.operators.Cardinality.registers(
        spark.range(0, 1000).toDF("id"), concat(lit("item-"), col("id")))
      val s = streamedRegs.as[(Long, Int)].collect().toMap
      val b = batchRegs.as[(Long, Int)].collect().toMap
      assert(s == b)
      val es = graft.operators.Cardinality.estimate(streamedRegs).head()
      val eb = graft.operators.Cardinality.estimate(batchRegs).head()
      assert(es.getLong(0) == eb.getLong(0) && es.getDouble(1) == eb.getDouble(1))
    } finally q.stop()
  }
}
