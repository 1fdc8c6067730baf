package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, StatefulProcessorHandle, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.model.{MultilineSpec, Turn}
import graft.operators.{Parse, Route, Segments}
import graft.operators.Dedup.{StoreBands, StoreNgram, StoreRowsPerBand, StoreThreshold}

/** Structured Streaming flavor of the engine — the "tail -f" capability the
  * batch pipeline supplies via resumable runs, expressed natively:
  * `readStream` → the same stateless parse/route stages → watermarked
  * windowed aggregates, plus a stateful multiline assembler via
  * `transformWithState` whose carried state is exactly the FSM's open
  * buffer (the reference's MultilineReader.buf,
  * internal/tailer/multline_reader.go:28) plus a turn_idx-keyed pending
  * map for out-of-order arrivals.
  */
object TranscriptStream {

  /** Hoisted once — per-turn Pattern.compile in the QC drain would double
    * the per-record cost for short texts (the WinnowHashesHelper pattern).
    */
  private val qcWs = java.util.regex.Pattern.compile("\\s+")

  /** Per-conversation streaming FSM state: the open buffer + next record
    * idx + the cursor. `seedIdx` records where a seed-started conversation
    * began (-1 = started strictly at turn 0), so later arrivals BELOW the
    * seed — head turns the seeding permanently dropped — are detectable.
    */
  final case class SegState(buf: List[String], nextIdx: Int, lastTurn: Int,
      seedIdx: Int = -1)

  final case class SegRecord(conv_id: String, record_idx: Int, record: String)

  /** The stateless stages compose unchanged onto a streaming DataFrame —
    * parse and route are pure row transforms.
    */
  def parseAndRoute(stream: DataFrame): DataFrame =
    Route.routed(Parse.parseTurns(stream))

  /** Watermarked per-window per-tool usage counts (A5/A6 metric analogue in
    * motion): 10-minute event-time windows, 30-minute lateness bound.
    */
  def windowedToolUsage(stream: DataFrame): DataFrame =
    stream
      .filter(col("tool") =!= "")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("tool"))
      .agg(count(lit(1)).as("n_calls"))
      .select(col("window.start").as("w_start"), col("tool"), col("n_calls"))

  /** Streaming exact content-dedup — the in-motion face of the batch
    * pipeline's incremental dedup store
    * ([[graft.operators.Dedup.incrementalExactStaged]]): the first turn
    * carrying each distinct text passes, every later copy is dropped,
    * with Spark's stateful dedup operator holding the seen-set. State
    * carries ONE 8-byte sha60 per distinct text (the same key the batch
    * store persists), never the text itself — keying the operator on the
    * raw text column would put whole documents in the state store.
    *
    * `watermarkDelay = Some(d)` bounds state to the watermark horizon
    * (`dropDuplicatesWithinWatermark`): duplicates arriving within `d` of
    * the original are dropped, state older than the horizon is evicted —
    * the unbounded-campaign trade-off made explicit. `None` keeps exact
    * global dedup with state growing one key per distinct text
    * (backfills / bounded corpora).
    */
  def dedupStream(turns: Dataset[Turn],
      watermarkDelay: Option[String] = None): Dataset[Turn] = {
    import turns.sparkSession.implicits._
    val keyed = turns.withColumn("__h60",
      graft.functions.Hashing.sha60(col("text")))
    val deduped = watermarkDelay match {
      case Some(d) =>
        keyed.withWatermark("ts", d).dropDuplicatesWithinWatermark("__h60")
      case None => keyed.dropDuplicates("__h60")
    }
    deduped.drop("__h60").as[Turn]
  }

  /** Streaming NEAR-dup dedup — the in-motion face of the incremental
    * MinHash store ([[graft.operators.Dedup.incrementalMinhashStaged]]):
    * each micro-batch is exact-deduped, near-dedup'd within itself (banded
    * LSH candidates, exact-Jaccard verified), anti-joined against every
    * band any earlier batch committed, and its survivors handed to `sink`;
    * the store commits AFTER the sink returns.
    *
    * Deliberately `foreachBatch` + the persisted store rather than a
    * `transformWithState` keyed on band hash: a doc's B band rows land on
    * B different keys, so a per-bucket stateful operator cannot decide
    * "drop iff ANY bucket verified a near-dup" without a second stateful
    * aggregation over doc ids — a multi-stateful-operator chain — while
    * the batch operator already expresses the whole candidate/verify
    * topology per micro-batch AND shares the oracled store format with the
    * batch pipeline (one campaign can mix batch and streaming runs against
    * the same store). State is the store's integer band rows + 8-byte
    * hashes — never document text.
    *
    * Delivery is foreachBatch's at-least-once: a crash between `sink` and
    * `commit` re-delivers that batch's survivors on replay (the staged
    * commit keeps the store consistent — a replay against a COMMITTED
    * store yields zero survivors, so duplicates end at the crash window).
    * Sinks keyed by `batchId` (e.g. partitioned writes) are exactly-once.
    */
  def dedupStreamNearDup(turns: Dataset[Turn], storeDir: String,
      n: Int = StoreNgram, bands: Int = StoreBands, rowsPerBand: Int = StoreRowsPerBand,
      threshold: Double = StoreThreshold,
      /** Streaming checkpoint location — REQUIRED in production for the
        * "at-least-once bounded to one crash" contract: without it the
        * engine's temp checkpoint dies with the process and a restart
        * replays the whole source (still no duplicate deliveries — the
        * store anti-joins replays away — but every batch re-runs).
        */
      checkpointLocation: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = turns.writeStream
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        if (!batch.isEmpty) {
          val withId = batch.toDF().withColumn("__id",
            concat_ws("#", col("conv_id"), col("turn_idx").cast("string")))
          val staged = graft.operators.Dedup.incrementalMinhashStaged(
            withId, "__id", "text", storeDir, n, bands, rowsPerBand, threshold)
          // materialize survivors BEFORE commit: commit releases the
          // stage's caches, and `sink` reads blocks instead of re-running
          // the stage
          val fresh = staged.fresh.drop("__id").localCheckpoint(true)
          sink(fresh, batchId)
          staged.commit()
        }
      }
    checkpointLocation.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }

  /** Stateful multiline assembly over a stream of turns: one group per
    * conversation. Completed records are emitted append-mode; the open
    * buffer rides in state until a later batch closes it — exactly the
    * reference's "no flush until the record closes" semantics.
    *
    * `idleTimeoutMs = None`: no wall-clock flush — exactly-once, but an
    * abandoned conversation never emits its tail. `Some(ms)` adds the
    * reference's A2 idle-timeout flush
    * (internal/tailer/multline_reader.go:74-114): a conversation idle past
    * `ms` flushes its open buffer as a (possibly partial) record. That is
    * explicitly an AT-LEAST-ONCE window (README.md:250-262): lines
    * arriving after the flush start a fresh record, so a consumer may see
    * one logical record split in two. The flush is one processing-time
    * timer per conversation, re-armed on every data batch
    * (`transformWithState` timers, `TimeMode.ProcessingTime`); it
    * requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    *
    * SIZING: a micro-batch's rows are never materialized on the task heap.
    * Out-of-order arrivals park in a RocksDB-backed `MapState` keyed by
    * `turn_idx` ([[OrderedTurns]]), and the FSM consumes the contiguous
    * prefix one row at a time — so even a historical backfill that lands
    * a mega-conversation in a single batch streams through in O(open
    * buffer) heap (the r2 per-batch `toSeq.sortBy` constraint, closed
    * structurally). Requires dense per-conversation `turn_idx` (the
    * transcript model): a gap holds later rows in state until the gap row
    * arrives, mirroring the reference's strictly sequential file reads,
    * where gaps cannot exist (internal/tailer/tail_reader.go:159-215).
    * Feed this operator the RAW turn stream (filter/route AFTER assembly —
    * the batch pipeline's order) so upstream filters can't manufacture
    * gaps; when rows can genuinely go missing, set `idleTimeoutMs`, whose
    * flush drains gap-stranded rows instead of waiting forever.
    *
    * `seedCursor = false` keeps the STRICT 0-based cursor: a new
    * conversation's rows park until turn 0 arrives, so no head turn can
    * ever be dropped (at the cost of withholding all output from sources
    * whose indices don't start at 0). `droppedBelowSeed`, when given,
    * counts rows a seed-started conversation dropped because they arrived
    * below its seed — the observable signal that seeding lost head turns.
    * At-least-once: re-deliveries of an already-dropped head turn (and
    * replayed task attempts) increment it again — nonzero means head loss
    * happened; the magnitude is an upper bound, not an exact count.
    */
  def assembleStream(turns: Dataset[Turn], spec: MultilineSpec,
      idleTimeoutMs: Option[Long] = None, seedCursor: Boolean = true,
      droppedBelowSeed: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[SegRecord] = {
    import turns.sparkSession.implicits._
    turns.groupByKey(_.conv_id)
      .transformWithState(
        new SegmentProcessor(spec, idleTimeoutMs, seedCursor, droppedBelowSeed),
        if (idleTimeoutMs.isEmpty) TimeMode.None() else TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** Running per-conversation QC counters — everything
    * [[graft.operators.Conversations.qc]] reports, carried as integers so
    * streaming state never holds turn text beyond the out-of-order
    * parking map.
    */
  final case class QcState(lastTurn: Int, lastRole: String, nTurns: Long,
      nBlank: Long, nRepeats: Long, nErr: Long, astTok: Long, totTok: Long,
      startsUser: Boolean)

  /** One emitted QC report — column-compatible with the batch
    * [[graft.operators.Conversations.qc]] row.
    */
  final case class QcRow(conv_id: String, n_turns: Long,
      starts_with_user: Boolean, n_blank: Long, n_role_repeats: Long,
      n_err_calls: Long, assistant_tokens: Long, total_tokens: Long,
      trainable_frac: Double)

  /** Streaming conversation QC — the in-motion face of
    * [[graft.operators.Conversations.qc]]: per-conversation counters
    * update as contiguous turns drain (the ordered-prefix drain of
    * [[OrderedTurns]], shared with [[SegmentProcessor]]), and the FINAL
    * report emits when the conversation goes idle for `idleTimeoutMs` —
    * the streaming analogue of "the conversation is over, gate it now".
    *
    * Parity contract (pinned in StreamingSpec): for a conversation fully
    * delivered before its idle flush, the emitted row equals the batch
    * qc() row bit-for-bit — token counts replicate the `ws_tokens`
    * expression on the JVM via UTF8String.trim (exactly Spark's trim) and
    * regex split, and the trainable fraction applies the same r6 rounding.
    *
    * State is ONE QcState of integers per live conversation plus parked
    * out-of-order turns; a gap that never fills is drained in turn order
    * by the idle flush (adjacency across the gap matches the batch lag
    * window, which also only sees PRESENT turns). Emission clears the
    * conversation's state, so turns arriving after the flush begin a
    * fresh report — the same at-least-once window as the assembler's A2
    * flush, degraded loudly rather than parked forever.
    */
  def qcStream(turns: Dataset[Turn], idleTimeoutMs: Long): Dataset[QcRow] = {
    import turns.sparkSession.implicits._
    turns.groupByKey(_.conv_id)
      .transformWithState(new QcProcessor(idleTimeoutMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** The ordered-prefix drain both stateful processors share: a
    * conversation's turns park in a RocksDB-backed `MapState` keyed by
    * `turn_idx` and leave it only in turn order — the contiguous run above
    * the cursor as it arrives, and on the idle timer every stranded turn,
    * gaps accepted. Create it in `init`.
    */
  private[streaming] final class OrderedTurns[V](handle: StatefulProcessorHandle,
      name: String, enc: Encoder[V]) {
    private val parked = handle.getMapState[Int, V](name, Encoders.scalaInt, enc,
      TTLConfig.NONE)

    def park(idx: Int, v: V): Unit = parked.updateValue(idx, v)

    private def take(idx: Int): V = {
      val v = parked.getValue(idx)
      parked.removeKey(idx)
      v
    }

    /** Consume the contiguous run above cursor `last`; returns the new cursor. */
    def drainPrefix(last: Int)(step: (Int, V) => Unit): Int = {
      var k = last
      while (parked.containsKey(k + 1)) { k += 1; step(k, take(k)) }
      k
    }

    /** Consume every parked turn in turn order, gaps accepted; returns the
      * highest index consumed, or `last` when nothing was parked.
      */
    def drainAll(last: Int)(step: (Int, V) => Unit): Int =
      parked.keys().toArray.sorted.foldLeft(last) { (_, k) => step(k, take(k)); k }

    /** Restart the conversation's idle clock: data arrived. */
    def rearm(timerValues: TimerValues, idleTimeoutMs: Long): Unit = {
      handle.listTimers().foreach(handle.deleteTimer)
      handle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + idleTimeoutMs)
    }
  }

  final class QcProcessor(idleTimeoutMs: Long)
      extends StatefulProcessor[String, Turn, QcRow] {
    @transient private var st: ValueState[QcState] = _
    @transient private var pending: OrderedTurns[(String, String)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[QcState]("qc",
        Encoders.product[QcState], TTLConfig.NONE)
      pending = new OrderedTurns(getHandle, "qpend",
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
    }

    private def current: QcState =
      if (st.exists()) st.get()
      else QcState(-1, null, 0L, 0L, 0L, 0L, 0L, 0L, startsUser = false)

    // the ws_tokens expression on the JVM: UTF8String.trim IS Spark's
    // trim() (spaces only — NOT java.lang.String.trim, which also eats
    // control chars), and Pattern.split(limit = -1) is Spark's split()
    private def nTok(text: String): Long = {
      val t = org.apache.spark.unsafe.types.UTF8String.fromString(text)
        .trim().toString
      if (t.isEmpty) 0L else TranscriptStream.qcWs.split(t, -1).length.toLong
    }

    // null text mirrors batch qc's null-predicate semantics: the turn
    // counts, contributes 0 tokens, and is neither blank nor an err call
    // (SQL null conditions are not true) — a null must not kill the query
    private def upd(s: QcState, idx: Int, role: String, text: String): QcState = {
      val n = if (text == null) 0L else nTok(text)
      QcState(idx, role,
        s.nTurns + 1L,
        s.nBlank + (if (text != null && text.isEmpty) 1L else 0L),
        s.nRepeats + (if (s.nTurns > 0L && role == s.lastRole) 1L else 0L),
        s.nErr + (if (role == "tool" && text != null &&
          text.contains("status=err")) 1L else 0L),
        s.astTok + (if (role == "assistant") n else 0L),
        s.totTok + n,
        s.startsUser || (idx == 0 && role == "user"))
    }

    override def handleInputRows(conv: String, it: Iterator[Turn],
        timerValues: TimerValues): Iterator[QcRow] = {
      var cur = current
      it.foreach { t =>
        if (t.turn_idx > cur.lastTurn) pending.park(t.turn_idx, (t.role, t.text))
      }
      pending.drainPrefix(cur.lastTurn) { case (k, (role, text)) =>
        cur = upd(cur, k, role, text)
      }
      st.update(cur)
      pending.rearm(timerValues, idleTimeoutMs)
      Iterator.empty
    }

    override def handleExpiredTimer(conv: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[QcRow] = {
      var cur = current
      // drain gap-stranded turns in turn order — batch qc's lag window
      // also only sees present turns, so adjacency across the gap agrees
      pending.drainAll(cur.lastTurn) { case (k, (role, text)) =>
        cur = upd(cur, k, role, text)
      }
      st.clear()
      if (cur.nTurns == 0L) Iterator.empty
      else {
        val frac =
          if (cur.totTok > 0L)
            math.floor(cur.astTok.toDouble / cur.totTok * 1000000.0 + 0.5) / 1000000.0
          else 0.0
        Iterator.single(QcRow(conv, cur.nTurns, cur.startsUser, cur.nBlank,
          cur.nRepeats, cur.nErr, cur.astTok, cur.totTok, frac))
      }
    }
  }

  /** Per-conversation FSM as a StatefulProcessor: state = open buffer +
    * record cursor (SegState) + the parked out-of-order turns
    * ([[OrderedTurns]]); one idle timer per key when `idleTimeoutMs` is
    * set (requires `TimeMode.ProcessingTime`; `None` runs under
    * `TimeMode.None` for the exactly-once no-flush flavor).
    */
  final class SegmentProcessor(spec: MultilineSpec, idleTimeoutMs: Option[Long],
      seedCursor: Boolean = true,
      droppedBelowSeed: Option[org.apache.spark.util.LongAccumulator] = None)
      extends StatefulProcessor[String, Turn, SegRecord] {
    @transient private var st: ValueState[SegState] = _
    @transient private var pending: OrderedTurns[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[SegState]("seg",
        Encoders.product[SegState], TTLConfig.NONE)
      pending = new OrderedTurns(getHandle, "pending", Encoders.STRING)
    }

    private def current: SegState =
      if (st.exists()) st.get() else SegState(Nil, 0, -1)

    private def emit(conv: String, from: Int, recs: Seq[(String, Int)]): Iterator[SegRecord] =
      recs.iterator.zipWithIndex.map { case ((r, _), i) => SegRecord(conv, from + i, r) }

    override def handleInputRows(conv: String, it: Iterator[Turn],
        timerValues: TimerValues): Iterator[SegRecord] = {
      val isNew = !st.exists()
      val cur = current
      // park arrivals in state one row at a time (replays of committed
      // turns are dropped), then feed the FSM the contiguous prefix —
      // the task heap never holds the batch. A row at or below a
      // seed-started conversation's seed is a head turn the seeding
      // dropped — count it so the loss is observable (it is invisible in
      // the output otherwise: the assembled record simply lacks its head).
      var minIdx = Int.MaxValue
      it.foreach { t =>
        if (t.turn_idx > cur.lastTurn) pending.park(t.turn_idx, t.text)
        else if (cur.seedIdx >= 0 && t.turn_idx <= cur.seedIdx)
          droppedBelowSeed.foreach(_.add(1L))
        if (t.turn_idx < minIdx) minIdx = t.turn_idx
      }
      val fsm = new Segments.Fsm(spec, cur.buf)
      // a NEW conversation seeds its cursor from the lowest index its
      // FIRST batch delivered: a 1-based (or offset) stream emits instead
      // of parking every row forever behind a turn 0 that will never
      // come. The cost is explicit: if a 0-based conversation's very
      // first batch is missing its earliest turns (still in flight), a
      // later arrival below the seed is DROPPED — lost from the
      // assembled record, not duplicated, and counted in
      // `droppedBelowSeed`. The trade chosen here (per the reference's
      // timeout-flush philosophy) is to degrade loudly with flowing
      // records rather than silently withhold all output; sources whose
      // turn-0 ordering matters should pass `seedCursor = false` to keep
      // the strict cursor instead.
      val seeded = seedCursor && isNew && minIdx != Int.MaxValue && minIdx > 0
      val from =
        if (seedCursor && isNew && minIdx != Int.MaxValue) minIdx - 1
        else cur.lastTurn
      val seedIdx = if (isNew) { if (seeded) from else -1 } else cur.seedIdx
      val last = pending.drainPrefix(from)((_, line) => fsm.write(line))
      val recs = fsm.drain()
      st.update(SegState(fsm.bufferLines.toList, cur.nextIdx + recs.size, last,
        seedIdx))
      idleTimeoutMs.foreach(pending.rearm(timerValues, _))
      emit(conv, cur.nextIdx, recs)
    }

    override def handleExpiredTimer(conv: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SegRecord] = {
      // A2 flush: a conversation that went idle drains WHATEVER it holds —
      // first any gap-stranded pending rows in turn order (accepting the
      // gap: the reference's timeout flush emits partial records on the
      // same reasoning, multline_reader.go:74-114), then the open buffer
      // as a final, possibly partial, record. Without this, one lost row
      // would park every later row of the conversation in state forever.
      val cur = current
      val fsm = new Segments.Fsm(spec, cur.buf)
      val last = pending.drainAll(cur.lastTurn)((_, line) => fsm.write(line))
      val recs = fsm.flush()
      if (recs.isEmpty) Iterator.empty
      else {
        // a line arriving later starts a fresh record past the flush
        // (the at-least-once split)
        st.update(SegState(Nil, cur.nextIdx + recs.size, last, cur.seedIdx))
        emit(conv, cur.nextIdx, recs)
      }
    }
  }
}
