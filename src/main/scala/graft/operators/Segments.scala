package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

import graft.model.MultilineSpec
import graft.model.MultilineMode._

/** Multiline record assembly — the reference's 4-mode stateful line folder
  * (internal/tailer/multline_reader.go:139-264) re-expressed for Spark.
  *
  * One formulation: [[assembleFsm]] repartitions by conv_id, sorts within
  * partitions by (conv_id, turn_idx) and runs the FSM per conversation in
  * `mapPartitions`. It handles all 4 modes and StartPattern standalone
  * emission in one shuffle; conversations never split across partitions.
  * The DuckDB oracles of the multiline queries derive the same records
  * independently (a boundary window for the lag-1 modes, closed forms for
  * the periodic fixtures), so no second Spark formulation is kept.
  *
  * End-of-batch behavior: the final open buffer is always flushed —
  * the reference's ReadOnce residual flush (tail_reader.go:229-249).
  */
object Segments {

  /** Transcript row with per-line metadata carried through FSM assembly. */
  final case class MetaRow(conv_id: String, turn_idx: Int, text: String,
      role: String, tool: String, ts: java.sql.Timestamp, src_file: String)

  /** Pure single-conversation FSM, shared by the batch driver, the
    * streaming processor and the ScalaTest/ScalaCheck property suite.
    * Input lines in turn order; output = completed records, each = lines
    * joined with '\n', paired with the number of lines it consumed (a
    * line may itself contain '\n', so the joined text does not tell).
    * `resume` is an open buffer carried over from an earlier streaming
    * micro-batch (the buffer is the only carried state).
    */
  final class Fsm(spec: MultilineSpec, resume: Seq[String] = Nil) {
    private val condRe = spec.condPattern.r
    private val startRe = spec.startPattern.map(_.r)
    private val buf = mutable.ArrayBuffer.from(resume)
    private val out = mutable.ArrayBuffer.empty[(String, Int)]

    private def matches(re: scala.util.matching.Regex, s: String): Boolean =
      re.findFirstIn(s).isDefined

    private def emitBuf(): Unit =
      if (buf.nonEmpty) { out += ((buf.mkString("\n"), buf.size)); buf.clear() }

    /** A line reaching an empty buffer opens a record, unless a start
      * pattern rejects it: then it is emitted standalone.
      */
    private def open(line: String): Unit = startRe match {
      case Some(re) if !matches(re, line) => out += ((line, 1))
      case _ => buf += line
    }

    def write(line: String): Unit =
      if (buf.isEmpty) open(line)
      else {
        val m = matches(condRe, line)
        spec.mode match {
          case ContinuePast =>
            buf += line
            if (!m) emitBuf()
          case ContinueThrough =>
            if (m) buf += line else { emitBuf(); open(line) }
          case HaltBefore =>
            if (m) { emitBuf(); open(line) } else buf += line
          case HaltWith =>
            buf += line
            if (m) emitBuf()
        }
      }

    /** Residual flush (multline_reader.go:279-285). */
    def flush(): Seq[(String, Int)] = { emitBuf(); drain() }

    /** Drain records completed so far without flushing the open buffer. */
    def drain(): Seq[(String, Int)] = { val r = out.toSeq; out.clear(); r }

    /** Open-buffer snapshot, the `resume` of the next micro-batch. */
    def bufferLines: Seq[String] = buf.toSeq
  }

  /** Run one conversation's lines (already in turn order) through the FSM,
    * returning (record_idx, record) pairs including the end-of-batch flush.
    */
  def runFsm(spec: MultilineSpec, lines: Iterator[String]): Iterator[(Int, String)] = {
    val fsm = new Fsm(spec)
    lines.foreach(fsm.write)
    fsm.flush().iterator.zipWithIndex.map { case ((r, _), i) => (i, r) }
  }

  /** The batch driver: one hash shuffle on conv_id into the session's
    * shuffle partitions (the count a run's `deliver` re-clusters with),
    * an in-partition sort by (conv_id, turn_idx), and one FSM per
    * conversation, fed one line at a time. Records emit as soon as the
    * FSM closes them, so per-task memory is O(open buffer), not
    * O(records per conversation) — a 10^7-turn mega-conversation costs
    * only its largest record. Emitted records always consume the oldest
    * open lines (standalone emission only happens on an empty buffer), so
    * a FIFO of the open lines yields each record's first line. `record` builds the output row from that
    * first line, the record index, the record and its line count.
    */
  private def assemble[A, B: Encoder](lines: Dataset[A], spec: MultilineSpec)(
      conv: A => String, text: A => String,
      record: (A, Int, String, Int) => B): Dataset[B] =
    lines.repartition(lines.sparkSession.sessionState.conf.numShufflePartitions, col("conv_id"))
      .sortWithinPartitions("conv_id", "turn_idx")
      .mapPartitions { it =>
        new Iterator[B] {
          private val in = it.buffered
          private val open = new java.util.ArrayDeque[A]()
          private var cur: String = _
          private var fsm: Fsm = _
          private var idx = 0
          private var pending: Iterator[(String, Int)] = Iterator.empty
          private def refill(): Unit =
            while (pending.isEmpty && (fsm != null || in.hasNext)) {
              if (fsm == null) { cur = conv(in.head); fsm = new Fsm(spec); idx = 0 }
              if (in.hasNext && conv(in.head) == cur) {
                val line = in.next()
                open.add(line)
                fsm.write(text(line))
                pending = fsm.drain().iterator
              } else { // conversation exhausted: residual flush, then close
                pending = fsm.flush().iterator
                fsm = null
              }
            }
          def hasNext: Boolean = { refill(); pending.hasNext }
          def next(): B = {
            refill()
            val (r, n) = pending.next()
            val first = open.poll()
            (1 until n).foreach(_ => open.poll())
            idx += 1
            record(first, idx - 1, r, n)
          }
        }
      }

  /** Exact formulation over (conv_id, turn_idx, text) lines.
    * Output: (conv_id, record_idx, record, n_lines).
    */
  def assembleFsm(df: DataFrame, spec: MultilineSpec): DataFrame = {
    import df.sparkSession.implicits._
    assemble(df.select("conv_id", "turn_idx", "text").as[(String, Int, String)],
        spec)(_._1, _._3, (first, idx, r, n) => (first._1, idx, r, n))
      .toDF("conv_id", "record_idx", "record", "n_lines")
  }

  /** [[assembleFsm]] carrying row metadata through assembly: each record
    * inherits role/tool/ts/src_file from its FIRST line. Output keeps the
    * transcript shape with `turn_idx` = record index and `text` = assembled
    * record, so the parse→enrich→route stages compose on top unchanged.
    */
  def assembleFsmRows(df: DataFrame, spec: MultilineSpec): DataFrame = {
    import df.sparkSession.implicits._
    assemble(df.select(col("conv_id"), col("turn_idx"), col("text"), col("role"),
        col("tool"), col("ts").cast("timestamp").as("ts"), col("src_file")).as[MetaRow],
        spec)(_.conv_id, _.text,
        (first, idx, r, _) => first.copy(turn_idx = idx, text = r))
      .toDF()
  }
}
