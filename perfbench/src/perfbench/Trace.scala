package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters, summed over every task, stage and job that ended
  * while a [[Counters]] listener was attached.
  */
final case class Tally(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskNanos: Long = 0, gcMs: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def -(o: Tally): Tally = Tally(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskNanos - o.taskNanos, gcMs - o.gcMs, inputBytes - o.inputBytes,
    inputRecords - o.inputRecords, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes)
  def taskSec: Double = taskNanos / 1e9
  def gcSec: Double = gcMs / 1e3
}

/** A SparkListener that keeps running totals ([[Tally]]) and the wall
  * interval of every job, so a caller can read the counters of any span by
  * differencing two snapshots and can tell how much of a span no Spark job
  * covered.
  */
final class Counters extends SparkListener {
  private var t = Tally()
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    t = t.copy(jobs = t.jobs + 1)
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, System.nanoTime())))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    t = t.copy(stages = t.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) t = t.copy(
      tasks = t.tasks + 1,
      taskNanos = t.taskNanos + m.executorRunTime * 1000000L,
      gcMs = t.gcMs + m.jvmGCTime,
      inputBytes = t.inputBytes + m.inputMetrics.bytesRead,
      inputRecords = t.inputRecords + m.inputMetrics.recordsRead,
      shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def snapshot: Tally = synchronized(t)

  /** Seconds of [t0, t1] covered by no Spark job. */
  def uncovered(t0: Long, t1: Long): Double = synchronized {
    val iv = jobSpans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (t1 - t0 - covered) / 1e9
  }
}

/** One recorded span: a name, its interval, the span that caused it, and
  * the Spark counters that accrued inside it.
  */
final case class Span(id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, spark: Tally) {
  def sec: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. With tracing off, `span` only runs the body:
  * no listener is attached and nothing is kept.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val counters = new Counters
  if (on) sc.addSparkListener(counters)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Span around `body`; the listener bus is drained at the end so the
    * counters of every job the body ran are in.
    */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      drain()
      val before = counters.snapshot
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        drain()
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1, counters.snapshot - before)
      }
    }

  private def drain(): Unit = Tracer.drain(sc)

  /** Run `body` with the listener detached: an untraced operation inside
    * a traced run, for measuring the tracing overhead.
    */
  def untraced[A](body: => A): A =
    if (!on) body
    else {
      drain()
      sc.removeSparkListener(counters)
      try body finally sc.addSparkListener(counters)
    }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def stop(): Unit = if (on) sc.removeSparkListener(counters)
}

object Tracer {
  /** Wait until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = {
    // LiveListenerBus.waitUntilEmpty is private[spark]; reach it by
    // reflection so span counters are complete when the span closes
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
