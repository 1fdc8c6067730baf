package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.model.SinkRule
import graft.operators.{Enrich, Parse, Route}

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints a human-readable report (one `metric name value unit` line per
  * metric) and, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics when
  * `--trace 0`, the per-layer metrics when `--trace 1`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("work"))
    val result = a.workload match {
      case "fanout_job" => Fanout.run(a)
      case "campaign" => Campaign.run(a, dedup = false)
      case "campaign_dedup" => Campaign.run(a, dedup = true)
      case other => sys.error(s"unknown workload: $other")
    }
    result.print(a.trace)
  }
}

/** One measured metric: value and unit. */
final case class M(value: Double, unit: String)

/** What a workload run reports. `e2e` holds the end-to-end metrics that
  * BENCHMARK.json gates, `report` the workload-specific figures (printed,
  * not gated), `layers` the per-layer metrics of a traced run.
  */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    checks: Seq[(String, Boolean)], e2e: Seq[(String, M)],
    report: Seq[(String, M)], layers: Seq[(String, M)], notes: Seq[String],
    spans: Seq[Span] = Nil) {

  def print(trace: Boolean): Unit = {
    notes.foreach(n => println(s"note $n"))
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.foreach { s =>
      println(f"span ${s.id} parent=${s.parent} ${s.name} start_s=${(s.startNs - t0) / 1e9}%.6f " +
        f"end_s=${(s.endNs - t0) / 1e9}%.6f jobs=${s.spark.jobs} stages=${s.spark.stages} " +
        f"tasks=${s.spark.tasks} task_s=${s.spark.taskSec}%.3f gc_s=${s.spark.gcSec}%.3f " +
        s"input_records=${s.spark.inputRecords} input_bytes=${s.spark.inputBytes} " +
        s"shuffle_write_bytes=${s.spark.shuffleWriteBytes} " +
        s"spill_bytes=${s.spark.spillBytes}")
    }
    checks.foreach { case (n, ok) => println(s"check $n ${if (ok) "ok" else "FAILED"}") }
    (e2e ++ report ++ (if (trace) Layers.complete(layers) else Nil)).foreach { case (n, m) =>
      println(s"metric $n ${Result.num(m.value)} ${m.unit}")
    }
    val ms = (if (trace) Layers.complete(layers) else e2e).map { case (n, m) =>
      s""""$n":{"value":${Result.num(m.value)},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
  }
}

/** Every per-layer metric a traced run reports, with its unit. A layer
  * that does no work on a workload reports 0.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.scan_bytes" -> "bytes",
    "sources.discover_s" -> "s", "sources.append_s" -> "s",
    "sources.manifest_files" -> "count",
    "parse.self_s" -> "s", "parse.task_s" -> "s",
    "enrich.self_s" -> "s",
    "route.self_s" -> "s", "route.rows_out" -> "count",
    "sink_counts.self_s" -> "s", "sink_counts.shuffle_bytes" -> "bytes",
    "fingerprint.s" -> "s", "fingerprint.files" -> "count", "fingerprint.jobs" -> "count",
    "lineage.read_s" -> "s", "lineage.rows" -> "count", "lineage.commit_dirs" -> "count",
    "lineage.commit_s" -> "s", "lineage.compactions" -> "count", "lineage.prune_s" -> "s",
    "dedup.stage_s" -> "s", "dedup.commit_s" -> "s", "dedup.fresh_ratio" -> "ratio",
    "dedup.store_dirs" -> "count", "dedup.store_bytes" -> "bytes",
    "dedup.shuffle_bytes" -> "bytes", "dedup.jobs" -> "count",
    "pipeline.jobs" -> "count", "pipeline.stages" -> "count", "pipeline.task_s" -> "s",
    "pipeline.gc_s" -> "s", "pipeline.shuffle_write_bytes" -> "bytes",
    "pipeline.spill_bytes" -> "bytes", "pipeline.read_amp" -> "ratio",
    "deliver.self_s" -> "s", "deliver.files_written" -> "count",
    "deliver.bytes_written" -> "bytes", "unattributed_s" -> "s",
    "trace.overhead_frac" -> "ratio", "host.steal_s" -> "s")

  def complete(got: Seq[(String, M)]): Seq[(String, M)] = {
    val m = got.toMap
    all.map { case (n, u) => n -> m.getOrElse(n, M(0.0, u)) }
  }
}

object Result {
  /** Full-precision JSON number (NaN and infinities become 0). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** First quartile, as Python's `statistics.quantiles(xs, n=4)[0]` gives
    * it (the exclusive method): the smallest of 3 samples, 3/4 of the 3rd
    * plus 1/4 of the 4th smallest of 12. Needs at least 3 samples.
    *
    * The gated times are first quartiles of a run's samples, not medians:
    * on a shared VM, hypervisor steal comes in bursts of tens of seconds
    * that slow every operation they cover (perfbench/README.md, "Why first
    * quartiles"); the quartile reads the operation's cost outside them.
    */
  def q1(xs: Seq[Double]): Double = {
    require(xs.size >= 3, s"q1 needs 3 samples, got ${xs.size}")
    val s = xs.sorted
    val m = s.size + 1
    val j = math.min(math.max(m / 4, 1), s.size - 1)
    val delta = m - j * 4
    (s(j - 1) * (4 - delta) + s(j) * delta) / 4
  }

  def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Machine-wide hypervisor steal seconds so far (field 8 of the `cpu`
    * line of /proc/stat, in USER_HZ = 100 ticks per second); 0 where the
    * file is unreadable. A diagnostic: runs are never filtered on it.
    */
  def stealSec(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0
      finally src.close()
    } catch { case _: Throwable => 0.0 }

  /** Bytes under a local directory (hidden and `_` files too). */
  def du(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new File(dir))
  }

  /** Parquet data files under a local directory. */
  def parquetFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new File(dir))
  }
}

/** Session set-up as a user of the system pays it: build a local session
  * at `cores` threads, register the native functions, and run one tiny
  * parse → enrich → route → sinkCounts job so lazy initialisation and the
  * first code generation are done before anything is timed.
  */
object Setup {

  /** Spark threads: one fewer than the machine's processors, so the driver
    * thread, the listener bus, GC and the hypervisor's steal have a
    * processor to themselves instead of stalling a task thread. On a
    * 4-vCPU VM with bursty steal this cuts the run-to-run spread.
    */
  val Cores: Int = math.max(1, Runtime.getRuntime.availableProcessors - 1)

  /** Set-ups per run, for `setup_s`. */
  val Times = 5

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the generated tables are a few dozen small files: split them so
      // every core gets a scan task (the Bench session does the same)
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.KvParse.register(s)
    graft.functions.ParseTurn.register(s)
    graft.functions.SimHash.register(s)
    graft.functions.ShingleHashes.register(s)
    graft.functions.MinhashBands.register(s)
    val warm = Gen.turns(s, 0L, 0L, 4, 8, 1)
    Route.sinkCounts(Route.routed(Enrich.enrich(Parse.parseTurns(warm))), Rules).collect()
    s
  }

  /** The three default sinks of `graft.Main run` (also `Queries.demoRules`). */
  val Rules: Seq[SinkRule] = Seq(
    SinkRule("all"),
    SinkRule("errors", include = Seq("status=err")),
    SinkRule("clean", exclude = Seq("status=err", "INFO")))

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set up `times` sessions one after another, keeping the last; returns
    * it with the first quartile of the set-up seconds ([[Stats.q1]]). The
    * first includes the JVM's class loading, the later ones what a
    * restarted session costs, and they get faster as the JIT warms, so the
    * quartile reads a warm restart.
    */
  def timed(cores: Int, work: String, times: Int): (SparkSession, Double, Seq[Double]) = {
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var s: SparkSession = null
    for (i <- 1 to times) {
      if (s != null) stop(s)
      val (ss, w) = Stats.secs(session(cores, work))
      s = ss
      walls += w
    }
    (s, Stats.q1(walls.toSeq), walls.toSeq)
  }
}
