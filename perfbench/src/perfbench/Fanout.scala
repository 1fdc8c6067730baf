package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Enrich, Parse, Route}

/** `fanout_job`: the Bench part-2 job (parse → enrich → route →
  * sinkCounts, `graft.Bench.e2eJob`) issued back to back over one pinned
  * parquet table, closed loop from one driver thread. Parse, enrich and
  * route do the work; the checkpoint layers do none of it.
  */
object Fanout {
  val Convs = 20000L
  val TurnsPerConv = 50
  val Files = 32
  val Turns: Long = Convs * TurnsPerConv
  /** ~4k turns: the job's fixed per-job cost (planning, scheduling,
    * collect) with almost no work, as Bench measures `overhead_lo/hi`.
    */
  val TinyConvs = 80L
  val TinyFiles = 8
  /** Full jobs run after the first one before the window opens. */
  val WarmJobs = 3
  /** Tiny jobs run after each full job. */
  val IdlePerJob = 2
  /** Tiny jobs run after the window. The tiny job's wall still falls by
    * about a quarter during the window (JIT), so `idle_op_s`, the first
    * quartile of all the tiny walls, comes from this warm block.
    */
  val IdleFinal = 10

  type Counts = Seq[(String, String, Long, Long)]

  def job(spark: SparkSession, path: String): Counts =
    rows(Route.sinkCounts(Route.routed(Enrich.enrich(Parse.parseTurns(
      spark.read.parquet(path)))), Setup.Rules))

  private def rows(df: DataFrame): Counts =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  /** (sink, route_key, rows, bytes) the job must return for the table
    * of `convs` conversations from `firstConv`, computed on the driver from
    * the generator's rows, without Spark: every non-blank turn goes to
    * `role:<role>` and, for tool turns, also to `tool:<tool>`; each sink
    * keeps the texts its rule's substrings admit.
    */
  def expected(seed: Long, firstConv: Long, convs: Long): Counts = {
    val acc = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    val gen = Gen.row(seed, firstConv, TurnsPerConv, None) _
    var id = 0L
    while (id < convs * TurnsPerConv) {
      val (_, _, role, text, tool, _) = gen(id)
      if (text.nonEmpty) {
        val err = text.contains("status=err")
        val sinks = Seq("all") ++ (if (err) Seq("errors") else Nil) ++
          (if (!err && !text.contains("INFO")) Seq("clean") else Nil)
        val keys = s"role:$role" +: (if (tool.nonEmpty) Seq(s"tool:$tool") else Nil)
        for (s <- sinks; k <- keys) {
          val (n, b) = acc.getOrElse((s, k), (0L, 0L))
          acc((s, k)) = (n + 1, b + text.length)
        }
      }
      id += 1
    }
    acc.toSeq.map { case ((s, k), (n, b)) => (s, k, n, b) }.sorted
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(a: Main.Args): Result = {
    val cores = Setup.Cores
    val (spark, setupS, setups) = Setup.timed(cores, a.work, Setup.Times)
    val path = s"${a.work}/fanout"
    val tiny = s"${a.work}/fanout-tiny"
    val (_, genS) = Stats.secs {
      Gen.turns(spark, a.seed, 0L, Convs, TurnsPerConv, Files)
        .write.mode("overwrite").parquet(path)
      Gen.turns(spark, a.seed, Convs, TinyConvs, TurnsPerConv, TinyFiles)
        .write.mode("overwrite").parquet(tiny)
    }
    val ((want, wantTiny), expectS) =
      Stats.secs((expected(a.seed, 0L, Convs), expected(a.seed, Convs, TinyConvs)))
    val inBytes = Stats.parquetFiles(path).map(_.length).sum

    var attempted = 0L
    var failed = 0L
    def op(spark: SparkSession, p: String, w: Counts): Double = {
      attempted += 1
      val (got, sec) = Stats.secs(job(spark, p))
      if (got != w) failed += 1
      sec
    }

    val tracer = new Tracer(spark.sparkContext, a.trace)
    val steal0 = Stats.stealSec()
    val first = op(spark, path, want)
    // warm-up, not gated: the job's wall keeps falling for about ten
    // iterations after the first (JIT), so a time-boxed window that starts
    // cold reports how far the warm-up got as much as what the job costs
    for (_ <- 1 to WarmJobs) {
      op(spark, path, want)
      for (_ <- 1 to IdlePerJob) op(spark, tiny, wantTiny)
    }

    // steady state at local[cores] for the run's seconds: each full job is
    // followed by IdlePerJob tiny jobs, so both samples spread over the whole
    // window and a burst of steal hits both alike. Traced runs alternate
    // traced and untraced full jobs so the overhead is measured in-run.
    val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
    val uncovered = scala.collection.mutable.ArrayBuffer.empty[Double]
    val idle = scala.collection.mutable.ArrayBuffer.empty[Double]
    val steadyEnd = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    while (i < 3 || System.nanoTime() < steadyEnd) {
      if (a.trace && i % 2 == 0) {
        val t0 = System.nanoTime()
        traced += tracer.span("job")(op(spark, path, want))
        uncovered += tracer.counters.uncovered(t0, System.nanoTime())
      } else plain += tracer.untraced(op(spark, path, want))
      for (_ <- 1 to IdlePerJob) idle += tracer.untraced(op(spark, tiny, wantTiny))
      i += 1
    }
    for (_ <- 1 to IdleFinal) idle += tracer.untraced(op(spark, tiny, wantTiny))
    val steady = (traced ++ plain).toSeq

    // per-layer decomposition: cumulative prefixes of the job's physical
    // plan, each forced through the no-op sink with only the columns the
    // next step consumes. The optimizer drops parse_turn from this job
    // (sinkCounts reads none of its outputs), so the chain is scan →
    // enrich → route → sinkCounts; parse is timed as a branch off the scan,
    // at the cost it has where its outputs are used (Pipeline.run).
    def read = spark.read.parquet(path)
    val base = Seq("role", "text", "tool")
    val layers: Seq[(String, M)] =
      if (!a.trace) Nil
      else {
        val passes = (1 to 3).map { _ =>
          val sp = Seq(
            tracer.span("sources.scan")(noop(read.select(base.map(col): _*))),
            tracer.span("parse")(noop(Parse.parseTurns(read)
              .select((base ++ Seq("verb", "tool_x", "dur_ms", "status", "kv")).map(col): _*))),
            tracer.span("enrich")(noop(Enrich.enrich(read)
              .select((base :+ "tool_family").map(col): _*))),
            tracer.span("route")(noop(Route.routed(Enrich.enrich(read))
              .select("route_key", "text"))),
            tracer.span("sink_counts")(job(spark, path)))
          val s = tracer.all.takeRight(5)
          (s(0), s(1), s(2), s(3), s(4))
        }
        def med(f: ((Span, Span, Span, Span, Span)) => Double) = Stats.median(passes.map(f))
        val allRows = want.filter(_._1 == "all").map(_._3).sum
        Seq(
          "sources.scan_s" -> M(med(_._1.sec), "s"),
          "sources.scan_bytes" -> M(inBytes.toDouble, "bytes"),
          "parse.self_s" -> M(med(p => p._2.sec - p._1.sec), "s"),
          "parse.task_s" -> M(med(p => p._2.spark.taskSec - p._1.spark.taskSec), "s"),
          "enrich.self_s" -> M(med(p => p._3.sec - p._1.sec), "s"),
          "route.self_s" -> M(med(p => p._4.sec - p._3.sec), "s"),
          "route.rows_out" -> M(allRows.toDouble, "count"),
          "sink_counts.self_s" -> M(med(p => p._5.sec - p._4.sec), "s"),
          "sink_counts.shuffle_bytes" -> M(med(_._5.spark.shuffleWriteBytes.toDouble), "bytes"),
          "unattributed_s" -> M(Stats.median(uncovered.toSeq), "s"),
          "trace.overhead_frac" -> M(Stats.median(traced.toSeq) / Stats.median(plain.toSeq) - 1, "ratio"))
      }
    tracer.stop()
    val steal = Stats.stealSec() - steal0
    Setup.stop(spark)

    // single-thread baseline at local[1], traced runs only: it is not a
    // gated metric (see perfbench/README.md), so untraced runs skip its cost
    val one = scala.collection.mutable.ArrayBuffer.empty[Double]
    if (a.trace) {
      val spark1 = Setup.session(1, a.work)
      val oneEnd = System.nanoTime() + (a.seconds * 0.25 * 1e9).toLong
      while (one.size < 2 || System.nanoTime() < oneEnd) one += op(spark1, path, want)
      Setup.stop(spark1)
    }

    val jobS = Stats.median(steady)
    val jobQ1 = Stats.q1(steady)
    val oneS = Stats.median(one.toSeq)
    val oneCore =
      if (one.isEmpty) Nil
      else Seq(
        "turns_per_s_1c" -> M(Turns / oneS, "1/s"),
        "job_1c_s" -> M(oneS, "s"),
        "efficiency" -> M(oneS / (cores * jobS), "ratio"))
    Result(
      correct = failed == 0,
      attempted = attempted, failed = failed,
      checks = Seq("sink_counts_match_independent_count" -> (failed == 0)),
      e2e = Seq(
        "setup_s" -> M(setupS, "s"),
        "turns_per_s" -> M(Turns / jobQ1, "1/s"),
        "idle_op_s" -> M(Stats.q1(idle.toSeq), "s")),
      report = Seq("first_job_s" -> M(first, "s"), "job_s" -> M(jobS, "s"),
        "job_q1_s" -> M(jobQ1, "s"), "idle_op_median_s" -> M(Stats.median(idle.toSeq), "s")) ++
        oneCore ++ Seq(
        "ops_failed_frac" -> M(failed.toDouble / attempted, "ratio"),
        "steal_s" -> M(steal, "s")),
      layers = layers ++ Seq("host.steal_s" -> M(steal, "s")),
      spans = tracer.all,
      notes = Seq(
        s"workload fanout_job seed=${a.seed} turns=$Turns files=$Files input_bytes=$inBytes " +
          s"tiny_turns=${TinyConvs * TurnsPerConv} cores=$cores",
        s"setup_walls_s ${setups.map(Result.num).mkString(",")}",
        f"input_generation_s $genS%.3f expected_counts_s $expectS%.3f",
        s"steady_iterations ${steady.size} idle_iterations ${idle.size} " +
          s"one_core_iterations ${one.size}",
        s"job_walls_s ${steady.map(Result.num).mkString(",")}",
        s"idle_walls_s ${idle.map(Result.num).mkString(",")}"))
  }
}
