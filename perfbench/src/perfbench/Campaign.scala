package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.Pipeline.RunReport
import graft.checkpoint.{Fingerprint, LineageStore}
import graft.model.{DedupStageSpec, PipelineConfig}
import graft.operators.{Dedup, Enrich, Parse, Route}
import graft.sources.SnapshotTable

/** `campaign` and `campaign_dedup`: the resumable collector loop driven
  * through `Pipeline.run`, closed loop from one driver thread.
  *
  * A backfill snapshot is delivered by a first (full) run; then small
  * appends of fresh content each get an incremental run followed by a
  * resume with nothing new (a no-op run), at least [[MinIncr]] times and
  * for the run's seconds; a block of [[FinalNoops]] no-op runs ends the
  * campaign. Delivery goes to the three default sinks of `graft.Main run`.
  * The lineage store compacts past 3 commit dirs (`maxCommitDirs = 3`, a
  * constructor argument; `graft.Main` uses 16) so that the few runs one
  * benchmark run affords cross a compaction.
  *
  * `campaign` ends with one run after an in-place rewrite of a committed
  * backfill file (the fingerprint-mismatch path).
  *
  * `campaign_dedup` turns on the minhash dedup stage. Each fresh append
  * repeats [[RepeatShare]] of earlier content verbatim and
  * [[EditShare]] with a one-word edit, and the first append re-ingests
  * the backfill verbatim, so the seen-store is read and written on every
  * run. A run that throws counts as failed and the campaign goes on. It
  * skips the rewrite: with dedup on that run costs about 10 s, which the
  * benchmark's time budget cannot carry (perfbench/README.md, "Budget").
  */
object Campaign {
  val TurnsPerConv = 50
  val BackfillConvs = 20L
  val BackfillFiles = 2
  val BatchConvs = 20L
  val BatchFiles = 2
  val LineageMaxDirs = 3
  val RepeatShare = 0.15
  val EditShare = 0.10
  /** Number of appends made before `campaign_dedup` re-ingests the
    * backfill: 1, so the re-ingest comes first and its run warms the JIT
    * for the incremental runs.
    */
  val ReingestAt = 1
  /** No-op runs after every incremental run and after the re-ingest:
    * the resume right after a write, whose check would catch a run that
    * reprocesses what was just committed.
    */
  val NoopsPerRun = 1
  /** No-op runs at the end of the campaign. The no-op wall falls by about
    * a third over the campaign as the JIT warms, and the first resume after
    * a write is the slowest, so `idle_op_s` (the first quartile of all the
    * no-op walls) comes from this warm block.
    */
  val FinalNoops = 6
  /** Incremental runs made whatever the run's seconds. A fixed count, so
    * every run samples the same stretch of the campaign's JIT warm-up;
    * `turns_per_s` comes from the first quartile of their walls, which
    * for three is the fastest.
    */
  val MinIncr = 3
  val MaxIncr = 12

  /** One `Pipeline.run` call and what the benchmark saw of it. */
  final case class Run(kind: String, sec: Double, report: Option[RunReport],
      error: Option[String], newFiles: Seq[String], newRows: Long,
      layer: Map[String, Double])

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def dirs(root: String, prefix: String): Int =
    Option(new File(root).listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith(prefix))

  def run(a: Main.Args, dedup: Boolean): Result = {
    val cores = Setup.Cores
    val (spark, setupS, setups) = Setup.timed(cores, a.work, Setup.Times)
    val root = new File(a.work).getAbsolutePath
    val tableRoot = s"$root/table"
    val lineageRoot = s"$root/lineage"
    val outDir = s"$root/out"
    val storeDir = s"$root/store"
    val table = new SnapshotTable(spark, tableRoot)
    val lineage = new LineageStore(spark, lineageRoot, maxCommitDirs = LineageMaxDirs)
    val cfg = PipelineConfig(sinks = Setup.Rules,
      dedup = if (dedup) Some(DedupStageSpec("minhash", storeDir)) else None)
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    val runs = mutable.ArrayBuffer.empty[Run]
    val appendSecs = mutable.ArrayBuffer.empty[Double]
    var compactions = 0

    def files: Seq[String] = table.currentSnapshotId.map(table.filesAt).getOrElse(Nil)

    // ---- inputs: conversation ranges [first, first + convs) per append
    val ranges = mutable.ArrayBuffer.empty[(Long, Long)]
    val appended = mutable.ArrayBuffer.empty[(Seq[String], Boolean)] // (files, fresh)
    def fresh(convs: Long, nFiles: Int): DataFrame = {
      val first = ranges.lastOption.map(r => r._1 + r._2).getOrElse(0L)
      val dups =
        if (!dedup || ranges.isEmpty) None
        else Some(Gen.Dups(RepeatShare, EditShare, 0L, first))
      ranges += ((first, convs))
      Gen.turns(spark, a.seed, first, convs, TurnsPerConv, nFiles, dups)
    }
    /** The backfill's rows again, byte for byte, in new files. */
    def backfillAgain: DataFrame =
      Gen.turns(spark, a.seed, 0L, BackfillConvs, TurnsPerConv, BackfillFiles)
    def append(df: DataFrame, isFresh: Boolean): (Seq[String], Long) = {
      val before = files.toSet
      val (_, sec) = Stats.secs(tracer.span("sources.append")(table.append(df)))
      appendSecs += sec
      val added = files.filterNot(before)
      appended += ((added, isFresh))
      (added, spark.read.parquet(added: _*).count())
    }

    // ---- one Pipeline.run; a throw is a failed operation, not the end
    def pipelineRun(kind: String, newFiles: Seq[String], newRows: Long,
        traced: Boolean): Run = {
      val pre = s"$root/pre"
      if (a.trace && kind == "incr") {
        FileUtils.deleteDirectory(new File(pre))
        FileUtils.copyDirectory(new File(lineageRoot), new File(s"$pre/lineage"))
        if (new File(storeDir).exists())
          FileUtils.copyDirectory(new File(storeDir), new File(s"$pre/store"))
      }
      val dirsBefore = dirs(lineageRoot, "commit-")
      val outBefore = Stats.parquetFiles(outDir).map(f => f.getPath -> f.length).toMap
      val t0 = System.nanoTime()
      val (report, error) =
        try {
          val r =
            if (traced) tracer.span("pipeline.run")(Pipeline.run(spark, table, lineage, cfg, outDir))
            else tracer.untraced(Pipeline.run(spark, table, lineage, cfg, outDir))
          (Some(r), None)
        } catch {
          case e: Exception => (None, Some(s"${e.getClass.getName}: ${e.getMessage}"))
        }
      val t1 = System.nanoTime()
      if (dirs(lineageRoot, "commit-") < dirsBefore) compactions += 1
      val layer = mutable.Map.empty[String, Double]
      if (a.trace) {
        val outAfter = Stats.parquetFiles(outDir)
        val written = outAfter.filterNot(f => outBefore.contains(f.getPath))
        layer("deliver.files_written") = written.size
        layer("deliver.bytes_written") = written.map(_.length).sum
        if (traced) {
          val sp = tracer.named("pipeline.run").last.spark
          layer("pipeline.jobs") = sp.jobs
          layer("pipeline.stages") = sp.stages
          layer("pipeline.task_s") = sp.taskSec
          layer("pipeline.gc_s") = sp.gcSec
          layer("pipeline.shuffle_write_bytes") = sp.shuffleWriteBytes
          layer("pipeline.spill_bytes") = sp.spillBytes
          // records, not bytes: Spark's bytesRead counts only the parquet
          // footers of these small files, the rows read are exact
          layer("pipeline.read_amp") =
            if (newRows > 0) sp.inputRecords.toDouble / newRows else 0.0
          layer("unattributed_s") = tracer.counters.uncovered(t0, t1)
        }
        if (kind == "incr" && report.isDefined)
          layer ++= replicas(report.get, newFiles, s"$pre/lineage", s"$pre/store",
            (t1 - t0) / 1e9)
      }
      val r = Run(kind, (t1 - t0) / 1e9, report, error, newFiles, newRows, layer.toMap)
      System.err.println(f"perfbench: $kind run ${r.sec}%.3f s${error.map(" failed: " + _).getOrElse("")}")
      runs += r
      r
    }

    // ---- traced runs only: each layer's public call, timed on its own
    // against the state the run saw (pre-run copies of the stores)
    def replicas(rep: RunReport, newFiles: Seq[String], preLineage: String,
        preStore: String, runSec: Double): Map[String, Double] = {
      val m = mutable.Map.empty[String, Double]
      def timed[A](name: String)(body: => A): A = {
        val r = tracer.span(name)(body)
        m(name) = tracer.named(name).last.sec
        r
      }
      val live = timed("sources.discover")(table.currentSnapshotId.map(table.filesAt).get)
      m("sources.manifest_files") = live.size
      timed("fingerprint")(Fingerprint.ofFilesDf(spark, live).collect())
      m("fingerprint.files") = live.size
      m("fingerprint.jobs") = tracer.named("fingerprint").last.spark.jobs
      m("lineage.rows") = timed("lineage.read")(lineage.entriesDf().count())
      timed("lineage.prune")(lineage.pruneTo(live.toSet))
      val entries = lineage.entriesDf().filter(col("runId") === rep.runId).collect()
      val entriesDf = spark.createDataFrame(
        spark.sparkContext.parallelize(entries.toSeq, 1), lineage.entriesDf().schema)
      timed("lineage.commit")(new LineageStore(spark, preLineage, LineageMaxDirs)
        .commitDf(entriesDf, s"replica-${rep.runId}"))
      def src = spark.read.parquet(newFiles: _*)
      timed("sources.scan")(noop(src))
      m("sources.scan_bytes") =
        newFiles.map(f => new File(new Path(f).toUri.getPath).length).sum.toDouble
      timed("parse")(noop(Parse.parseTurns(src)))
      m("parse.task_s") = tracer.named("parse").last.spark.taskSec -
        tracer.named("sources.scan").last.spark.taskSec
      timed("enrich")(noop(Enrich.enrich(Parse.parseTurns(src))))
      timed("route")(noop(Route.routed(Enrich.enrich(Parse.parseTurns(src)))))
      m("route.rows_out") = Route.routed(src).count()
      var dedupSec = 0.0
      if (dedup) {
        val rows = src.withColumn("src_file", input_file_name())
          .withColumn("__id", concat_ws("#", col("src_file"), col("conv_id"),
            col("turn_idx").cast("string")))
          .withColumn("__src", substring_index(col("src_file"), "/", -1))
        val (batch, freshRows) = timed("dedup.stage") {
          val b = Dedup.incrementalMinhashStaged(rows, "__id", "text", preStore,
            srcCol = Some("__src"))
          (b, b.fresh.count())
        }
        timed("dedup.commit")(batch.commit())
        val st = tracer.named("dedup.stage").last.spark
        val ct = tracer.named("dedup.commit").last.spark
        m("dedup.fresh_ratio") = freshRows.toDouble / math.max(1L, rep.inputRows)
        m("dedup.shuffle_bytes") = st.shuffleWriteBytes + ct.shuffleWriteBytes
        m("dedup.jobs") = st.jobs + ct.jobs
        dedupSec = m("dedup.stage") + m("dedup.commit")
      }
      // self times of the process prefixes, then the run's residual
      m("parse.self_s") = m("parse") - m("sources.scan")
      m("enrich.self_s") = m("enrich") - m("parse")
      m("route.self_s") = m("route") - m("enrich")
      m("deliver.self_s") = runSec - (m("sources.discover") + m("fingerprint") +
        m("lineage.read") + m("lineage.prune") + m("route") + m("lineage.commit") + dedupSec)
      m.toMap
    }

    // ---- the campaign
    val steal0 = Stats.stealSec()
    val (backfill, backfillRows) = append(fresh(BackfillConvs, BackfillFiles), isFresh = true)
    val full = pipelineRun("full", backfill, backfillRows, traced = true)
    val loopEnd = System.nanoTime() + a.seconds * 1000000000L
    def incrCount = runs.count(_.kind == "incr")
    while (incrCount < MinIncr || (System.nanoTime() < loopEnd && incrCount < MaxIncr)) {
      if (dedup && ranges.size == ReingestAt && !runs.exists(_.kind == "reingest")) {
        val (f, n) = append(backfillAgain, isFresh = false)
        pipelineRun("reingest", f, n, traced = true)
        for (_ <- 1 to NoopsPerRun) pipelineRun("noop", Nil, 0L, traced = true)
      } else {
        val (f, n) = append(fresh(BatchConvs, BatchFiles), isFresh = true)
        pipelineRun("incr", f, n, traced = true)
        for (_ <- 1 to NoopsPerRun) pipelineRun("noop", Nil, 0L, traced = true)
      }
    }
    // a block of no-op runs on the warmest JVM of the campaign; traced runs
    // alternate untraced and traced ones, for the tracing overhead
    val finals = (1 to FinalNoops).map(i =>
      pipelineRun("noop", Nil, 0L, traced = !a.trace || i % 2 == 0))
    val probes = if (a.trace) finals else Nil
    val noops = runs.filter(_.kind == "noop").toSeq
    val dupShare =
      if (dedup && a.trace) Some(duplicateShare(spark, appended.toSeq)) else None

    // `campaign` only: an in-place rewrite of one committed backfill file
    // (same path, new bytes), then one run — the fingerprint-mismatch path
    val victim = backfill.head
    val victimDelivered =
      if (dedup) Map.empty[String, Long]
      else latest(lineage.entriesDf()).filter(col("file") === victim)
        .groupBy("sink").agg(sum("rowsDelivered")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val inval = if (dedup) None else Some {
      val tmp = s"$root/rewrite"
      spark.read.parquet(victim)
        .withColumn("text", when(length(col("text")) > 0, concat(col("text"), lit(" rewritten")))
          .otherwise(col("text")))
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.delete(new Path(victim), false)
      require(fs.rename(part, new Path(victim)), s"rewrite of $victim failed")
      fs.delete(new Path(tmp), true)
      pipelineRun("invalidate", Seq(victim), spark.read.parquet(victim).count(), traced = true)
    }
    val steal = Stats.stealSec() - steal0

    // ---- correctness
    def ok(name: String, cond: Boolean): Unit = checks += name -> cond
    /** Per-run check: what the run's report must say it did. */
    def runCheck(r: Run, rep: RunReport): (String, Boolean) = r.kind match {
      case "noop" =>
        "noop_processes_nothing" ->
          (rep.processedFiles.isEmpty && rep.invalidatedFiles.isEmpty)
      case "invalidate" =>
        "rewrite_invalidates_exactly_the_rewritten_file" ->
          (rep.invalidatedFiles == Seq(victim) && rep.processedFiles == Seq(victim))
      case k =>
        s"${k}_processes_exactly_the_new_files" ->
          (rep.processedFiles.toSet == r.newFiles.toSet && rep.inputRows == r.newRows &&
            rep.invalidatedFiles.isEmpty)
    }
    val runChecks = for (r <- runs.toSeq; rep <- r.report) yield runCheck(r, rep)
    runChecks.groupBy(_._1).foreach { case (n, cs) => ok(n, cs.forall(_._2)) }
    val sinks = Setup.Rules.map(_.name)
    val readBack = sinks.map { s =>
      s -> (if (new File(s"$outDir/$s").exists()) spark.read.parquet(s"$outDir/$s").count() else 0L)
    }.toMap
    val lineageTotals = latest(lineage.entriesDf()).groupBy("sink")
      .agg(sum("rowsDelivered")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val reported = sinks.map { s =>
      s -> (runs.flatMap(_.report).map(_.perSinkDelivered.getOrElse(s, 0L)).sum -
        victimDelivered.getOrElse(s, 0L))
    }.toMap
    ok("sink_rows_equal_lineage_counts",
      sinks.forall(s => readBack(s) == lineageTotals.getOrElse(s, 0L)))
    ok("sink_rows_equal_run_report_totals", sinks.forall(s => readBack(s) == reported(s)))
    if (!dedup) {
      val exp = expectedPerSink(spark, files)
      ok("sink_rows_equal_independent_count", sinks.forall(s => readBack(s) == exp.getOrElse(s, 0L)))
    } else {
      val repeats = spark.read.parquet(s"$outDir/all")
        .groupBy("route_key", "message").count().filter(col("count") > 1).count()
      ok("no_delivered_text_repeats", repeats == 0)
      val re = runs.filter(_.kind == "reingest")
      val reFiles = re.flatMap(_.newFiles).toSet
      val reDelivered = latest(lineage.entriesDf())
        .filter(col("file").isin(reFiles.toSeq: _*)).agg(sum("rowsDelivered"), count(lit(1)))
        .collect().head
      ok("reingested_batch_delivers_nothing",
        re.nonEmpty && reDelivered.getLong(1) == reFiles.size * sinks.size &&
          (reDelivered.isNullAt(0) || reDelivered.getLong(0) == 0L))
    }

    // ---- figures
    val attempted = runs.size.toLong
    val failed = runs.count(_.error.isDefined).toLong + runChecks.count(!_._2)
    val incr = runs.filter(_.kind == "incr")
    val incrS = Stats.median(incr.map(_.sec).toSeq)
    val noopS = Stats.median(noops.map(_.sec))
    val batchTurns = BatchConvs * TurnsPerConv
    val inBytes = Stats.du(s"$tableRoot/data")
    val outBytes = Stats.du(outDir) + Stats.du(lineageRoot) + Stats.du(storeDir)

    val layers: Seq[(String, M)] =
      if (!a.trace) Nil
      else {
        val rs = incr.map(_.layer).toSeq
        def med(k: String): Double = Stats.median(rs.flatMap(_.get(k)))
        val (tracedProbes, plainProbes) = probes.partition(_.layer.contains("pipeline.jobs"))
        Seq(
          "sources.scan_s" -> M(med("sources.scan"), "s"),
          "sources.scan_bytes" -> M(med("sources.scan_bytes"), "bytes"),
          "sources.discover_s" -> M(med("sources.discover"), "s"),
          "sources.append_s" -> M(Stats.median(appendSecs.toSeq), "s"),
          "sources.manifest_files" -> M(files.size.toDouble, "count"),
          "parse.self_s" -> M(med("parse.self_s"), "s"),
          "parse.task_s" -> M(med("parse.task_s"), "s"),
          "enrich.self_s" -> M(med("enrich.self_s"), "s"),
          "route.self_s" -> M(med("route.self_s"), "s"),
          "route.rows_out" -> M(med("route.rows_out"), "count"),
          "fingerprint.s" -> M(med("fingerprint"), "s"),
          "fingerprint.files" -> M(med("fingerprint.files"), "count"),
          "fingerprint.jobs" -> M(med("fingerprint.jobs"), "count"),
          "lineage.read_s" -> M(med("lineage.read"), "s"),
          "lineage.rows" -> M(med("lineage.rows"), "count"),
          "lineage.commit_dirs" -> M(dirs(lineageRoot, "commit-").toDouble, "count"),
          "lineage.commit_s" -> M(med("lineage.commit"), "s"),
          "lineage.compactions" -> M(compactions.toDouble, "count"),
          "lineage.prune_s" -> M(med("lineage.prune"), "s"),
          "dedup.stage_s" -> M(med("dedup.stage"), "s"),
          "dedup.commit_s" -> M(med("dedup.commit"), "s"),
          "dedup.fresh_ratio" -> M(med("dedup.fresh_ratio"), "ratio"),
          "dedup.store_dirs" -> M(if (dedup) Dedup.listSeen(fs, new Path(storeDir)).size.toDouble else 0.0, "count"),
          "dedup.store_bytes" -> M(Stats.du(storeDir).toDouble, "bytes"),
          "dedup.shuffle_bytes" -> M(med("dedup.shuffle_bytes"), "bytes"),
          "dedup.jobs" -> M(med("dedup.jobs"), "count"),
          "pipeline.jobs" -> M(med("pipeline.jobs"), "count"),
          "pipeline.stages" -> M(med("pipeline.stages"), "count"),
          "pipeline.task_s" -> M(med("pipeline.task_s"), "s"),
          "pipeline.gc_s" -> M(med("pipeline.gc_s"), "s"),
          "pipeline.shuffle_write_bytes" -> M(med("pipeline.shuffle_write_bytes"), "bytes"),
          "pipeline.spill_bytes" -> M(med("pipeline.spill_bytes"), "bytes"),
          "pipeline.read_amp" -> M(med("pipeline.read_amp"), "ratio"),
          "deliver.self_s" -> M(med("deliver.self_s"), "s"),
          "deliver.files_written" -> M(med("deliver.files_written"), "count"),
          "deliver.bytes_written" -> M(med("deliver.bytes_written"), "bytes"),
          "unattributed_s" -> M(med("unattributed_s"), "s"),
          "trace.overhead_frac" -> M(Stats.median(tracedProbes.map(_.sec)) /
            Stats.median(plainProbes.map(_.sec)) - 1, "ratio"))
      }
    tracer.stop()
    Setup.stop(spark)

    val name = if (dedup) "campaign_dedup" else "campaign"
    val failures = runs.flatMap(r => r.error.map(e => s"${r.kind}: $e"))
    Result(
      correct = checks.forall(_._2),
      attempted = attempted, failed = failed,
      checks = checks.toSeq,
      e2e = Seq(
        "setup_s" -> M(setupS, "s"),
        "turns_per_s" -> M(batchTurns / Stats.q1(incr.map(_.sec).toSeq), "1/s"),
        "idle_op_s" -> M(Stats.q1(noops.map(_.sec)), "s")),
      report = Seq(
        "full_run_s" -> M(full.sec, "s"),
        "incr_run_s" -> M(incrS, "s"),
        "noop_run_s" -> M(noopS, "s")) ++
        inval.map(r => "invalidate_run_s" -> M(r.sec, "s")).toSeq ++
        runs.find(_.kind == "reingest").map(r => "reingest_run_s" -> M(r.sec, "s")).toSeq ++ Seq(
        "out_bytes_per_in_byte" -> M(outBytes.toDouble / inBytes, "ratio"),
        "ops_failed_frac" -> M(failed.toDouble / attempted, "ratio"),
        "steal_s" -> M(steal, "s")),
      layers = layers ++ Seq("host.steal_s" -> M(steal, "s")),
      spans = tracer.all,
      notes = Seq(
        s"workload $name seed=${a.seed} backfill_turns=${BackfillConvs * TurnsPerConv} " +
          s"backfill_files=$BackfillFiles append_turns=$batchTurns append_files=$BatchFiles " +
          s"incremental_runs=${incr.size} lineage_max_commit_dirs=$LineageMaxDirs " +
          s"lineage_compactions=$compactions cores=$cores",
        s"setup_walls_s ${setups.map(Result.num).mkString(",")}",
        s"run_walls_s ${runs.map(r => s"${r.kind}=${Result.num(r.sec)}").mkString(" ")}") ++
        dupShare.map { case (v, e) => f"duplicate_share verbatim=$v%.4f edited=$e%.4f " +
          s"(asked $RepeatShare and $EditShare)" }.toSeq ++
        failures.map(f => s"failed_run $f"))
  }

  /** Latest lineage row per (file, sink): last writer wins, as the
    * pipeline reads it.
    */
  private def latest(entries: DataFrame): DataFrame = {
    val w = Window.partitionBy("file", "sink").orderBy(col("committedAtMs").desc)
    entries.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
  }

  /** Rows each sink should hold for the given table files, computed from
    * the raw rows with plain Spark expressions.
    */
  private def expectedPerSink(spark: SparkSession, files: Seq[String]): Map[String, Long] = {
    val t = spark.read.parquet(files: _*).filter(length(col("text")) > 0)
      .withColumn("fan", when(col("tool") =!= "", 2L).otherwise(1L))
    val err = col("text").contains("status=err")
    val info = col("text").contains("INFO")
    val r = t.agg(sum(col("fan")), sum(when(err, col("fan"))),
      sum(when(!err && !info, col("fan")))).collect().head
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Map("all" -> l(0), "errors" -> l(1), "clean" -> l(2))
  }

  /** Measured share of the non-blank rows of the fresh appends after the
    * first whose text (verbatim), or whose text without the edit word
    * (edited), is the text of a row of an earlier append.
    */
  private def duplicateShare(spark: SparkSession,
      appended: Seq[(Seq[String], Boolean)]): (Double, Double) = {
    import spark.implicits._
    val idx = appended.zipWithIndex.flatMap { case ((fs, _), i) =>
      fs.map(f => (new Path(f).getName, i)) }.toDF("fname", "ai")
    val rows = spark.read.parquet(appended.flatMap(_._1): _*)
      .withColumn("fname", substring_index(input_file_name(), "/", -1))
      .join(broadcast(idx), "fname")
      .filter(length(col("text")) > 0)
      .select("text", "ai").cache()
    val first = rows.groupBy("text").agg(min("ai").as("first"))
    val later = rows.filter(col("ai").isin(
      appended.zipWithIndex.collect { case ((_, true), i) if i > 0 => i }: _*))
    val n = later.count()
    val verbatim = later.join(first, "text").filter(col("first") < col("ai")).count()
    val edited = later.filter(col("text").endsWith(" revised"))
      .withColumn("text", expr("substring(text, 1, length(text) - 8)"))
      .join(first, "text").filter(col("first") < col("ai")).count()
    rows.unpersist()
    if (n == 0) (0.0, 0.0) else (verbatim.toDouble / n, edited.toDouble / n)
  }
}
