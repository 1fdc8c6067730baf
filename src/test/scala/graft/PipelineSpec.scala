package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.LineageStore
import graft.model.{PipelineConfig, SinkRule}
import graft.sources.{SnapshotTable, Transcripts}

/** Resume semantics, mirroring the reference restart suite
  * (internal/collector/collector_test.go:423-533 offset persistence,
  * :691-963 restart no-loss with exact delivered sequences).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = PipelineConfig(sinks = Seq(
    SinkRule("all"),
    SinkRule("errors", include = Seq("status=err"))))

  private def tmp(): String = Files.createTempDirectory("graft-pipe").toString

  /** Every parquet data file under `dir` → its modification time. */
  private def dataFiles(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      } finally walk.close()
    }
  }

  private def sinkRows(outDir: String, sink: String): Long = {
    val p = new Path(s"$outDir/$sink")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else spark.read.parquet(p.toString).count()
  }

  test("run → append → resume delivers exactly the delta; totals equal a from-scratch run") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    val out = s"$root/sinks"

    val batch1 = Transcripts.synthesize(spark, numConvs = 20, turnsPerConv = 10).toDF()
    table.append(batch1)
    val r1 = Pipeline.run(spark, table, lineage, cfg, out)
    assert(r1.processedFiles.nonEmpty)
    assert(r1.inputRows == 200)

    // no new data → no-op
    val r1b = Pipeline.run(spark, table, lineage, cfg, out)
    assert(r1b.processedFiles.isEmpty)

    // append a second snapshot; only the delta is processed
    val batch2 = Transcripts.synthesize(spark, numConvs = 7, turnsPerConv = 10).toDF()
      .withColumn("conv_id", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("b2-"), $"conv_id"))
    table.append(batch2)
    val r2 = Pipeline.run(spark, table, lineage, cfg, out)
    assert(r2.inputRows == 70)
    assert(r2.processedFiles.toSet.intersect(r1.processedFiles.toSet).isEmpty)

    // totals equal a from-scratch run over the same content
    val root2 = tmp()
    val table2 = new SnapshotTable(spark, s"$root2/table")
    table2.append(batch1.unionByName(batch2))
    val lineage2 = new LineageStore(spark, s"$root2/lineage")
    val rAll = Pipeline.run(spark, table2, lineage2, cfg, s"$root2/sinks")
    assert(sinkRows(out, "all") == sinkRows(s"$root2/sinks", "all"))
    assert(sinkRows(out, "errors") == sinkRows(s"$root2/sinks", "errors"))
    assert(r1.perSinkDelivered("all") + r2.perSinkDelivered("all") == rAll.perSinkDelivered("all"))

    // lineage accounting equals what landed in the sink directories
    val entries = lineage.readAll()
    assert(entries.filter(_.sink == "all").map(_.rowsDelivered).sum == sinkRows(out, "all"))
    assert(entries.filter(_.sink == "errors").map(_.rowsDelivered).sum == sinkRows(out, "errors"))
  }

  test("config-driven incremental dedup: run 2 delivers only content run 1 did not") {
    import org.apache.spark.sql.functions.{concat, lit}
    val root = tmp()
    val store = s"$root/dedupstore"
    // the product face: the stage is switched on from a config FILE, the
    // way a reference user would (README campaign walkthrough)
    val cfgFile = s"$root/graft.toml"
    java.nio.file.Files.write(java.nio.file.Paths.get(cfgFile),
      s"""[sink.all]
         |type = "parquet"
         |
         |[collector.dedup]
         |mode = "exact"
         |store-dir = "$store"
         |""".stripMargin.getBytes("UTF-8"))
    val dcfg = graft.config.ConfigLoader.load(file = Some(cfgFile), env = Map.empty)
      .fold(e => fail(s"config load failed: $e"), identity)
    assert(dcfg.dedup.exists(d => d.mode == "exact" && d.storeDir == store))

    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    val out = s"$root/sinks"
    val batch1 = Transcripts.synthesize(spark, numConvs = 10, turnsPerConv = 10).toDF()
    table.append(batch1)
    val r1 = Pipeline.run(spark, table, lineage, dcfg, out)
    assert(r1.perSinkDelivered("all") > 0)

    // run 2's new file: exact copies of run-1 content under fresh conv ids
    // PLUS five genuinely new conversations
    val newConvs = Transcripts.synthesize(spark, numConvs = 15, turnsPerConv = 10).toDF()
      .filter($"conv_id" >= "conv-00000010")
    table.append(batch1.withColumn("conv_id", concat(lit("dup-"), $"conv_id"))
      .unionByName(newConvs))
    val r2 = Pipeline.run(spark, table, lineage, dcfg, out)

    // control campaign with its own store: same run 1, but run 2 carries
    // ONLY the new conversations — the duplicate rows must contribute zero
    val root2 = tmp()
    val ccfg = dcfg.copy(dedup = dcfg.dedup.map(_.copy(storeDir = s"$root2/store")))
    val table2 = new SnapshotTable(spark, s"$root2/table")
    val lineage2 = new LineageStore(spark, s"$root2/lineage")
    table2.append(batch1)
    Pipeline.run(spark, table2, lineage2, ccfg, s"$root2/sinks")
    table2.append(newConvs)
    val c2 = Pipeline.run(spark, table2, lineage2, ccfg, s"$root2/sinks")
    assert(r2.perSinkDelivered("all") == c2.perSinkDelivered("all"))
    assert(r2.perSinkDelivered("all") > 0)

    // run 3: a file of nothing but already-delivered content — processed
    // (lineage row written, file never retried) but zero rows delivered
    table.append(batch1.withColumn("conv_id", concat(lit("dup2-"), $"conv_id")))
    val r3 = Pipeline.run(spark, table, lineage, dcfg, out)
    assert(r3.processedFiles.nonEmpty)
    assert(r3.perSinkDelivered("all") == 0)
    // and the campaign store committed state as seen-* dirs
    val sp = new Path(store)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(sp).exists(_.getPath.getName.startsWith("seen-")))
  }

  test("dedup stage + invalidation: a rewritten file re-delivers ALL its latest content") {
    import org.apache.spark.sql.functions.col
    val root = tmp()
    val dcfg = PipelineConfig(
      sinks = Seq(SinkRule("all", kind = "parquet")),
      dedup = Some(graft.model.DedupStageSpec("exact", s"$root/store")))
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    val out = s"$root/sinks"
    table.append(Transcripts.synthesize(spark, numConvs = 5, turnsPerConv = 6).toDF())
    val r1 = Pipeline.run(spark, table, lineage, dcfg, out)
    assert(r1.perSinkDelivered("all") > 0)

    // rewrite one committed file in place: SAME rows (already in the
    // dedup store) plus one new conversation — the invalidation path
    // deletes the file's old batch dirs, so if the store filtered the
    // unchanged rows they would vanish from every sink
    val victim = r1.processedFiles.head
    val oldRows = spark.read.parquet(victim)
    val extra = Transcripts.synthesize(spark, numConvs = 6, turnsPerConv = 6).toDF()
      .filter(col("conv_id") === "conv-00000005")
    val tmpOut = s"$root/replacement"
    oldRows.unionByName(extra).coalesce(1).write.mode("overwrite").parquet(tmpOut)
    val fs = new Path(victim).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newPart = fs.listStatus(new Path(tmpOut))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.delete(new Path(victim), false)
    require(fs.rename(newPart, new Path(victim)))

    val r2 = Pipeline.run(spark, table, lineage, dcfg, out)
    assert(r2.invalidatedFiles == Seq(victim))
    assert(r2.perSinkDelivered("all") > 0)
    // the true invariant: NO text of the latest snapshot content is
    // missing from the sink — the regression made the victim's unchanged
    // rows vanish from every sink (their old dirs deleted, their
    // re-delivery filtered by the store)
    import org.apache.spark.sql.functions.length
    val sinkTexts = spark.read.parquet(s"$out/all").select(col("message")).distinct()
    val snapTexts = spark.read
      .parquet(table.filesAt(table.currentSnapshotId.get): _*)
      .filter(length(col("text")) > 0).select(col("text")).distinct()
    val missing = snapTexts
      .join(sinkTexts, snapTexts("text") === sinkTexts("message"), "left_anti")
    assert(missing.isEmpty,
      s"latest content missing from sink: ${missing.count()} texts")
  }

  test("minhash dedup stage: near-duplicate rows of earlier runs are dropped too") {
    import org.apache.spark.sql.functions.{col, concat, length, lit}
    val root = tmp()
    val dcfg = PipelineConfig(
      sinks = Seq(SinkRule("all", kind = "parquet")),
      dedup = Some(graft.model.DedupStageSpec("minhash", s"$root/store",
        threshold = 0.6, ngram = 3, bands = 8, rowsPerBand = 2)))
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    val out = s"$root/sinks"
    val batch1 = Transcripts.synthesize(spark, numConvs = 10, turnsPerConv = 10).toDF()
    table.append(batch1)
    val r1 = Pipeline.run(spark, table, lineage, dcfg, out)
    assert(r1.perSinkDelivered("all") > 0)

    // run 2: every long-enough run-1 text re-appears with two appended
    // tokens (a true NEAR duplicate — the exact stage would keep it);
    // short texts pass through unchanged (exact replays, dropped by the
    // store's exact component)
    val nearDups = batch1
      .withColumn("conv_id", concat(lit("nd-"), $"conv_id"))
      .withColumn("text",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.split(col("text"), "\\s+")) >= 3 &&
            length(col("text")) > 0,
          concat(col("text"), lit(" tail tail"))).otherwise(col("text")))
    table.append(nearDups)
    val r2 = Pipeline.run(spark, table, lineage, dcfg, out)
    // near-dup recall is probabilistic per pair but the fixture's texts
    // are long shared-shingle lines: the stage must drop the bulk of the
    // re-appeared content, and exact replays must drop entirely
    assert(r2.perSinkDelivered("all") < r1.perSinkDelivered("all") / 2,
      s"run2=${r2.perSinkDelivered("all")} run1=${r1.perSinkDelivered("all")}")

    // run 3: a byte-identical replay of run 2's file content under new
    // conv ids — everything is in the store now, nothing delivers
    table.append(nearDups.withColumn("conv_id", concat(lit("nd2-"), $"conv_id")))
    val r3 = Pipeline.run(spark, table, lineage, dcfg, out)
    assert(r3.perSinkDelivered("all") == 0)
  }

  test("crash window: sinks written, lineage lost, NEW file appended — replay re-delivers nothing") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    val out = s"$root/sinks"

    val batch1 = Transcripts.synthesize(spark, numConvs = 10, turnsPerConv = 10).toDF()
    table.append(batch1)
    Pipeline.run(spark, table, lineage, cfg, out)
    val afterFirst = sinkRows(out, "all")

    // simulate the crash between sink writes and lineage commit: the sink
    // dirs exist but every lineage commit vanishes
    val lroot = new Path(s"$root/lineage")
    val fs = lroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(lroot).foreach(s => fs.delete(s.getPath, true))

    // a new file lands BEFORE the retry → the todo set differs from the
    // crashed run's; per-(file, content) batch ids must still dedupe
    val batch2 = Transcripts.synthesize(spark, numConvs = 3, turnsPerConv = 10).toDF()
      .withColumn("conv_id", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("late-"), $"conv_id"))
    table.append(batch2)
    val r = Pipeline.run(spark, table, lineage, cfg, out)
    assert(r.inputRows == 130) // retry reprocesses everything (lineage lost)…

    // …but the already-delivered batch dirs were not rewritten: totals
    // equal one clean run over the same content
    val root2 = tmp()
    val table2 = new SnapshotTable(spark, s"$root2/table")
    table2.append(batch1.unionByName(batch2))
    Pipeline.run(spark, table2, new LineageStore(spark, s"$root2/lineage"),
      cfg, s"$root2/sinks")
    assert(sinkRows(out, "all") == sinkRows(s"$root2/sinks", "all"))
    assert(sinkRows(out, "errors") == sinkRows(s"$root2/sinks", "errors"))
    assert(sinkRows(out, "all") > afterFirst) // the late file did land
  }

  test("content-hash mismatch invalidates and reprocesses the changed file") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    val out = s"$root/sinks"

    table.append(Transcripts.synthesize(spark, numConvs = 5, turnsPerConv = 6).toDF())
    val r1 = Pipeline.run(spark, table, lineage, cfg, out)
    assert(r1.processedFiles.nonEmpty)

    // rewrite one committed data file in place (rotation/truncation analogue)
    val victim = r1.processedFiles.head
    val replacement = Transcripts.synthesize(spark, numConvs = 2, turnsPerConv = 3).toDF()
    val tmpOut = s"$root/replacement"
    replacement.coalesce(1).write.mode("overwrite").parquet(tmpOut)
    val fs = new Path(victim).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newPart = fs.listStatus(new Path(tmpOut))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.delete(new Path(victim), false)
    require(fs.rename(newPart, new Path(victim)))

    val r2 = Pipeline.run(spark, table, lineage, cfg, out)
    assert(r2.invalidatedFiles == Seq(victim))
    assert(r2.processedFiles == Seq(victim))
    // lineage now reflects the new content's hash for the victim
    val r3 = Pipeline.run(spark, table, lineage, cfg, out)
    assert(r3.processedFiles.isEmpty && r3.invalidatedFiles.isEmpty)
  }

  test("multiline pipeline: records assembled before routing, metadata inherited") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    import org.apache.spark.sql.functions.{col, length}
    val turns = Transcripts.synthesize(spark, numConvs = 12, turnsPerConv = 8).toDF()
    table.append(turns)
    val mlCfg = cfg.copy(multiline = Some(graft.model.MultilineSpec(
      graft.model.MultilineMode.HaltBefore, "^(CALL|INFO|ask)")))
    val r = Pipeline.run(spark, table, lineage, mlCfg, s"$root/sinks")
    assert(r.inputRows == 96)
    val delivered = spark.read.parquet(s"$root/sinks/all")
    // expected record count from the single-threaded FSM over non-blank lines
    val rows = turns.filter(length(col("text")) > 0)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect()
    val expectedRecords = rows.groupBy(_._1).map { case (_, ts) =>
      graft.operators.Segments.runFsm(
        graft.model.MultilineSpec(graft.model.MultilineMode.HaltBefore, "^(CALL|INFO|ask)"),
        ts.sortBy(_._2).map(_._3).iterator).size
    }.sum
    // every record routes to role:<first-line role> (+ tool: when first line is a tool turn)
    val distinctRecords = delivered.select("conv_id", "turn_idx").distinct().count()
    assert(distinctRecords == expectedRecords)
    assert(r.perSinkDelivered("all") == delivered.count())
    // multi-line records contain embedded newlines
    assert(delivered.filter(col("message").contains("\n")).count() > 0)
  }

  test("config include/exclude filters the manifest before processing (S3 wiring)") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    table.append(Transcripts.synthesize(spark, 4, 5).toDF())

    // exclude every data file → nothing to do, no sinks written
    val rNone = Pipeline.run(spark, table,
      new LineageStore(spark, s"$root/l1"),
      cfg.copy(exclude = Seq("*.parquet")), s"$root/s1")
    assert(rNone.processedFiles.isEmpty && rNone.inputRows == 0)

    // a glob include admits the data files (and, being "specific",
    // ignores broad-dir includes as filters)
    val rAll = Pipeline.run(spark, table,
      new LineageStore(spark, s"$root/l2"),
      cfg.copy(include = Seq("*.parquet")), s"$root/s2")
    assert(rAll.processedFiles.nonEmpty && rAll.inputRows == 20)
  }

  test("snapshot isolation: read-at-snapshot pins the file list") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    val s1 = table.append(Transcripts.synthesize(spark, 3, 4).toDF())
    val s2 = table.append(Transcripts.synthesize(spark, 2, 4).toDF()
      .withColumn("conv_id", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("x-"), $"conv_id")))
    assert(table.read(spark, s1).count() == 12)
    assert(table.read(spark, s2).count() == 20)
    assert(table.currentSnapshotId.contains(s2))
    assert(table.filesAt(s1).toSet.subsetOf(table.filesAt(s2).toSet))
  }

  test("lossy remote sink: rejected rows counted as failed, never delivered, never lost silently") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    val out = s"$root/sinks"
    // 'flaky' rejects err rows after admitting everything; 'all' is lossless
    val lossy = PipelineConfig(sinks = Seq(
      SinkRule("all"),
      SinkRule("flaky", rejectWhere = Seq("status=err"))))
    table.append(Transcripts.synthesize(spark, numConvs = 20, turnsPerConv = 10).toDF())
    val r = Pipeline.run(spark, table, lineage, lossy, out)

    val errRows = spark.read.parquet(s"$out/all")
      .filter(org.apache.spark.sql.functions.col("message").contains("status=err")).count()
    assert(errRows > 0) // the fixture produces rejectable rows
    // attempted = delivered + failed: flaky's failures equal all's err rows
    assert(r.perSinkFailed("flaky") == errRows)
    assert(r.perSinkDelivered("flaky") + r.perSinkFailed("flaky") == r.perSinkDelivered("all"))
    assert(r.perSinkFailed("all") == 0)
    // rejected rows never landed in the sink dir
    assert(spark.read.parquet(s"$out/flaky")
      .filter(org.apache.spark.sql.functions.col("message").contains("status=err")).count() == 0)
    assert(sinkRows(out, "flaky") == r.perSinkDelivered("flaky"))
    // lineage rows carry the failure accounting per (file, sink)
    val entries = lineage.readAll().filter(_.sink == "flaky")
    assert(entries.map(_.rowsFailed).sum == errRows)
    // replay: the file is committed (attempted), not retried forever
    val r2 = Pipeline.run(spark, table, lineage, lossy, out)
    assert(r2.processedFiles.isEmpty)
  }

  test("deviceAndInode strategy: path identity — in-place rewrite NOT invalidated; labels ride rows") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    val out = s"$root/sinks"
    val devCfg = cfg.copy(fingerprintStrategy = "deviceAndInode",
      labels = Map("env" -> "prod"))
    table.append(Transcripts.synthesize(spark, numConvs = 5, turnsPerConv = 6).toDF())
    val r1 = Pipeline.run(spark, table, lineage, devCfg, out)
    assert(r1.processedFiles.nonEmpty)
    // labels map rides every delivered row (SinkConfig.Labels parity)
    val delivered = spark.read.parquet(s"$out/all")
    assert(delivered.filter(
      org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.col("labels"), "env") === "prod")
      .count() == delivered.count())

    // rewrite one committed data file in place: dev:ino identity does NOT
    // detect it (the documented strategy trade-off, file_id_linux.go)
    val victim = r1.processedFiles.head
    val replacement = Transcripts.synthesize(spark, 2, 3).toDF()
    val tmpOut = s"$root/replacement"
    replacement.coalesce(1).write.mode("overwrite").parquet(tmpOut)
    val fs = new Path(victim).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newPart = fs.listStatus(new Path(tmpOut))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.delete(new Path(victim), false)
    require(fs.rename(newPart, new Path(victim)))
    val r2 = Pipeline.run(spark, table, lineage, devCfg, out)
    assert(r2.invalidatedFiles.isEmpty && r2.processedFiles.isEmpty)
  }

  test("lineage commit-dir count stays bounded across runs (size-triggered compaction)") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage", maxCommitDirs = 3)
    val out = s"$root/sinks"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def commitDirCount: Int = fs.listStatus(new Path(s"$root/lineage"))
      .count(_.getPath.getName.startsWith("commit-"))
    (1 to 6).foreach { i =>
      table.append(Transcripts.synthesize(spark, 2, 4).toDF()
        .withColumn("conv_id", org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit(s"b$i-"), $"conv_id")))
      val r = Pipeline.run(spark, table, lineage, cfg, out)
      assert(r.processedFiles.nonEmpty && r.inputRows == 8)
      // one commit per run, compacted whenever the count exceeds the cap
      assert(commitDirCount <= 4, s"run $i left $commitDirCount commit dirs")
    }
    // resume semantics survive compaction: nothing re-processes, totals intact
    val replay = Pipeline.run(spark, table, lineage, cfg, out)
    assert(replay.processedFiles.isEmpty && replay.invalidatedFiles.isEmpty)
    assert(lineage.readAll().filter(_.sink == "all").map(_.rowsDelivered).sum
      == sinkRows(out, "all"))
  }

  test("removed files are pruned from lineage (offset delete analogue)") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    table.append(Transcripts.synthesize(spark, 4, 5).toDF())
    Pipeline.run(spark, table, lineage, cfg, s"$root/sinks")
    val before = lineage.readAll().map(_.file).distinct

    // simulate compaction: a new manifest without one of the files
    val current = table.currentSnapshotId.get
    val keep = table.filesAt(current).tail
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new Path(s"$root/table/manifests/manifest-${"%012d".format(current + 1)}.txt")
    val outS = fs.create(manifest, true)
    outS.write(((current + 1).toString +: keep).mkString("\n").getBytes("UTF-8"))
    outS.close()

    val r = Pipeline.run(spark, table, lineage, cfg, s"$root/sinks")
    assert(r.prunedFiles == before.diff(keep))
    assert(lineage.readAll().map(_.file).distinct.toSet == keep.toSet)
  }

  test("HTTP wire sink: delivered+failed in lineage match the remote's bulk outcomes exactly") {
    import java.nio.charset.StandardCharsets
    import java.util.concurrent.atomic.AtomicLong
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val accepted = new AtomicLong; val rejected = new AtomicLong
    val posts = new AtomicLong
    // fake _bulk endpoint rejecting err-status docs per item (429)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        posts.incrementAndGet()
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val docs = body.split("\n").filter(_.nonEmpty).grouped(2).map(_.last).toSeq
        val items = docs.map { d =>
          if (d.contains("status=err")) {
            rejected.incrementAndGet(); """{"index":{"status":429}}"""
          } else { accepted.incrementAndGet(); """{"index":{"status":201}}""" }
        }
        val resp =
          s"""{"took":1,"errors":${docs.exists(_.contains("status=err"))},"items":[${items.mkString(",")}]}"""
            .getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, resp.length.toLong)
        val os = ex.getResponseBody
        try os.write(resp) finally os.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = tmp()
      val table = new SnapshotTable(spark, s"$root/table")
      val lineage = new LineageStore(spark, s"$root/lineage")
      val out = s"$root/sinks"
      val wcfg = PipelineConfig(
        sinks = Seq(SinkRule("wire", kind = "opensearch",
          url = Some(url), target = "logs-graft")),
        batchSize = 7) // small batches: several POSTs per partition
      table.append(Transcripts.synthesize(spark, numConvs = 12, turnsPerConv = 8).toDF())
      val r = Pipeline.run(spark, table, lineage, wcfg, out)

      // the remote's own per-item accounting IS the lineage accounting
      assert(rejected.get() > 0, "fixture must produce remote-rejected docs")
      assert(r.perSinkDelivered("wire") == accepted.get())
      assert(r.perSinkFailed("wire") == rejected.get())
      // attempted (rows in the committed dirs, fan-out included) = d + f
      assert(sinkRows(out, "wire") == accepted.get() + rejected.get())
      val entries = lineage.readAll().filter(_.sink == "wire")
      assert(entries.map(_.rowsDelivered).sum == accepted.get())
      assert(entries.map(_.rowsFailed).sum == rejected.get())
      assert(posts.get() >= sinkRows(out, "wire") / 7)

      // replay: committed batch dirs are never re-POSTed
      val postsBefore = posts.get()
      val r2 = Pipeline.run(spark, table, lineage, wcfg, out)
      assert(r2.processedFiles.isEmpty && posts.get() == postsBefore)
    } finally server.stop(0)
  }

  test("dedup retraction: content removed by a rewrite re-delivers from a later new file") {
    import org.apache.spark.sql.functions.{col, lit}
    def campaign(retract: Boolean): (Long, Long) = {
      val root = tmp()
      val dcfg = PipelineConfig(
        sinks = Seq(SinkRule("all", kind = "parquet")),
        dedup = Some(graft.model.DedupStageSpec("exact", s"$root/store",
          retractOnInvalidate = retract)))
      val table = new SnapshotTable(spark, s"$root/table")
      val lineage = new LineageStore(spark, s"$root/lineage")
      val out = s"$root/sinks"
      table.append(Transcripts.synthesize(spark, numConvs = 6, turnsPerConv = 6).toDF())
      val r1 = Pipeline.run(spark, table, lineage, dcfg, out)

      // rewrite one file in place REMOVING one conversation entirely;
      // texts unique to the victim file are what the rewrite removed
      val victim = r1.processedFiles.head
      val oldRows = spark.read.parquet(victim)
      val removedConv = oldRows.select("conv_id").distinct()
        .orderBy("conv_id").head.getString(0)
      val others = r1.processedFiles.tail
      val elsewhere =
        if (others.isEmpty) Set.empty[String]
        else spark.read.parquet(others: _*).select("text")
          .distinct().collect().map(_.getString(0)).toSet
      val keptRows = oldRows.filter(col("conv_id") =!= removedConv)
      val keptTexts = keptRows.select("text").distinct()
        .collect().map(_.getString(0)).toSet
      // truly removed = nowhere else in the corpus after the rewrite
      val removedTexts = oldRows.filter(col("conv_id") === removedConv)
        .select("text").distinct().collect().map(_.getString(0))
        .filter(t => t.nonEmpty && !elsewhere(t) && !keptTexts(t))
      assert(removedTexts.nonEmpty, "fixture needs texts unique to the victim")
      val tmpOut = s"$root/replacement"
      keptRows.coalesce(1).write.mode("overwrite").parquet(tmpOut)
      val fs = new Path(victim).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val newPart = fs.listStatus(new Path(tmpOut))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.delete(new Path(victim), false)
      require(fs.rename(newPart, new Path(victim)))
      val r2 = Pipeline.run(spark, table, lineage, dcfg, out)
      assert(r2.invalidatedFiles == Seq(victim))

      // a NEW file later carries exactly the removed texts
      val seed = Transcripts.synthesize(spark, numConvs = 1, turnsPerConv = removedTexts.size)
        .toDF().withColumn("conv_id", lit("carrier-0001"))
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      val w = Window.orderBy("turn_idx")
      val carrier = seed.withColumn("__rn", row_number().over(w) - 1)
        .withColumn("text", org.apache.spark.sql.functions
          .element_at(org.apache.spark.sql.functions.typedLit(removedTexts.toSeq),
            col("__rn") + 1))
        .drop("__rn")
      table.append(carrier)
      val r3 = Pipeline.run(spark, table, lineage, dcfg, out)
      // replay afterwards is always a no-op
      val r4 = Pipeline.run(spark, table, lineage, dcfg, out)
      assert(r4.processedFiles.isEmpty)
      // how many of the removed texts made it back into the sink?
      val sinkTexts = spark.read.parquet(s"$out/all")
        .filter(col("src_file").contains(new Path(r3.processedFiles.head).getName))
        .select("message").distinct().collect().map(_.getString(0)).toSet
      (removedTexts.count(sinkTexts), r3.perSinkDelivered("all"))
    }
    val (redelivered, n) = campaign(retract = true)
    assert(redelivered > 0 && n > 0,
      "retraction must make rewrite-removed content deliverable again")
    val (suppressed, _) = campaign(retract = false)
    assert(suppressed == 0,
      "without retraction the store keeps suppressing removed content (the documented limit)")
  }

  test("a lineage store written before the rowsFailed column stays readable") {
    val root = tmp()
    // hand-write a commit dir with the PRE-rowsFailed schema (7 columns)
    spark.createDataFrame(Seq(
      ("r1", 1L, "f1.parquet", "all", 10L, "h1", 123L)))
      .toDF("runId", "snapshotId", "file", "sink", "rowsDelivered",
        "contentHash", "committedAtMs")
      .write.parquet(s"$root/lineage/commit-000001-old")
    val lineage = new LineageStore(spark, s"$root/lineage")
    // old rows read back with rowsFailed defaulted, not UNRESOLVED_COLUMN
    val entries = lineage.readAll()
    assert(entries.map(e => (e.file, e.rowsDelivered, e.rowsFailed)) ==
      Seq(("f1.parquet", 10L, 0L)))
    // a post-change commit mixes in cleanly and both generations survive
    // a prune/compaction cycle through the normalized reader
    lineage.commit(Seq(graft.checkpoint.LineageEntry(
      "r2", 2L, "f2.parquet", "all", 5L, 1L, "h2", 456L)))
    val mixed = lineage.readAll().map(e => (e.file, e.rowsFailed)).toSet
    assert(mixed == Set(("f1.parquet", 0L), ("f2.parquet", 1L)))
    val removed = lineage.pruneTo(Set("f2.parquet"))
    assert(removed.map(_.file) == Seq("f1.parquet"))
    assert(lineage.readAll().map(_.file) == Seq("f2.parquet"))
  }

  test("a fully-duplicate batch still reports its input rows (exact and minhash dedup)") {
    Seq("exact", "minhash").foreach { mode =>
      val root = tmp()
      val dcfg = PipelineConfig(
        sinks = Seq(SinkRule("all", kind = "parquet")),
        dedup = Some(graft.model.DedupStageSpec(mode, s"$root/store")))
      val table = new SnapshotTable(spark, s"$root/table")
      val lineage = new LineageStore(spark, s"$root/lineage")
      val out = s"$root/sinks"
      val batch = Transcripts.synthesize(spark, numConvs = 10, turnsPerConv = 10).toDF()
      table.append(batch)
      val r1 = Pipeline.run(spark, table, lineage, dcfg, out)
      assert(r1.inputRows == 100 && r1.perSinkDelivered("all") > 0, mode)
      // the same batch again: every row is already in the store
      table.append(batch)
      val r2 = Pipeline.run(spark, table, lineage, dcfg, out)
      assert(r2.processedFiles.nonEmpty, mode)
      assert(r2.inputRows == 100, mode)
      assert(r2.blankRows == r1.blankRows, mode)
      assert(r2.perSinkDelivered("all") == 0, mode)
      assert(sinkRows(out, "all") == r1.perSinkDelivered("all"), mode)
    }
  }

  test("sink names outside the identifier grammar land under <out>/<name>/batch=…") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    val out = s"$root/sinks"
    val odd = Seq("errors.v2", "a b=c%")
    val ocfg = PipelineConfig(sinks = Seq(
      SinkRule(odd(0), include = Seq("status=err")), SinkRule(odd(1))))
    table.append(Transcripts.synthesize(spark, numConvs = 8, turnsPerConv = 6).toDF())
    val r = Pipeline.run(spark, table, lineage, ocfg, out)
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // exactly the two sink dirs, nothing left staged
    assert(fs.listStatus(new Path(out)).map(_.getPath.getName).toSet == odd.toSet)
    val entries = lineage.readAll()
    odd.foreach { name =>
      val batches = fs.listStatus(new Path(new Path(out), name)).map(_.getPath.getName)
      assert(batches.nonEmpty && batches.forall(_.startsWith("batch=")), s"$name: $batches")
      val landed = sinkRows(out, name)
      assert(landed > 0, name)
      assert(entries.filter(_.sink == name).map(_.rowsDelivered).sum == landed, name)
      assert(r.perSinkDelivered(name) == landed, name)
    }
  }

  test("partial crash: only the lost (sink, batch) dir is rewritten; totals equal a clean run") {
    val root = tmp()
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    val out = s"$root/sinks"
    val batch = Transcripts.synthesize(spark, numConvs = 10, turnsPerConv = 10).toDF()
    table.append(batch)
    Pipeline.run(spark, table, lineage, cfg, out)

    // crash: one sink's batch dir and every lineage commit are lost
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lost = fs.listStatus(new Path(s"$out/errors")).map(_.getPath).minBy(_.getName)
    fs.delete(lost, true)
    val lroot = new Path(s"$root/lineage")
    fs.listStatus(lroot).foreach(s => fs.delete(s.getPath, true))
    val survivors = dataFiles(out)
    val r = Pipeline.run(spark, table, lineage, cfg, out)

    val lostPath = new java.io.File(lost.toUri.getPath).getPath
    val after = dataFiles(out)
    // every surviving file is untouched; new files appear only in the lost dir
    assert(survivors.forall { case (f, t) => after.get(f).contains(t) })
    val rewritten = after.keySet -- survivors.keySet
    assert(rewritten.nonEmpty && rewritten.forall(_.startsWith(lostPath + "/")))

    val root2 = tmp()
    val table2 = new SnapshotTable(spark, s"$root2/table")
    table2.append(batch)
    val clean = Pipeline.run(spark, table2, new LineageStore(spark, s"$root2/lineage"),
      cfg, s"$root2/sinks")
    Seq("all", "errors").foreach { s =>
      assert(sinkRows(out, s) == sinkRows(s"$root2/sinks", s), s)
      assert(r.perSinkDelivered(s) == clean.perSinkDelivered(s), s)
    }
  }

  test("dedup on: each delivered route_key dir holds exactly one data file") {
    val root = tmp()
    val dcfg = cfg.copy(dedup = Some(graft.model.DedupStageSpec("exact", s"$root/store")))
    val table = new SnapshotTable(spark, s"$root/table")
    val lineage = new LineageStore(spark, s"$root/lineage")
    val out = s"$root/sinks"
    table.append(Transcripts.synthesize(spark, numConvs = 12, turnsPerConv = 10,
      numPartitions = 3).toDF())
    Pipeline.run(spark, table, lineage, dcfg, out)
    val perLeaf = dataFiles(out).keys.toSeq
      .groupBy(f => new java.io.File(f).getParent)
    assert(perLeaf.nonEmpty)
    assert(perLeaf.keys.forall(_.contains("/route_key=")))
    assert(perLeaf.values.forall(_.size == 1),
      perLeaf.filter(_._2.size != 1).keys.mkString(", "))
  }

  test("delivery is ONE write under the sink root per run, whatever the sink count") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    final class WriteTap extends QueryExecutionListener {
      val outputs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      @volatile var sentinelSeen = false
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        qe.logical.foreach {
          case c: InsertIntoHadoopFsRelationCommand => outputs.add(c.outputPath.toUri.getPath)
          case _ =>
        }
        if (qe.logical.output.exists(_.name == "write_tap_sentinel")) sentinelSeen = true
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def writesUnder(out: String)(body: => Unit): Int = {
      val tap = new WriteTap
      spark.listenerManager.register(tap)
      try {
        body
        // listener events arrive in order: once the sentinel query is seen,
        // every write of `body` has been seen too
        spark.range(1).select(org.apache.spark.sql.functions.lit(1)
          .as("write_tap_sentinel")).collect()
        val deadline = System.nanoTime() + 30000000000L
        while (!tap.sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
        assert(tap.sentinelSeen)
      } finally spark.listenerManager.unregister(tap)
      val prefix = new java.io.File(out).getAbsolutePath + "/"
      tap.outputs.toArray.count(_.toString.startsWith(prefix))
    }
    val three = PipelineConfig(sinks = Seq(SinkRule("all"),
      SinkRule("errors", include = Seq("status=err")),
      SinkRule("clean", exclude = Seq("status=err", "INFO"))))
    Seq(PipelineConfig(sinks = Seq(SinkRule("all"))), three).foreach { c =>
      val root = tmp()
      val table = new SnapshotTable(spark, s"$root/table")
      val lineage = new LineageStore(spark, s"$root/lineage")
      val out = s"$root/sinks"
      table.append(Transcripts.synthesize(spark, numConvs = 6, turnsPerConv = 6).toDF())
      var r: Pipeline.RunReport = null
      assert(writesUnder(out) { r = Pipeline.run(spark, table, lineage, c, out) } == 1,
        s"${c.sinks.size} sinks")
      c.sinks.foreach(s => assert(sinkRows(out, s.name) == r.perSinkDelivered(s.name)))
    }
  }
}
