package graft

import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.checkpoint.{CommitLog, Fingerprint, LineageStore}
import graft.model.PipelineConfig
import graft.operators.{Enrich, Parse, Route}
import graft.sources.TranscriptTable

/** One pipeline run = freader's collector loop re-expressed as a batch:
  *
  *  1. discovery     — manifest listing of the current snapshot (S1/S5),
  *                     each file fingerprinted in ONE executor-side pass
  *  2. resume diff   — ONE query over ONE lineage read: the per-file
  *                     lineage summary full-outer-joined with the
  *                     fingerprints, collecting only the files not done
  *                     ([[resumeDiff]]): new files and files some sink
  *                     lacks are todo (the offset-restore join, J3); a
  *                     hash mismatch invalidates that file's lineage and
  *                     reprocesses it from scratch (S9); lineage files
  *                     no longer in the manifest are vanished
  *  3. removal       — vanished files' lineage entries are pruned (J4
  *                     set-difference → offset Delete); the store is
  *                     rewritten only when the diff found any
  *  4. process       — parse → enrich → route as ONE lazy plan, never
  *                     persisted: the source is a pinned snapshot of
  *                     immutable files, so the delivery write and the
  *                     lineage counts each recompute the identical fan-out
  *                     (consistent-fan-out requirement, SURVEY §4). With a
  *                     dedup stage, ONE staged batch over every todo row
  *                     drops content earlier runs delivered; invalidated
  *                     files' sources are retracted from the store first
  *  5. deliver       — ONE distributed write for every sink, partitioned by
  *                     (sink, batch, route_key) under a per-run `_tmp-*`
  *                     staging dir (a crashed run's one ages out),
  *                     then one atomic rename per new
  *                     `<outDir>/<sink>/batch=<id>` dir. The batch id is a
  *                     pure function of ONE file's path and content hash
  *                     (content-addressed per file, NOT per run): a batch
  *                     dir that already exists is never rewritten, so
  *                     replay after a crash re-delivers nothing even if the
  *                     todo set has meanwhile changed (a run-wide id would
  *                     mint fresh dirs for already-delivered files in
  *                     exactly that window)
  *  6. commit        — per-(file, sink) lineage rows written atomically
  *                     AFTER all sink writes succeeded, mirroring "offset
  *                     saved only after the callback batch completed"
  *                     (internal/collector/collector.go:104-117); the rows
  *                     are computed and written distributed (one shared
  *                     scan), never collected per-file to the driver, and
  *                     the report's per-sink totals are observed on that
  *                     same write
  */
object Pipeline {

  final case class RunReport(
      runId: String,
      snapshotId: Long,
      processedFiles: Seq[String],
      invalidatedFiles: Seq[String],
      prunedFiles: Seq[String],
      perSinkDelivered: Map[String, Long],
      inputRows: Long,
      blankRows: Long,
      /** Rows attempted but rejected by the remote, per sink — the
        * NumFailed accounting (opensearch.go:123-138): a lossy sink can
        * never silently undercount, because attempted = delivered + failed
        * is checkable per (file, sink) in the lineage rows.
        */
      perSinkFailed: Map[String, Long] = Map.empty,
      /** Text bytes processed (the bytes_total observation) — feeds
        * freader_bytes_total in the metrics rendering.
        */
      inputBytes: Long = 0L,
      /** Manifest files visible to this run after path filtering —
        * files_seen; manifestFiles − processedFiles = the offset-restored
        * no-ops (restored_offsets analogue).
        */
      manifestFiles: Int = 0)

  /** Content-addressed batch id of ONE input file: a pure function of
    * (path, content hash), so replay of the same content always targets
    * the same sink directory — the idempotency key. A reprocessed file
    * with NEW content lands in a NEW dir (and its stale dir is removed).
    */
  def fileBatchId(file: String, contentHash: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(s"$file:$contentHash".getBytes("UTF-8"))
    // 96 bits: a birthday collision across ~10^6 files would silently
    // merge two files' deliveries, so the id must stay collision-free at
    // manifest scale (48 bits would already be ~0.1% there)
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** The files a resume must act on, each list sorted by file:
    * `vanished` = lineage files no longer in the manifest (to prune),
    * `invalidated` = (file, previous hash) of manifest files whose
    * fingerprint differs from their last-written lineage hash, `todo` =
    * (file, current hash) of manifest files to process: no lineage, an
    * invalidated file, or fewer configured sinks with a row than
    * configured.
    */
  final case class ResumeDiff(
      vanished: Seq[String],
      invalidated: Seq[(String, String)],
      todo: Seq[(String, String)])

  /** S9 + J3 + J4 as ONE query over one lineage read and one fingerprint
    * pass: the lineage entries grouped by file — previous hash
    * last-writer-wins by `committedAtMs` over every sink, and the count of
    * distinct configured sinks — full-outer-joined with the manifest
    * fingerprints (`file`, `contentHash`). Only the rows that are not done
    * reach the driver, so a no-op resume collects nothing, and the
    * fingerprints are computed once whatever the outcome.
    */
  private[graft] def resumeDiff(entries: DataFrame, fingerprints: DataFrame,
      sinks: Seq[String]): ResumeDiff = {
    val perFile = entries.groupBy(col("file")).agg(
      max(struct(col("committedAtMs"), col("contentHash")))
        .getField("contentHash").as("prevHash"),
      size(collect_set(when(col("sink").isin(sinks: _*), col("sink")))).as("ns"))
    val notDone = fingerprints.join(perFile, Seq("file"), "full_outer")
      .filter(col("contentHash").isNull || col("prevHash").isNull ||
        col("contentHash") =!= col("prevHash") || col("ns") < sinks.size)
      .select("file", "contentHash", "prevHash")
      .collect().map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    ResumeDiff(
      vanished = notDone.collect { case (f, None, _) => f },
      invalidated = notDone.collect { case (f, Some(h), Some(p)) if h != p => f -> p },
      todo = notDone.collect { case (f, Some(h), _) => f -> h })
  }

  def run(
      spark: SparkSession,
      table: TranscriptTable,
      lineage: LineageStore,
      cfg: PipelineConfig,
      outDir: String): RunReport = {

    // validation and the matcher share the one directory test, over the
    // session's Hadoop configuration
    val isDir = operators.PathFilter.isDir(spark.sparkContext.hadoopConfiguration)
    cfg.validate(isDir).left.foreach(err => throw new IllegalArgumentException(err))
    val runId = java.util.UUID.randomUUID().toString.take(12)

    val snapId = table.currentSnapshotId.getOrElse(
      return RunReport(runId, -1L, Nil, Nil, Nil, Map.empty, 0L, 0L))
    // S3: include/exclude path filtering over the manifest — the batch
    // analogue of the watcher's walk filter (watcher.go:173-179). The
    // manifest is driver-side metadata, so the compiled matcher runs here;
    // PathFilter.column is the distributed twin for path columns.
    val pathSpec = operators.PathFilter.compile(cfg.include, cfg.exclude, isDir)
    val files = table.filesAt(snapId)
      .filter(f => operators.PathFilter.matches(pathSpec, f))

    // fingerprint strategy (watcher/config.go:21-42): deviceAndInode is
    // storage identity — the path — so in-place rewrites are undetected by
    // design; checksum/checksumSeparator hash a content prefix + length
    // (separator framing belongs to text rows; for binary snapshot files
    // it maps to the prefix checksum — Model.scala divergence note)
    import spark.implicits._
    val fpDf =
      if (cfg.fingerprintStrategy == "deviceAndInode")
        files.toDF("file").select(col("file"), col("file").as("contentHash"))
      else Fingerprint.ofFilesDf(spark, files, cfg.fingerprintSize)
    val diff = resumeDiff(lineage.entriesDf(), fpDf, cfg.sinks.map(_.name))
    val invalidated = diff.invalidated.map(_._1)
    val oldHashByFile = diff.invalidated.toMap

    // J4: prune lineage of vanished files — a rewrite of the store, so it
    // runs only when the diff saw any, and still before delivery
    val pruned =
      if (diff.vanished.isEmpty) Nil
      else lineage.pruneTo(files.toSet).map(_.file).distinct.sorted

    val todo = diff.todo.map(_._1)
    if (todo.isEmpty)
      return RunReport(runId, snapId, Nil, invalidated, pruned, Map.empty,
        0L, 0L, manifestFiles = files.size)

    // the distributed fingerprints serve both as the idempotency key (a
    // reprocessed file with NEW content must land in a NEW batch dir) and
    // as the lineage rows' content hash
    val fps = diff.todo.toMap
    val bids = todo.map(f => f -> fileBatchId(f, fps(f))).toMap
    // A5 collector metrics (lines_total / bytes_total / blank) ride on the
    // delivery jobs via Observation — no extra scan of the input
    val obs = new Observation(s"graft-$runId")
    val inputAggs = Seq(
      count(lit(1)).as("lines_total"),
      coalesce(sum(length(col("text"))), lit(0L)).as("bytes_total"),
      coalesce(sum(when(length(col("text")) === 0, 1L).otherwise(0L)), lit(0L))
        .as("blank_total"))
    val scanned = spark.read.parquet(todo: _*)
      .withColumn("src_file", input_file_name())
    val src = scanned.observe(obs, inputAggs.head, inputAggs.tail: _*)

    // Optional multiline assembly: blank lines are dropped first (the
    // blank-record rule — counted in the observation, never delivered,
    // tail_reader.go:272-279), records inherit first-line metadata.
    val turns = cfg.multiline match {
      case Some(spec) =>
        operators.Segments.assembleFsmRows(
          src.filter(length(col("text")) > 0), spec, cfg.lineagePartitions)
      case None => src
    }

    // Optional incremental content-dedup stage: rows whose text any
    // earlier run delivered (exact — or near-dup under minhash) are
    // dropped before routing. The stage is STAGED (operators/Dedup): the
    // survivors flow on, but the store publishes only after the lineage
    // commit below, so a crash-and-replay before that point re-derives the
    // identical survivor set instead of losing it to an eagerly-committed
    // store. (The converse window — lineage committed, store not — only
    // risks a FUTURE batch re-delivering the same content once; replays of
    // THIS batch are no-ops via the sink batch-dir check regardless.)
    // The dedup id is a content-addressed stable key, not a row number:
    // deterministic under reshuffles and re-runs.
    //
    // INVALIDATED files (S9) are read again from the start, as freader
    // treats a file whose fingerprint no longer matches as new
    // (internal/tailer/tail_reader.go:95-106): their rows stage with the
    // rest of the run. What keeps a rewritten file's content deliverable
    // is RETRACTION (offset Delete on removal, collector.go:206-214):
    // every store commit carries (content_h60, src-basename) provenance,
    // and an invalidated file's hashes are rewritten OUT of the store
    // before staging — its old delivery dirs are deleted below, so content
    // only that file delivered must deliver again. Hashes whose provenance
    // is another (still-live) file stay: that file's sink dirs still hold
    // the content, so the rewritten file's copy of it is dropped, not
    // delivered twice.
    //
    // CRASH-REPLAY ATTRIBUTION WINDOW (documented, accepted): the within-
    // run exact dedup attributes each surviving row to the
    // lexicographically-lowest __dedup_id (uuid-prefixed src_file). If a
    // crash lands between a sink batch-dir rename and the lineage commit,
    // AND a new file with the same content arrives before replay, the
    // replayed run can attribute the survivor to the NEW file — the
    // content then exists in the old (renamed, never-rewritten) batch dir
    // and the new file's dir: at-least-once in exactly that window. Any
    // survivor choice over a candidate set that changed between runs can
    // flip; the exactly-once guarantee is per content-addressed FILE
    // delivery, and the window closes at the lineage commit.
    val dedupStage = cfg.dedup.map { dd =>
      operators.Dedup.retractSources(spark, dd.storeDir,
        invalidated.map(f => new Path(f).getName))
      // the dedup id is length-prefixed per field (and null-flagged), so
      // no '#' inside conv_id — and no null — can make two distinct rows
      // share an id (a shared id would drop BOTH rows when either loses
      // a near-dup verdict, silently losing a distinct row)
      def lp(c: org.apache.spark.sql.Column) =
        when(c.isNull, lit("-:")).otherwise(
          concat(length(c).cast("string"), lit(":"), c))
      val withId = turns
        .withColumn("__dedup_id",
          concat(lp(col("src_file")), lit("#"), lp(col("conv_id")),
            lit("#"), col("turn_idx").cast("string")))
        .withColumn("__src", substring_index(col("src_file"), "/", -1))
      if (dd.mode == "minhash")
        operators.Dedup.incrementalMinhashStaged(withId, "__dedup_id", "text",
          dd.storeDir, dd.ngram, dd.bands, dd.rowsPerBand, dd.threshold,
          srcCol = Some("__src"))
      else
        operators.Dedup.incrementalExactStaged(withId, "__dedup_id", "text",
          dd.storeDir, srcCol = Some("__src"))
    }
    val toRoute = dedupStage.map(_.fresh.drop("__dedup_id", "__src")).getOrElse(turns)

    // One logical fan-out; every sink and count derives from this plan.
    // NOT persisted: the source is a pinned snapshot of immutable files, so
    // recomputation is deterministic (consistency comes from snapshot
    // isolation, not caching) — and measured cache build+read here is
    // slower than re-running the codegen'd parse. For a non-snapshot
    // source, stage this projection to parquet once instead.
    val routed = Route.routed(Enrich.enrich(Parse.parseTurns(toRoute)))
      .select(col("ts"), col("host"), col("route_key"), col("text"),
        col("conv_id"), col("turn_idx"), col("verb"), col("dur_ms"),
        col("status"), col("tool_family"), col("src_file"))

    locally {
      val fsRoot = new Path(outDir)
      val fs = fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the sink root's commits are the `<sink>/batch=<id>` dirs one level
      // down, published below; its log stages each run under a `_tmp-*`
      // dir and ages out the ones a crashed run left
      val sinkLog = new CommitLog(fs, fsRoot, "batch=")
      sinkLog.sweep()

      // an invalidated file's OLD content dirs are superseded — remove them
      // so sink totals always reflect the latest content exactly once
      for {
        f <- invalidated; oldHash <- oldHashByFile.get(f); rule <- cfg.sinks
      } fs.delete(new Path(fsRoot,
        s"${rule.name}/batch=${fileBatchId(f, oldHash)}"), true)

      // batch ids ride the rows: basename → bid via a tiny broadcast join
      // (input_file_name() is a qualified URI while manifest paths may be
      // scheme-less, but data-file names are unique — SnapshotTable.append
      // uuid-prefixes them)
      import spark.implicits._
      val bidDf = broadcast(
        todo.map(f => (new Path(f).getName, bids(f))).toDF("fname", "batch"))
      val routedB = routed
        .withColumn("fname", substring_index(col("src_file"), "/", -1))
        .join(bidDf, "fname")

      // every (row, accepting sink) pair, flagged where that sink's remote
      // rejects the row: the one sink fan-out the delivery write and the
      // lineage counts both derive from
      val failFlag = cfg.sinks.foldLeft(lit(false)) { (acc, r) =>
        when(col("sink") === r.name,
          Route.rejectPredicate(r, col("text"))).otherwise(acc)
      }
      def perSink(rows: DataFrame): DataFrame = rows
        .withColumn("sink", explode(Route.acceptingSinks(cfg.sinks, col("text"))))
        .withColumn("failed", failFlag)

      // deliver: ONE distributed write for every sink, partitioned by
      // (sink, batch, route_key), then one atomic rename per NEW
      // (sink, batch) dir. Already-present dirs (crash-replay window) are
      // never rewritten, whatever the current todo set looks like.
      val pending: Seq[(String, String)] = cfg.sinks.flatMap { rule =>
        val sinkRoot = new Path(fsRoot, rule.name)
        val existing: Set[String] =
          if (!fs.exists(sinkRoot)) Set.empty
          else fs.listStatus(sinkRoot).map(_.getPath.getName)
            .collect { case n if n.startsWith("batch=") => n.stripPrefix("batch=") }
            .toSet
        todo.map(bids).filterNot(existing).map(rule.name -> _)
      }
      if (pending.nonEmpty) sinkLog.scratch(runId) { staging =>
        // an upstream shuffle (dedup, multiline) spreads every batch over
        // all shuffle partitions, and each partition would write its own
        // file into every (sink, batch, route_key) dir: re-cluster by
        // (batch, route_key) before the sink explode. The explicit count
        // keeps AQE from coalescing a small batch into ONE writer task.
        // Without such a stage the scan is already aligned with the input
        // files (one batch per file), so no exchange is added.
        val clustered =
          if (cfg.dedup.isEmpty && cfg.multiline.isEmpty) routedB
          else routedB.repartition(
            spark.conf.get("spark.sql.shuffle.partitions").toInt,
            col("batch"), col("route_key"))
        // remote-rejected rows are attempted (counted as failed below)
        // but never land in the sink — NumFailed semantics
        val accepted = perSink(clustered).filter(!col("failed"))
        // batch ids are fixed-width hex, so "<sink>/<batch>" is unambiguous
        val subset =
          if (pending.size == cfg.sinks.size * todo.size) accepted
          else accepted.filter(concat(col("sink"), lit("/"), col("batch"))
            .isin(pending.map { case (s, b) => s"$s/$b" }: _*))
        // constant labels ride every delivered row (SinkConfig.Labels
        // parity — the K5/K6 label-map slot)
        val labelsCol =
          if (cfg.labels.isEmpty)
            map().cast("map<string,string>")
          else map(cfg.labels.toSeq.sortBy(_._1)
            .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
        subset
          .select(col("sink"), col("ts"), col("host"), col("route_key"),
            col("batch"), col("text").as("message"), col("conv_id"),
            col("turn_idx"), col("verb"), col("dur_ms"), col("status"),
            col("tool_family"), col("src_file"), labelsCol.as("labels"))
          .write.mode("overwrite").partitionBy("sink", "batch", "route_key")
          .parquet(staging.toString)
        pending.foreach { case (sink, b) =>
          val sinkRoot = new Path(fsRoot, sink)
          fs.mkdirs(sinkRoot)
          // the staged dir name is Spark's partition-path escaping of the
          // sink name (a name with '=', '%', ':' … differs on disk)
          val src = new Path(staging,
            s"${ExternalCatalogUtils.getPartitionPathString("sink", sink)}/batch=$b")
          val dest = new Path(sinkRoot, s"batch=$b")
          if (fs.exists(src) && !fs.exists(dest))
            require(fs.rename(src, dest),
              s"sink commit rename failed for $sink/batch=$b")
        }
      }

      // Wire sinks (rule.url set) additionally POST the just-committed rows
      // over HTTP AFTER the renames — at-most-once per batch dir: a crash
      // between rename and POST is a missed flush on replay, the
      // reference's logged-and-dropped flush analogue — and their exact
      // per-item accounting lands in `wireAcc` for the lineage rows.
      val wireAcc: Seq[DataFrame] = for {
        rule <- cfg.sinks
        wireUrl <- rule.url
        sinkRoot = new Path(fsRoot, rule.name)
        // wire flush: read the committed dirs back (no re-parse — the
        // parquet IS the attempted row set, fan-out included) and POST
        committed = pending.filter(_._1 == rule.name).map(_._2).sorted
          .map(b => new Path(sinkRoot, s"batch=$b").toString)
          .filter(p => fs.exists(new Path(p)))
        if committed.nonEmpty
      } yield {
        // basePath anchors partition discovery over the subset of
        // batch= dirs (leaf roots alone conflict)
        val rows = spark.read.option("basePath", sinkRoot.toString)
          .parquet(committed: _*)
        val doc =
          if (rule.kind == "clickhouse")
            // the INSERT column shape (clickhouse.go:113):
            // (ts, host, labels, message) as JSONEachRow keys
            to_json(struct(col("ts"), col("host"), col("labels"),
              col("message")))
          else
            // the BulkIndexer doc (opensearch.go:103-108)
            to_json(struct(
              date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
                .as("@timestamp"),
              col("message"), col("host"), col("labels")))
        val spec = graft.sinks.HttpSink.WireSpec(rule.kind, wireUrl,
          rule.target, rule.user, rule.pass,
          cfg.batchSize, cfg.batchIntervalMs,
          maxRetries = cfg.batchRetries)
        // the POSTs are a task side effect: a SPECULATIVE duplicate
        // attempt re-delivers its partition's rows, so the
        // at-least-once-per-attempt contract (HttpSink.deliver)
        // is enforced here, not just documented — wire delivery
        // refuses to run under speculation
        require(!spark.sparkContext.getConf
          .getBoolean("spark.speculation", defaultValue = false),
          "wire sinks require spark.speculation=false: a speculative " +
            "task attempt would re-POST rows the original already " +
            "delivered")
        // localCheckpoint(eager) EXECUTES the POSTs here, once: the
        // accounting frame is otherwise lazy and a recomputation
        // (fetch failure, speculative task) would re-POST delivered
        // rows; the pinned result is a handful of per-file counts
        graft.sinks.HttpSink.deliver(
          rows.select(
            substring_index(col("src_file"), "/", -1).as("fname"),
            doc.as("doc")),
          spec).withColumn("sink", lit(rule.name))
          .localCheckpoint(true)
      }

      // per-(sink, file) delivered counts in ONE shared scan, kept
      // DISTRIBUTED: the (todo × sinks) grid left-joins the counts and the
      // lineage rows are written by Spark — nothing per-file ever reaches
      // the driver (at ~800k files × S sinks that is a dataset, not
      // driver metadata)
      val now = System.currentTimeMillis()
      // attempted rows per (sink, fname), split into delivered vs remote-
      // rejected
      val countsDf = perSink(routedB)
        .groupBy("sink", "fname")
        .agg(sum(when(col("failed"), 0L).otherwise(1L)).as("n"),
          sum(when(col("failed"), 1L).otherwise(0L)).as("nf"))
      val fileDf = todo.map(f => (new Path(f).getName, f, fps(f)))
        .toDF("fname", "file", "contentHash")
      val sinkDf = cfg.sinks.map(_.name).toDF("sink")
      // the grid (not countsDf's keys): a sink that delivered zero rows
      // still needs lineage entries, else its files would retry forever.
      // Wire-delivered sinks override the modeled counts with the EXACT
      // per-item bulk outcomes: delivered = wire-accepted, failed =
      // modeled-rejected (never attempted) + wire-rejected. A (sink, file)
      // with no wire row this run (replay of an already-renamed dir — the
      // at-most-once window) falls back to the modeled count.
      val grid = broadcast(fileDf).crossJoin(sinkDf)
        .join(countsDf, Seq("sink", "fname"), "left")
      val withWire =
        if (wireAcc.isEmpty)
          grid.withColumn("wd", lit(null).cast("long"))
            .withColumn("wf", lit(null).cast("long"))
        else grid.join(wireAcc.reduce(_ unionByName _),
          Seq("sink", "fname"), "left")
      // report totals are observed on the commit write itself, one
      // index-named (delivered, failed) aggregate pair per sink — sink
      // names never become Catalyst identifiers
      val sinkObs = new Observation(s"graft-sinks-$runId")
      val sinkAggs = cfg.sinks.zipWithIndex.flatMap { case (r, i) =>
        val mine = col("sink") === r.name
        Seq(sum(when(mine, col("rowsDelivered")).otherwise(0L)).as(s"d_$i"),
          sum(when(mine, col("rowsFailed")).otherwise(0L)).as(s"f_$i"))
      }
      val entriesDf = withWire
        .select(lit(runId).as("runId"), lit(snapId).as("snapshotId"),
          col("file"), col("sink"),
          coalesce(col("wd"), col("n"), lit(0L)).as("rowsDelivered"),
          (coalesce(col("nf"), lit(0L)) + coalesce(col("wf"), lit(0L)))
            .as("rowsFailed"),
          col("contentHash"), lit(now).as("committedAtMs"))
        .observe(sinkObs, sinkAggs.head, sinkAggs.tail: _*)
      lineage.commitDf(entriesDf, runId)
      // dedup store publishes strictly AFTER the lineage commit (the
      // crash-ordering contract above); also releases the stage's caches
      dedupStage.foreach(_.commit())

      val totals = sinkObs.get
      def perSinkTotal(prefix: String): Map[String, Long] =
        cfg.sinks.zipWithIndex.map { case (r, i) =>
          r.name -> totals(s"${prefix}_$i").asInstanceOf[Long] }.toMap
      // the lineage write's plan holds src, so its observation is complete
      // here unless AQE pruned it
      val metrics = graft.metrics.Metrics.observedOrCounted(obs, scanned, inputAggs)
      RunReport(runId, snapId, todo, invalidated, pruned,
        perSinkTotal("d"),
        metrics("lines_total").asInstanceOf[Long],
        metrics("blank_total").asInstanceOf[Long],
        perSinkTotal("f"),
        inputBytes = metrics("bytes_total").asInstanceOf[Long],
        manifestFiles = files.size)
    }
  }
}
