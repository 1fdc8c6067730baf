package graft

import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.checkpoint.{Fingerprint, LineageStore}
import graft.functions.KvParse
import graft.model.PipelineConfig
import graft.operators.{Enrich, Parse, Route}
import graft.sources.TranscriptTable

/** One pipeline run = freader's collector loop re-expressed as a batch:
  *
  *  1. discovery     — manifest listing of the current snapshot (S1/S5);
  *                     "what's new" = snapshot files minus lineage-committed
  *                     files (the offset-restore left join, J3)
  *  2. fingerprint   — recompute each committed file's content hash; a
  *                     mismatch invalidates that file's lineage and
  *                     reprocesses it from scratch (S9)
  *  3. removal       — lineage entries whose files left the manifest are
  *                     pruned (J4 set-difference → offset Delete)
  *  4. process       — parse → enrich → route as ONE lazy plan, never
  *                     persisted: the source is a pinned snapshot of
  *                     immutable files, so the delivery write and the
  *                     lineage counts each recompute the identical fan-out
  *                     (consistent-fan-out requirement, SURVEY §4)
  *  5. deliver       — ONE distributed write for every sink, partitioned by
  *                     (sink, batch, route_key) under a per-run staging dir,
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

  def run(
      spark: SparkSession,
      table: TranscriptTable,
      lineage: LineageStore,
      cfg: PipelineConfig,
      outDir: String): RunReport = {

    cfg.validate().left.foreach(err => throw new IllegalArgumentException(err))
    KvParse.register(spark)
    val runId = java.util.UUID.randomUUID().toString.take(12)

    val snapId = table.currentSnapshotId.getOrElse(
      return RunReport(runId, -1L, Nil, Nil, Nil, Map.empty, 0L, 0L))
    // S3: include/exclude path filtering over the manifest — the batch
    // analogue of the watcher's walk filter (watcher.go:173-179). The
    // manifest is driver-side metadata, so the compiled matcher runs here;
    // PathFilter.column is the distributed twin for path columns. isDir
    // goes through the Hadoop FileSystem so a scheme-qualified directory
    // include (hdfs://, s3a://) classifies correctly, not just local paths.
    val hadoopIsDir: String => Boolean = p => try {
      val hp = new Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(hp).isDirectory
    } catch { case _: Exception => false }
    val pathSpec = operators.PathFilter.compile(cfg.include, cfg.exclude, hadoopIsDir)
    val files = table.filesAt(snapId)
      .filter(f => operators.PathFilter.matches(pathSpec, f))

    // J4: prune lineage of vanished files
    val pruned = lineage.pruneTo(files.toSet).map(_.file).distinct

    // S9 + S4, DISTRIBUTED: fingerprint every manifest file in one
    // executor-side job (the reference fingerprints per-file inside
    // parallel discovery callbacks, collector.go:165-199 — a serial
    // driver loop over ~800k files would dominate the run), and derive
    // committed/invalidated/todo with DataFrame joins against the lineage
    // table. Last-writer-wins per (file, sink); nothing per-file reaches
    // the driver except the final todo list + hashes (the same driver
    // metadata any Spark file scan holds) and the (small) invalidated set.
    import spark.implicits._
    val filesDf = files.toDF("file")
    // fingerprint strategy (watcher/config.go:21-42): deviceAndInode is
    // storage identity — the path — so in-place rewrites are undetected by
    // design; checksum/checksumSeparator hash a content prefix + length
    // (separator framing belongs to text rows; for binary snapshot files
    // it maps to the prefix checksum — Model.scala divergence note)
    val fpDf =
      if (cfg.fingerprintStrategy == "deviceAndInode")
        filesDf.select(col("file"), col("file").as("contentHash"))
      else Fingerprint.ofFilesDf(spark, files, cfg.fingerprintSize)
    val entries = lineage.entriesDf()
    val latestPerFile = entries
      .groupBy(col("file"))
      .agg(max(struct(col("committedAtMs"), col("contentHash"))).as("m"))
      .select(col("file"), col("m.contentHash").as("prevHash"))
    val invalidatedRows = fpDf.join(latestPerFile, "file")
      .filter(col("contentHash") =!= col("prevHash"))
      .select("file", "prevHash").collect()
    val invalidated = invalidatedRows.map(_.getString(0)).toSeq.sorted
    val oldHashByFile = invalidatedRows.map(r => r.getString(0) -> r.getString(1)).toMap

    // a file is done only if every configured sink has a lineage row for it
    // (and its fingerprint still matches)
    val doneDf = entries
      .filter(col("sink").isin(cfg.sinks.map(_.name): _*))
      .groupBy(col("file"))
      .agg(countDistinct(col("sink")).as("ns"))
      .filter(col("ns") === cfg.sinks.size)
      .join(broadcast(invalidated.toDF("file")), Seq("file"), "left_anti")
      .select("file")
    val todoFps = filesDf.join(doneDf, Seq("file"), "left_anti")
      .join(fpDf, "file")
      .collect().map(r => r.getString(0) -> r.getString(1))
      .sortBy(_._1)

    val todo = todoFps.map(_._1).toSeq
    if (todo.isEmpty)
      return RunReport(runId, snapId, Nil, invalidated, pruned, Map.empty,
        0L, 0L, manifestFiles = files.size)

    // the distributed fingerprints serve both as the idempotency key (a
    // reprocessed file with NEW content must land in a NEW batch dir) and
    // as the lineage rows' content hash
    val fps = todoFps.toMap
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
    // INVALIDATED files bypass the store check: their previous delivery
    // was just deleted (stale batch dirs removed below), yet their
    // unchanged rows' hashes are already committed — anti-joining them
    // would silently erase the unchanged content from every sink.
    // Bypassed rows re-deliver in full, AND their state still commits to
    // the store (via a second staged batch whose survivor set is only
    // used for the commit): content first introduced BY the rewrite must
    // not re-deliver when a later file repeats it.
    //
    // RETRACTION (offset Delete on removal, collector.go:206-214): every
    // store commit carries (content_h60, src-basename) provenance, and an
    // invalidated file's exclusive hashes are rewritten OUT of the store
    // before staging — its old delivery dirs are deleted below, so content
    // only that file ever delivered must become deliverable again from
    // whichever file next carries it. Hashes whose provenance is another
    // (still-live) file, or pre-provenance store rows (src null), stay.
    // Gated by dedup.retract-on-invalidate (default on).
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
    val invalidatedNames = invalidated.map(f => new Path(f).getName).toSet
    val dedupStage = cfg.dedup.map { dd =>
      if (invalidatedNames.nonEmpty && dd.retractOnInvalidate)
        operators.Dedup.retractSources(spark, dd.storeDir,
          invalidatedNames.toSeq.sorted)
      def staged(rows: org.apache.spark.sql.DataFrame, compact: Boolean) = {
        // the dedup id is length-prefixed per field (and null-flagged), so
        // no '#' inside conv_id — and no null — can make two distinct rows
        // share an id (a shared id would drop BOTH rows when either loses
        // a near-dup verdict, silently losing a distinct row)
        def lp(c: org.apache.spark.sql.Column) =
          when(c.isNull, lit("-:")).otherwise(
            concat(length(c).cast("string"), lit(":"), c))
        val withId = rows
          .withColumn("__dedup_id",
            concat(lp(col("src_file")), lit("#"), lp(col("conv_id")),
              lit("#"), col("turn_idx").cast("string")))
          .withColumn("__src", substring_index(col("src_file"), "/", -1))
        val maxDirs = if (compact) 16 else Int.MaxValue
        if (dd.mode == "minhash")
          operators.Dedup.incrementalMinhashStaged(withId, "__dedup_id", "text",
            dd.storeDir, dd.ngram, dd.bands, dd.rowsPerBand, dd.threshold,
            maxSeenDirs = maxDirs, srcCol = Some("__src"))
        else
          operators.Dedup.incrementalExactStaged(withId, "__dedup_id", "text",
            dd.storeDir, maxSeenDirs = maxDirs, srcCol = Some("__src"))
      }
      val fromInvalidated =
        if (invalidatedNames.isEmpty) lit(false)
        else substring_index(col("src_file"), "/", -1)
          .isin(invalidatedNames.toSeq: _*)
      val bypassRows = turns.filter(fromInvalidated)
      // content carried by the bypass this run is excluded from the main
      // batch BEFORE staging: (a) it would deliver twice (the bypass
      // re-delivers in full; the main batch only anti-joins the STORE),
      // and (b) the main batch's commit would record provenance for a file
      // that never delivered the content — a later retraction of the
      // bypass file would then keep that phantom row and re-suppress
      // content no sink holds (the tombstone bug through a side door)
      // null-safe equality (<=>): a null text hashes to null, and under
      // === the join condition is null, so a null-text row carried by both
      // an invalidated file and the main batch would never be excluded and
      // deliver twice
      val mainRows =
        if (invalidatedNames.isEmpty) turns.filter(!fromInvalidated)
        else turns.filter(!fromInvalidated).join(
          bypassRows.select(
            graft.functions.Hashing.sha60(col("text")).as("__bp_h60")).distinct(),
          graft.functions.Hashing.sha60(col("text")) <=> col("__bp_h60"),
          "left_anti")
      val batch = staged(mainRows, compact = true)
      // the bypass batch is staged AFTER the main one and never compacts,
      // so it cannot delete store dirs the main batch's plan pins
      val bypassBatch =
        if (invalidatedNames.isEmpty) None
        else Some(staged(bypassRows, compact = false))
      val rows = batch.fresh.drop("__dedup_id", "__src").unionByName(bypassRows)
      (rows, () => { batch.commit(); bypassBatch.foreach(_.commit()) })
    }
    val toRoute = dedupStage.map(_._1).getOrElse(turns)

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

      // leftover staging dirs from a crashed earlier run are never commit
      // targets (each run stages under a fresh runId) — clear them so they
      // cannot accumulate orphan data under the sink root
      if (fs.exists(fsRoot))
        fs.listStatus(fsRoot).map(_.getPath)
          .filter(_.getName.startsWith("_staging-"))
          .foreach(p => fs.delete(p, true))

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
      if (pending.nonEmpty) {
        val staging = new Path(fsRoot, s"_staging-$runId")
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
        fs.delete(staging, true)
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
      dedupStage.foreach(_._2())

      val totals = sinkObs.get
      def perSinkTotal(prefix: String): Map[String, Long] =
        cfg.sinks.zipWithIndex.map { case (r, i) =>
          r.name -> totals(s"${prefix}_$i").asInstanceOf[Long] }.toMap
      // the lineage write's plan holds src, so its observation is complete
      // here — but EMPTY when AQE pruned the CollectMetrics node: a batch
      // the minhash stage drops in full leaves empty caches above it, and
      // empty-relation propagation removes the subtree. Only then are the
      // input totals counted by a job of their own.
      val metrics = Some(obs.get).filter(_.contains("lines_total"))
        .getOrElse(scanned.agg(inputAggs.head, inputAggs.tail: _*).head()
          .getValuesMap[Any](Seq("lines_total", "bytes_total", "blank_total")))
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
