package graft

import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.checkpoint.{CommitLog, Fingerprint, LineageStore}
import graft.metrics.Metrics
import graft.model.PipelineConfig
import graft.operators.{Dedup, Enrich, Parse, PathFilter, Route}
import graft.sinks.HttpSink
import graft.sources.TranscriptTable

/** One pipeline run = freader's collector loop re-expressed as a batch,
  * in five phases, each handing a small record to the next:
  *
  *  1. `discover`    — manifest listing of the current snapshot (S1/S5),
  *                     path-filtered (S3), each file fingerprinted in ONE
  *                     executor-side pass
  *  2. `diff`        — ONE query over ONE lineage read: the per-file
  *                     lineage summary full-outer-joined with the
  *                     fingerprints, collecting only the files not done
  *                     ([[resumeDiff]]): new files and files some sink
  *                     lacks are todo (the offset-restore join, J3); a
  *                     hash mismatch invalidates that file's lineage and
  *                     reprocesses it from scratch (S9); lineage files
  *                     no longer in the manifest are vanished, and their
  *                     entries are pruned (J4 set-difference → offset
  *                     Delete) — the store is rewritten only when the diff
  *                     found any. The result is one work list: a record
  *                     per todo file
  *  3. `stage`       — parse → enrich → route as ONE lazy plan, never
  *                     persisted: the source is a pinned snapshot of
  *                     immutable files, so the delivery write and the
  *                     lineage counts each recompute the identical fan-out
  *                     (consistent-fan-out requirement, SURVEY §4). With a
  *                     dedup stage, ONE staged batch over every todo row
  *                     drops content earlier runs delivered; invalidated
  *                     files' sources are retracted from the store first
  *  4. `deliver`     — ONE distributed write for every sink, partitioned by
  *                     (sink, batch, route_key) under a per-run `_tmp-*`
  *                     staging dir (a crashed run's one ages out),
  *                     then one atomic rename per new
  *                     `<outDir>/<sink>/batch=<id>` dir, then the wire
  *                     flush of exactly the renamed dirs. The batch id is a
  *                     pure function of ONE file's path and content hash
  *                     (content-addressed per file, NOT per run): a batch
  *                     dir that already exists is never rewritten, so
  *                     replay after a crash re-delivers nothing even if the
  *                     todo set has meanwhile changed (a run-wide id would
  *                     mint fresh dirs for already-delivered files in
  *                     exactly that window)
  *  5. `commit`      — per-(file, sink) lineage rows written atomically
  *                     AFTER all sink writes succeeded, mirroring "offset
  *                     saved only after the callback batch completed"
  *                     (internal/collector/collector.go:104-117), then the
  *                     dedup store; the rows are computed and written
  *                     distributed (one shared scan), never collected
  *                     per-file to the driver, and the report's per-sink
  *                     totals are observed on that same write
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
    val phases = new Phases(spark, cfg)
    // a table with no snapshot yet has nothing to diff
    val todo = phases.discover(table).fold(Todo(-1L, 0, Nil, Nil))(phases.diff(lineage, _))
    // the report of a run with nothing to process; `commit` adds the totals
    val report = RunReport(phases.runId, todo.snapId, todo.work.map(_.file),
      todo.invalidated.map(_.file), todo.pruned, Map.empty, 0L, 0L,
      manifestFiles = todo.manifestFiles)
    if (todo.work.isEmpty) report
    else {
      val staged = phases.stage(todo)
      phases.commit(lineage, report, staged, phases.deliver(outDir, todo, staged))
    }
  }

  /** `discover`'s result: the snapshot's path-filtered files and their
    * fingerprints (`file`, `contentHash`).
    */
  private final case class Snapshot(id: Long, files: Seq[String], fingerprints: DataFrame)

  /** One file the run processes. `fname` is its basename, the key the
    * scanned rows join on: `input_file_name()` is a qualified URI while
    * manifest paths may be scheme-less, but data-file names are unique
    * (SnapshotTable.append uuid-prefixes them). `oldBatch` is the batch id
    * of an invalidated file's superseded content.
    */
  private final case class FileWork(file: String, fname: String,
      contentHash: String, batch: String, oldBatch: Option[String])

  /** `diff`'s result: the work list, sorted by file, and the files pruned. */
  private final case class Todo(snapId: Long, manifestFiles: Int,
      work: Seq[FileWork], pruned: Seq[String]) {
    def invalidated: Seq[FileWork] = work.filter(_.oldBatch.isDefined)
  }

  /** `stage`'s result: the routed rows with their `fname` and `batch`, the
    * broadcast work frame (`fname`, `file`, `contentHash`, `batch`), the
    * scan the input observation rides on, and the staged dedup batch.
    */
  private final case class Staged(rows: DataFrame, work: DataFrame,
      scanned: DataFrame, obs: Observation, dedup: Option[Dedup.IncrementalBatch])

  // A5 collector metrics (lines_total / bytes_total / blank) ride on the
  // delivery jobs via Observation — no extra scan of the input
  private val InputAggs: Seq[Column] = Seq(
    count(lit(1)).as("lines_total"),
    coalesce(sum(length(col("text"))), lit(0L)).as("bytes_total"),
    coalesce(sum(when(length(col("text")) === 0, 1L).otherwise(0L)), lit(0L))
      .as("blank_total"))

  /** The phases of one run over its session and config; constructing it
    * validates the config and draws the run id.
    */
  private final class Phases(spark: SparkSession, cfg: PipelineConfig) {
    import spark.implicits._

    // validation and the matcher share the one directory test, over the
    // session's Hadoop configuration
    private val isDir = PathFilter.isDir(spark.sparkContext.hadoopConfiguration)
    cfg.validate(isDir).left.foreach(err => throw new IllegalArgumentException(err))
    val runId: String = java.util.UUID.randomUUID().toString.take(12)

    /** None when the table has no snapshot yet. */
    def discover(table: TranscriptTable): Option[Snapshot] =
      table.currentSnapshotId.map { snapId =>
        // S3: include/exclude path filtering over the manifest — the batch
        // analogue of the watcher's walk filter (watcher.go:173-179). The
        // manifest is driver-side metadata, so the compiled matcher runs
        // here; PathFilter.column is the distributed twin for path columns.
        val pathSpec = PathFilter.compile(cfg.include, cfg.exclude, isDir)
        val files = table.filesAt(snapId).filter(f => PathFilter.matches(pathSpec, f))
        // fingerprint strategy (watcher/config.go:21-42): deviceAndInode is
        // storage identity — the path — so in-place rewrites are undetected
        // by design; checksum/checksumSeparator hash a content prefix +
        // length (separator framing belongs to text rows; for binary
        // snapshot files it maps to the prefix checksum — Model.scala
        // divergence note)
        val fingerprints =
          if (cfg.fingerprintStrategy == "deviceAndInode")
            files.toDF("file").select(col("file"), col("file").as("contentHash"))
          else Fingerprint.ofFilesDf(spark, files, cfg.fingerprintSize)
        Snapshot(snapId, files, fingerprints)
      }

    def diff(lineage: LineageStore, snap: Snapshot): Todo = {
      val d = resumeDiff(lineage.entriesDf(), snap.fingerprints, cfg.sinks.map(_.name))
      // J4: prune lineage of vanished files — a rewrite of the store, so it
      // runs only when the diff saw any, and still before delivery
      val pruned =
        if (d.vanished.isEmpty) Nil
        else lineage.pruneTo(snap.files.toSet).map(_.file).distinct.sorted
      // the fingerprint is both the idempotency key (a reprocessed file
      // with NEW content must land in a NEW batch dir) and the lineage
      // rows' content hash
      val prevHash = d.invalidated.toMap
      val work = d.todo.map { case (f, h) =>
        FileWork(f, new Path(f).getName, h, fileBatchId(f, h),
          prevHash.get(f).map(fileBatchId(f, _)))
      }
      Todo(snap.id, snap.files.size, work, pruned)
    }

    def stage(todo: Todo): Staged = {
      val obs = new Observation(s"graft-$runId")
      val scanned = spark.read.parquet(todo.work.map(_.file): _*)
        .withColumn("src_file", input_file_name())
      val src = scanned.observe(obs, InputAggs.head, InputAggs.tail: _*)

      // Optional multiline assembly: blank lines are dropped first (the
      // blank-record rule — counted in the observation, never delivered,
      // tail_reader.go:272-279), records inherit first-line metadata. The
      // basename is derived after it, because the assembly projects fixed
      // columns.
      val turns = cfg.multiline.fold(src)(spec => operators.Segments.assembleFsmRows(
          src.filter(length(col("text")) > 0), spec))
        .withColumn("fname", substring_index(col("src_file"), "/", -1))

      // Optional incremental content-dedup stage: rows whose text any
      // earlier run delivered (exact — or near-dup under minhash) are
      // dropped before routing. The stage is STAGED (operators/Dedup): the
      // survivors flow on, but the store publishes only after the lineage
      // commit, so a crash-and-replay before that point re-derives the
      // identical survivor set instead of losing it to an eagerly-committed
      // store. (The converse window — lineage committed, store not — only
      // risks a FUTURE batch re-delivering the same content once; replays
      // of THIS batch are no-ops via the sink batch-dir check regardless.)
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
      // before staging — its old delivery dirs are deleted at delivery, so
      // content only that file delivered must deliver again. Hashes whose
      // provenance is another (still-live) file stay: that file's sink
      // dirs still hold the content, so the rewritten file's copy of it is
      // dropped, not delivered twice.
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
      val dedup = cfg.dedup.map { dd =>
        Dedup.retractSources(spark, dd.storeDir, todo.invalidated.map(_.fname))
        // the dedup id is length-prefixed per field (and null-flagged), so
        // no '#' inside conv_id — and no null — can make two distinct rows
        // share an id (a shared id would drop BOTH rows when either loses
        // a near-dup verdict, silently losing a distinct row)
        def lp(c: Column) = when(c.isNull, lit("-:"))
          .otherwise(concat(length(c).cast("string"), lit(":"), c))
        val withId = turns.withColumn("__dedup_id",
          concat(lp(col("src_file")), lit("#"), lp(col("conv_id")),
            lit("#"), col("turn_idx").cast("string")))
        if (dd.mode == "minhash")
          Dedup.incrementalMinhashStaged(withId, "__dedup_id", "text",
            dd.storeDir, dd.ngram, dd.bands, dd.rowsPerBand, dd.threshold,
            srcCol = Some("fname"))
        else
          Dedup.incrementalExactStaged(withId, "__dedup_id", "text",
            dd.storeDir, srcCol = Some("fname"))
      }
      val toRoute = dedup.map(_.fresh.drop("__dedup_id")).getOrElse(turns)

      // batch ids ride the rows through a join with the broadcast work frame
      val work = broadcast(todo.work.map(w => (w.fname, w.file, w.contentHash, w.batch))
        .toDF("fname", "file", "contentHash", "batch"))
      // One logical fan-out; every sink and count derives from this plan.
      // NOT persisted: the source is a pinned snapshot of immutable files,
      // so recomputation is deterministic (consistency comes from snapshot
      // isolation, not caching) — and measured cache build+read here is
      // slower than re-running the codegen'd parse. For a non-snapshot
      // source, stage this projection to parquet once instead.
      val rows = Route.routed(Enrich.enrich(Parse.parseTurns(toRoute)))
        .select(col("ts"), col("host"), col("route_key"), col("text"),
          col("conv_id"), col("turn_idx"), col("verb"), col("dur_ms"),
          col("status"), col("tool_family"), col("src_file"), col("fname"))
        .join(work.select("fname", "batch"), "fname")
      Staged(rows, work, scanned, obs, dedup)
    }

    /** Returns the wire sinks' per-(sink, fname) accounting. */
    def deliver(outDir: String, todo: Todo, staged: Staged): Seq[DataFrame] = {
      val fsRoot = new Path(outDir)
      val fs = fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the sink root's commits are the `<sink>/batch=<id>` dirs one level
      // down, published below; its log stages each run under a `_tmp-*`
      // dir and ages out the ones a crashed run left
      val sinkLog = new CommitLog(fs, fsRoot, "batch=")
      sinkLog.sweep()
      val sinkRoots = cfg.sinks.map(rule => rule -> new Path(fsRoot, rule.name))

      // an invalidated file's OLD content dirs are superseded — remove them
      // so sink totals always reflect the latest content exactly once
      for { w <- todo.work; old <- w.oldBatch; (_, root) <- sinkRoots }
        fs.delete(new Path(root, s"batch=$old"), true)

      // ONE distributed write for every sink, partitioned by
      // (sink, batch, route_key), then one atomic rename per NEW
      // (sink, batch) dir. Already-present dirs (crash-replay window) are
      // never rewritten, whatever the current todo set looks like.
      val pending = sinkRoots.flatMap { case (rule, root) =>
        val existing =
          if (!fs.exists(root)) Set.empty[String]
          else fs.listStatus(root).map(_.getPath.getName).toSet
        todo.work.map(_.batch).filterNot(b => existing(s"batch=$b")).map((rule, root, _))
      }
      val renamed = if (pending.isEmpty) Nil else sinkLog.scratch(runId) { staging =>
        // an upstream shuffle (dedup, multiline) spreads every batch over
        // all shuffle partitions, and each partition would write its own
        // file into every (sink, batch, route_key) dir: re-cluster by
        // (batch, route_key) before the sink explode. The explicit count
        // keeps AQE from coalescing a small batch into ONE writer task.
        // Without such a stage the scan is already aligned with the input
        // files (one batch per file), so no exchange is added.
        val clustered =
          if (cfg.dedup.isEmpty && cfg.multiline.isEmpty) staged.rows
          else staged.rows.repartition(
            spark.conf.get("spark.sql.shuffle.partitions").toInt,
            col("batch"), col("route_key"))
        // remote-rejected rows are attempted (counted as failed at the
        // commit) but never land in the sink — NumFailed semantics
        val accepted = perSink(clustered).filter(!col("failed"))
        // batch ids are fixed-width hex, so "<sink>/<batch>" is unambiguous
        val subset =
          if (pending.size == cfg.sinks.size * todo.work.size) accepted
          else accepted.filter(concat(col("sink"), lit("/"), col("batch"))
            .isin(pending.map { case (rule, _, b) => s"${rule.name}/$b" }: _*))
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
        pending.map(_._2).distinct.foreach(fs.mkdirs)
        pending.filter { case (rule, root, b) =>
          // the staged dir name is Spark's partition-path escaping of the
          // sink name (a name with '=', '%', ':' … differs on disk); a
          // (sink, batch) with no accepted row has no staged dir
          val src = new Path(staging,
            s"${ExternalCatalogUtils.getPartitionPathString("sink", rule.name)}/batch=$b")
          val dest = new Path(root, s"batch=$b")
          val fresh = fs.exists(src) && !fs.exists(dest)
          if (fresh)
            require(fs.rename(src, dest), s"sink commit rename failed for ${rule.name}/batch=$b")
          fresh
        }
      }

      // Wire sinks (rule.url set) additionally POST the just-renamed rows
      // over HTTP AFTER the renames — at-most-once per batch dir: a crash
      // between rename and POST is a missed flush on replay, the
      // reference's logged-and-dropped flush analogue — and their exact
      // per-item accounting goes to the lineage rows.
      for {
        (rule, root) <- sinkRoots
        wireUrl <- rule.url
        batches = renamed.collect { case (r, _, b) if r.name == rule.name => b }.sorted
        if batches.nonEmpty
      } yield {
        // read the renamed dirs back (no re-parse — the parquet IS the
        // attempted row set, fan-out included) and POST; basePath anchors
        // partition discovery over the subset of batch= dirs (leaf roots
        // alone conflict)
        val rows = spark.read.option("basePath", root.toString)
          .parquet(batches.map(b => new Path(root, s"batch=$b").toString): _*)
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
        val spec = HttpSink.WireSpec(rule.kind, wireUrl, rule.target,
          rule.user, rule.pass, cfg.batchSize, cfg.batchIntervalMs,
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
        HttpSink.deliver(
          rows.select(substring_index(col("src_file"), "/", -1).as("fname"), doc.as("doc")),
          spec).withColumn("sink", lit(rule.name)).localCheckpoint(true)
      }
    }

    def commit(lineage: LineageStore, report: RunReport, staged: Staged,
        wire: Seq[DataFrame]): RunReport = {
      // per-(sink, file) delivered counts in ONE shared scan, kept
      // DISTRIBUTED: the (todo × sinks) grid left-joins the counts and the
      // lineage rows are written by Spark — nothing per-file ever reaches
      // the driver (at ~800k files × S sinks that is a dataset, not
      // driver metadata)
      // attempted rows per (sink, fname), split into delivered vs remote-
      // rejected
      val countsDf = perSink(staged.rows).groupBy("sink", "fname")
        .agg(sum(when(col("failed"), 0L).otherwise(1L)).as("n"),
          sum(when(col("failed"), 1L).otherwise(0L)).as("nf"))
      val sinkDf = cfg.sinks.map(_.name).toDF("sink")
      // the grid (not countsDf's keys): a sink that delivered zero rows
      // still needs lineage entries, else its files would retry forever.
      // Wire-delivered sinks override the modeled counts with the EXACT
      // per-item bulk outcomes: delivered = wire-accepted, failed =
      // modeled-rejected (never attempted) + wire-rejected. A (sink, file)
      // with no wire row this run (replay of an already-renamed dir — the
      // at-most-once window) falls back to the modeled count.
      val grid = staged.work.crossJoin(sinkDf)
        .join(countsDf, Seq("sink", "fname"), "left")
      val withWire =
        if (wire.isEmpty)
          grid.withColumn("wd", lit(null).cast("long"))
            .withColumn("wf", lit(null).cast("long"))
        else grid.join(wire.reduce(_ unionByName _), Seq("sink", "fname"), "left")
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
        .select(lit(runId).as("runId"), lit(report.snapshotId).as("snapshotId"),
          col("file"), col("sink"),
          coalesce(col("wd"), col("n"), lit(0L)).as("rowsDelivered"),
          (coalesce(col("nf"), lit(0L)) + coalesce(col("wf"), lit(0L)))
            .as("rowsFailed"),
          col("contentHash"), lit(System.currentTimeMillis()).as("committedAtMs"))
        .observe(sinkObs, sinkAggs.head, sinkAggs.tail: _*)
      lineage.commitDf(entriesDf, runId)
      // dedup store publishes strictly AFTER the lineage commit (the
      // crash-ordering contract of `stage`); also releases its caches
      staged.dedup.foreach(_.commit())

      def perSinkTotal(prefix: String): Map[String, Long] =
        cfg.sinks.zipWithIndex.map { case (r, i) =>
          r.name -> sinkObs.get(s"${prefix}_$i").asInstanceOf[Long] }.toMap
      // the lineage write's plan holds the scan, so its observation is
      // complete here unless AQE pruned it
      val metrics = Metrics.observedOrCounted(staged.obs, staged.scanned, InputAggs)
      report.copy(perSinkDelivered = perSinkTotal("d"), perSinkFailed = perSinkTotal("f"),
        inputRows = metrics("lines_total").asInstanceOf[Long],
        blankRows = metrics("blank_total").asInstanceOf[Long],
        inputBytes = metrics("bytes_total").asInstanceOf[Long])
    }

    // every (row, accepting sink) pair, flagged where that sink's remote
    // rejects the row: the one sink fan-out the delivery write and the
    // lineage counts both derive from
    private def perSink(rows: DataFrame): DataFrame = rows
      .withColumn("sink", explode(Route.acceptingSinks(cfg.sinks, col("text"))))
      .withColumn("failed", cfg.sinks.foldLeft(lit(false)) { (acc, r) =>
        when(col("sink") === r.name,
          Route.rejectPredicate(r, col("text"))).otherwise(acc)
      })
  }
}
