package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField,
  StructType}

import graft.checkpoint.CommitLog
import graft.functions.{CdcChunks, Hashing, MinhashBands, ShingleHashes, SimHash, WinnowHashes}

/** Deduplication family for a large-scale training-data pipeline:
  *
  *  - [[exact]]          — hash-groupBy exact dedup (one shuffle on the hash)
  *  - [[ngramJaccard]]   — all-pairs n-gram Jaccard via shingle inverted
  *                         index (exact, quadratic in bucket size — small
  *                         corpora / verification)
  *  - [[minhashLsh]]     — MinHash signatures + banded LSH bucket join +
  *                         exact Jaccard verification of candidates; the
  *                         100 TB path: cost ≈ shingling + 1 sha256 per
  *                         shingle + k integer mixes + one shuffle per band
  *                         join, no all-pairs blowup
  *  - [[simhash]]        — 60-bit SimHash fingerprints + hamming-ball pairing
  *  - [[embeddingNearDup]] — cosine near-duplicates over an embedding
  *                         column, blocked by hyperplane-LSH band sketches
  *                         (equi-join, no all-pairs) and exactly verified
  *
  * All pseudo-randomness comes from [[graft.functions.Hashing]], so every
  * path here is reproducible in DuckDB for the oracle gate — the engine
  * path and the oracle path are the same code.
  *
  * Each candidate → verify step is written once:
  *
  *  - `bucketPairs`, the bucket self-join that yields distinct `(a, b)`
  *    candidates: [[ngramJaccard]] (prefix index), [[minhashLsh]] and
  *    [[incrementalMinhashStaged]] (band values), [[embeddingNearDup]]
  *    (hyperplane sketches);
  *  - `jaccardPairs`, exact-Jaccard verification of candidates over hashed
  *    shingle sets: [[ngramJaccard]], [[minhashLsh]],
  *    [[incrementalMinhashStaged]];
  *  - `unseen` (within-batch exact dedup, then the anti-join on stored
  *    `content_h60`) and `stagedBatch` (publish, then release the caches):
  *    both incremental modes.
  *
  * Three joins stay their own, because sharing a kernel would change their
  * plans: [[simhashPairs]] carries both fingerprints into the distance
  * before its distinct, [[semDedup]] pairs within a k-means cluster on
  * `cid` with its own tie-break, and [[Similarity.lshKnn]] joins queries
  * to a corpus rather than a set to itself.
  */
object Dedup {

  /** Exact dedup on normalized text: keep the lowest id per content hash. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup returning the surviving rows (lowest id per content hash),
    * schema-preserving — the "apply" form of [[exact]].
    *
    * Scale note: the window formulation shuffles FULL rows on the content
    * hash — one exchange, fine while rows are transcript-turn-sized. For
    * 100 TB corpora of wide documents, prefer the two-step shape — the
    * [[exact]] aggregate (hash + min-id only on the wire) followed by a
    * `left_semi` join of (id = keep_id) back to the source — which
    * shuffles 16 bytes per row instead of the document body and lets AQE
    * size both sides; same result set, pick by row width.
    */
  def exactDeduped(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** A staged incremental-dedup batch: `fresh` is the batch's surviving
    * rows — consumable any number of times, deterministically. Its plan
    * pins the store dirs that existed at stage time: `commit()` only adds
    * a dir, and a later stage's compaction or a retraction only retires
    * the pinned ones, whose files stay until the one-hour retention sweep
    * ([[CommitLog.sweep]]). `commit()` atomically publishes the survivors'
    * state to the store and releases the per-batch caches. Staging lets a
    * caller (e.g. [[graft.Pipeline]]) deliver the survivors first and
    * commit the dedup store ONLY after its own delivery commit, so a
    * crash-and-replay never loses rows to a store that committed ahead of
    * the sink.
    */
  final case class IncrementalBatch(fresh: DataFrame, commit: () => Unit) {
    /** `fresh` materialized, then `commit()`: the materialized rows outlive
      * the caches `commit()` releases, so their consumers read blocks
      * instead of re-running the stage. localCheckpoint blocks are
      * ContextCleaner-reclaimed on GC (no leak). Callers that DISCARD the
      * rows (store seeding) and cluster jobs that must survive executor
      * loss (checkpoint blocks don't recompute) should commit directly.
      */
    private[graft] def committed(): DataFrame = {
      val out = fresh.localCheckpoint(true)
      commit()
      out
    }
  }

  /** Default shingle size and LSH geometry of the incremental near-dup
    * store. A store's `_meta` pins the values of its first stage, so every
    * stage that may share a store ([[graft.model.DedupStageSpec]], the
    * streaming near-dup stage, [[incrementalMinhash]]) defaults to these,
    * and to the one Jaccard threshold they verify against.
    */
  val StoreNgram = 3
  val StoreBands = 4
  val StoreRowsPerBand = 2
  val StoreThreshold = 0.8

  /** The seen-store's commit log: `seen-*` dirs, superseded ones retired
    * rather than deleted (a concurrent reader whose plan pinned their
    * files — the streaming near-dup stage shares the store with batch
    * runs, streaming/TranscriptStream.scala — never hits a deleted file
    * mid-scan).
    */
  private def seenLog(fs: FileSystem, root: Path) = new CommitLog(fs, root, "seen-")

  private def seenLog(spark: SparkSession, storeDir: String): CommitLog = {
    val root = new Path(storeDir)
    seenLog(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Live store commits — the reader view. Public so tests and external
    * consumers share this predicate rather than re-deriving it.
    */
  def listSeen(fs: FileSystem, root: Path): Seq[Path] = seenLog(fs, root).live

  /** Per-commit provenance manifest: the sorted distinct non-null `src`
    * values of the dir's rows, one per line. [[retractSources]] skips any
    * dir whose manifest is disjoint from the retracted set — retraction
    * cost becomes O(affected dirs), not O(store). A dir without a manifest
    * is conservatively treated as affected. An
    * EMPTY manifest is meaningful: the dir holds only null-src
    * (irrevocable) rows, so no retraction can ever touch it.
    */
  private val SrcsManifest = "_srcs"

  /** Source lists are line-delimited, so line-breaking bytes inside a src
    * value (legal in POSIX file names) are percent-escaped — an unescaped
    * "a\nb.log" would split into two fragment lines, never match the
    * retracted set, and make the retraction silently skip the dir.
    */
  private def encSrcs(srcs: Iterable[String]): String = srcs.toSeq.distinct.sorted
    .map(_.replace("%", "%25").replace("\n", "%0A").replace("\r", "%0D")).mkString("\n")

  private def decSrcs(text: String): Set[String] = text.split("\n").filter(_.nonEmpty)
    .map(_.replace("%0D", "\r").replace("%0A", "\n").replace("%25", "%")).toSet


  /** Store identity, `<root>/_meta`: `key=value` lines holding the format
    * version and mode, and for a minhash store the shingle size, band
    * geometry and id type its `hs` and `bh` were derived with. Shingle
    * sets of another `n`, or bands of another geometry, never match the
    * stored ones, so a batch staged with them would let near-dups of
    * stored docs through without a sign; the id type fixes the stored `id`
    * column. The first stage of a store writes `_meta`, and every later
    * stage must match it.
    */
  private val MetaFile = "_meta"

  private type Meta = Seq[(String, String)]

  private def seenMeta(mode: String, params: (String, Any)*): Meta =
    (Seq("version" -> 2, "mode" -> mode) ++ params).map { case (k, v) => k -> v.toString }

  /** The store's identity; None for a store no stage has opened yet. Live
    * dirs without `_meta` are a store from before format 2, whose layout
    * no stage reads: it is refused.
    */
  private def readMeta(log: CommitLog): Option[Meta] = {
    val meta = log.read(new Path(log.root, MetaFile)).map(_.split("\n").toSeq
      .filter(_.nonEmpty).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) })
    require(meta.nonEmpty || log.live.isEmpty,
      s"seen-store ${log.root} predates format 2 (live seen-* dirs, no _meta) and cannot be read")
    meta
  }

  /** Fails unless the store's identity `have` is this stage's `want`,
    * naming both values of every key that differs (only the version or
    * the mode when those differ: the other keys then mean nothing).
    */
  private def requireSame(root: Path, have: Meta, want: Meta): Unit = {
    val (h, w) = (have.toMap, want.toMap)
    val diff = (want ++ have).map(_._1).distinct.filter(k => h.get(k) != w.get(k))
    val shown = diff.find(k => k == "version" || k == "mode").fold(diff)(Seq(_))
    def show(m: Map[String, String]) =
      shown.map(k => s"$k=${m.getOrElse(k, "none")}").mkString(", ")
    require(diff.isEmpty,
      s"seen-store $root was built with ${show(h)}; this batch has ${show(w)}")
  }

  /** Read schema of a store's commits: given, not inferred, so a read
    * opens no footer and runs no inference job. A minhash commit is ONE
    * table (id, content_h60, hs, bh, src) — one row per survivor, `bh` the
    * [[graft.functions.MinhashBands]] array of `hs`; readers prune to their
    * columns. `hs` and `bh` are null for a doc too short to shingle, and
    * `src` for a row staged without `srcCol`. An exact store holds
    * (content_h60, src).
    */
  private def seenSchema(meta: Meta): StructType = {
    val m = meta.toMap
    val h60 = StructField("content_h60", LongType)
    val src = StructField("src", StringType)
    if (m("mode") == "exact") StructType(Seq(h60, src))
    else StructType(Seq(StructField("id", DataType.fromDDL(m("id"))), h60,
      StructField("hs", ArrayType(LongType)), StructField("bh", ArrayType(LongType)), src))
  }

  /** The rows of `dirs`, read with `schema` (an empty relation for none). */
  private def rowsOf(spark: SparkSession, dirs: Seq[Path], schema: StructType): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(dirs.map(_.toString): _*)

  private def bandsOf(hs: Column, bands: Int, rowsPerBand: Int): Column =
    column(MinhashBands(expression(hs), bands, rowsPerBand))

  /** Write `rows` into the commit dir `tmp` with its `_srcs` manifest;
    * whether any row was written, so that zero rows publish nothing. The
    * write is the only Spark job: the row count and the distinct non-null
    * srcs are observed on it ([[graft.metrics.Metrics.observedOrCounted]]).
    */
  private def writeSeen(log: CommitLog, rows: DataFrame)(tmp: Path): Boolean = {
    val aggs = Seq(count(lit(1)).as("n"), collect_set(col("src")).as("srcs"))
    val obs = new Observation()
    rows.observe(obs, aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(tmp.toString)
    val m = graft.metrics.Metrics.observedOrCounted(obs, rows, aggs)
    val n = m("n").asInstanceOf[Long]
    if (n > 0) log.write(new Path(tmp, SrcsManifest),
      encSrcs(m("srcs").asInstanceOf[scala.collection.Seq[String]]))
    n > 0
  }

  /** Stage-time store upkeep, after a sweep of crash leftovers:
    *
    *  - identity: the first stage of a store writes `_meta`, under the
    *    store lease ([[CommitLog.withLock]]); a later stage whose identity
    *    differs fails ([[requireSame]]), and so does any stage of a store
    *    from before format 2 ([[readMeta]]);
    *  - compaction ([[CommitLog.compact]]): past `maxDirs` live dirs (a
    *    long campaign otherwise accretes one `seen-*` dir per batch, and
    *    every later stage lists and unions all of them), every live dir
    *    merges into one, duplicate rows dropped, and only then do the
    *    sources retire; a crash in between leaves duplicate rows
    *    (harmless — every reader is an anti-join or a verification join),
    *    never a hole.
    *
    * Runs at STAGE time, before the batch's read plans are built, so a
    * batch's plans never read a dir its own stage is about to supersede.
    * Returns the store's rows for those plans.
    */
  private def openSeen(spark: SparkSession, log: CommitLog, meta: Meta,
      maxDirs: Int): DataFrame = {
    val schema = seenSchema(meta)
    log.sweep()
    if (readMeta(log).isEmpty) log.withLock {
      // read again under the lease: a concurrent first stage may have won
      if (readMeta(log).isEmpty)
        log.putFile(MetaFile, meta.map { case (k, v) => s"$k=$v" }.mkString("\n"))
    }
    requireSame(log.root, readMeta(log).get, meta)
    // the merge's distinct exchange lets adaptive execution size the
    // merged files: one file for a fixture-sized store, advisory-sized
    // ones for a large one, instead of one file per source partition
    log.compact(maxDirs)(dirs => writeSeen(log, rowsOf(spark, dirs, schema).distinct()))
    rowsOf(spark, log.live, schema)
  }

  private def srcOf(srcCol: Option[String]): Column =
    srcCol.map(col).getOrElse(lit(null)).cast("string").as("src")

  /** INCREMENTAL exact dedup against a persisted hash store — the growing-
    * corpus campaign discipline: each batch is deduped within itself, then
    * anti-joined against every content hash any earlier batch committed,
    * and the survivors' hashes are committed back atomically (one
    * [[CommitLog]] commit) so a crash mid-commit never leaves
    * a partially-visible batch and a replay of the same batch returns
    * nothing new. The store holds ONE 8-byte sha60 per distinct document
    * ever seen — at 100 TB that is a few GB of longs, the natural build
    * side of the anti-join; batches shuffle on the hash only — and is
    * compacted back to one dir whenever it exceeds `maxSeenDirs` commits.
    *
    * Reference anchor: freader's offset store makes re-reads of committed
    * bytes no-ops across restarts (internal/store/sqlite_store.go:104-119);
    * this is the corpus-level analogue for content instead of offsets.
    */
  def incrementalExact(df: DataFrame, idCol: String, textCol: String,
      storeDir: String, maxSeenDirs: Int = 16): DataFrame =
    // (no srcCol: callers outside the pipeline stage rarely have stable
    // per-row provenance; their store rows carry src = null → irrevocable)
    incrementalExactStaged(df, idCol, textCol, storeDir, maxSeenDirs).committed()

  /** [[incrementalExact]] with the store publish deferred to
    * `commit()` — see [[IncrementalBatch]] for the crash-ordering contract.
    *
    * `srcCol`: optional per-row provenance column (e.g. source-file
    * basename) persisted alongside each committed hash as `src` — what
    * [[retractSources]] matches to drop an invalidated source's exclusive
    * hashes. None commits `src = null`: irrevocable rows.
    */
  def incrementalExactStaged(df: DataFrame, idCol: String, textCol: String,
      storeDir: String, maxSeenDirs: Int = 16,
      srcCol: Option[String] = None): IncrementalBatch = {
    val spark = df.sparkSession
    val log = seenLog(spark, storeDir)
    val stored = openSeen(spark, log, seenMeta("exact"), maxSeenDirs)
    val fresh = unseen(df, idCol, textCol, stored).cache()
    stagedBatch(log, fresh, Seq(col("__h60").as("content_h60"), srcOf(srcCol)), fresh)
  }

  /** INCREMENTAL near-dup (MinHash-LSH) against a persisted signature
    * store — [[incrementalExact]]'s counterpart for near-duplicates, the
    * scale path of a growing-corpus campaign. Each batch is:
    *
    *  1. exact-deduped within itself (lowest id per content — also covers
    *     docs too short to shingle, which the LSH path cannot see),
    *  2. anti-joined against the stored `content_h60` (one sha60 per
    *     EVERY past survivor, shingled or not — this is what makes a
    *     replay of any committed batch a guaranteed no-op, including
    *     shingle-less docs),
    *  3. near-dedup'd within itself (banded LSH candidates + exact-Jaccard
    *     verification, keep the lower id of each verified pair),
    *  4. its remaining docs' band rows equi-joined against every stored
    *     `bh` band (candidates only — never all-pairs) and candidates
    *     exact-Jaccard-verified against the stored hashed-shingle sets.
    *
    * Each survivor commits ONE row (id, content_h60, hs, bh, src) — see
    * [[seenSchema]] — in ONE atomically-renamed dir per batch, and the
    * store compacts back to one dir past `maxSeenDirs` commits. The store
    * holds 8-byte shingle hashes, one band value per band and one sha60
    * per survivor — no document text ever persists or shuffles. A store's
    * `n`, `bands`, `rowsPerBand` and id type are fixed by its first stage.
    */
  def incrementalMinhash(df: DataFrame, idCol: String, textCol: String,
      storeDir: String, n: Int = StoreNgram, bands: Int = StoreBands,
      rowsPerBand: Int = StoreRowsPerBand, threshold: Double = StoreThreshold,
      maxSeenDirs: Int = 16): DataFrame =
    incrementalMinhashStaged(df, idCol, textCol, storeDir, n, bands, rowsPerBand,
      threshold, maxSeenDirs).committed()

  /** [[incrementalMinhash]] with the store publish deferred to
    * `commit()` — see [[IncrementalBatch]] for the crash-ordering contract.
    */
  def incrementalMinhashStaged(df: DataFrame, idCol: String, textCol: String,
      storeDir: String, n: Int = StoreNgram, bands: Int = StoreBands,
      rowsPerBand: Int = StoreRowsPerBand, threshold: Double = StoreThreshold,
      maxSeenDirs: Int = 16, srcCol: Option[String] = None): IncrementalBatch = {
    val spark = df.sparkSession
    val log = seenLog(spark, storeDir)
    val idType = df.select(col(idCol)).schema.head.dataType
    val stored = openSeen(spark, log, seenMeta("minhash", "n" -> n, "bands" -> bands,
      "rowsPerBand" -> rowsPerBand, "id" -> idType.simpleString), maxSeenDirs)
    // 1) within-batch exact dedup + 2) exact-store pre-filter: identical
    // replays (and identical re-submissions) drop here, for EVERY doc —
    // the shingle-less idempotency hole is closed structurally. The
    // survivors' shingle sets and bands are computed once, as columns of
    // the cached rows: the LSH pass and the commit both read them there
    val batch = unseen(df, idCol, textCol, stored)
      .withColumn("__hs", column(ShingleHashes(expression(col(textCol)), n)))
      .withColumn("__hs", when(size(col("__hs")) > 0, col("__hs")))
      .withColumn("__bh", bandsOf(col("__hs"), bands, rowsPerBand))
      .cache()
    // 3+4) near-dup removal, within-batch and cross-batch FUSED into one
    // candidate pass: the batch's band rows join ONCE against (batch
    // bands ∪ stored bands), candidates are verified once against (batch
    // sets ∪ stored sets), and the drop set is {b of each verified within
    // pair} ∪ {a matched to the store}. Provably the same survivor set as
    // the two-stage shape (within-keep, then keep-side vs store): a doc
    // the store also matches but the within pass already dropped is
    // simply dropped by both members of the union — anti-join semantics
    // make the double removal a no-op — while every two-stage drop is
    // still generated. An empty store is an empty relation, which the
    // optimizer prunes from both unions. The `__self` flag rides the
    // candidate AND the set lookup so colliding id VALUES between batch
    // and store can never cross-verify.
    val sets = batch.filter(col("__hs").isNotNull)
      .select(col(idCol).as("id"), col("__hs").as("hs"), col("__bh").as("bh"))
    val old = stored.filter(col("hs").isNotNull)
    def bandRows(s: DataFrame): DataFrame =
      s.select(col("id"), posexplode(col("bh")).as(Seq("band", "bhash")))
    val selfBands = bandRows(sets)
    val rightBands = selfBands.withColumn("__self", lit(true))
      .unionByName(bandRows(old).withColumn("__self", lit(false)))
    val cand = bucketPairs(selfBands, rightBands, Seq("band", "bhash"),
      !col("r.__self") || col("l.id") < col("r.id"), "__self")
    val rightSets = sets.select(col("id"), col("hs"), lit(true).as("__self"))
      .unionByName(old.select(col("id"), col("hs"), lit(false).as("__self")))
    val dropped = jaccardPairs(cand, sets, rightSets, threshold, "__self")
      .select(when(col("__self"), col("b")).otherwise(col("a")).as(idCol))
      .distinct()
    val fresh = batch.join(dropped, Seq(idCol), "left_anti").cache()
    stagedBatch(log, fresh, Seq(col(idCol).as("id"), col("__h60").as("content_h60"),
      col("__hs").as("hs"), col("__bh").as("bh"), srcOf(srcCol)), fresh, batch)
  }

  /** Steps 1 and 2 of both incremental modes: the batch exact-deduped
    * within itself, with its `__h60` content hash, minus every row whose
    * hash the store already holds — a replay of a committed batch drops
    * here in full.
    */
  private def unseen(df: DataFrame, idCol: String, textCol: String,
      stored: DataFrame): DataFrame =
    exactDeduped(df, idCol, textCol)
      .withColumn("__h60", Hashing.sha60(col(textCol)))
      .join(stored.select(col("content_h60").as("__h60")), Seq("__h60"), "left_anti")

  /** The staged batch of both incremental modes over the cached survivors
    * `fresh`: `commit()` publishes their `store` columns as one commit,
    * then releases `caches`; `fresh` is handed out without the staging
    * columns.
    */
  private def stagedBatch(log: CommitLog, fresh: DataFrame, store: Seq[Column],
      caches: DataFrame*): IncrementalBatch =
    IncrementalBatch(fresh.drop("__h60", "__hs", "__bh"), () =>
      try log.commit("batch")(writeSeen(log, fresh.select(store: _*)))
      finally caches.foreach(_.unpersist(false)))

  /** RETRACT a set of sources from an incremental store (exact or
    * minhash): every store row whose `src` provenance is in `sources` is
    * dropped — the content-store analogue of freader deleting a removed
    * file's offset row (internal/collector/collector.go:206-214). Rows
    * with null `src` (batches staged without `srcCol`) are irrevocable and
    * always survive.
    *
    * Cost is O(affected commit dirs), not O(store): each commit carries a
    * `_srcs` provenance manifest, and a dir whose manifest is disjoint
    * from the retracted set is left byte-for-byte untouched (a dir without
    * a manifest is conservatively rewritten). Each affected dir is rewritten —
    * one read with the store schema, one write — as its own fresh commit
    * that supersedes it ([[CommitLog.replace]]: none is published when no
    * row survives, and the old dir is RETIRED, so a concurrent reader whose
    * plan pinned the old files keeps reading them); the whole pass holds
    * the store lease ([[CommitLog.withLock]]) so a concurrent compaction
    * cannot merge pre-retraction rows back in. A crash between
    * a rewrite commit and its retire leaves the old dir live beside its
    * rewrite — never a hole, and running the retraction again converges
    * to the uninterrupted answer: the old dir is rewritten again, its
    * rewrite's manifest is disjoint.
    *
    * A store from before format 2 is refused, as a stage refuses it
    * ([[readMeta]]).
    *
    * Hashes a retracted file shared with a LIVE file keep the live file's
    * row only if the live file introduced them first (the store holds one
    * provenance row per hash — the introducing delivery); content whose
    * sole delivery was the retracted file becomes deliverable again, which
    * is the point: no sink holds it any more.
    */
  def retractSources(spark: SparkSession, storeDir: String,
      sources: Seq[String]): Unit = {
    if (sources.isEmpty) return
    val log = seenLog(spark, storeDir)
    val srcSet = sources.toSet
    log.withLock {
      readMeta(log).foreach { meta =>
        log.live.filter(d => log.read(new Path(d, SrcsManifest)).map(decSrcs)
            .forall(_.exists(srcSet))).foreach { d =>
          // a rewrite is 1:1 with the dir it replaces: no exchange
          log.replace(Seq(d))(writeSeen(log, rowsOf(spark, Seq(d), seenSchema(meta))
            .filter(col("src").isNull || !col("src").isin(sources: _*))))
        }
      }
    }
  }

  /** Distinct shingles per doc (n-gram sets for Jaccard) — STRING form,
    * the exact ground-truth representation ([[ngramJaccard]]).
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        array_distinct(TextAnalysis.shingles(col(textCol), n)).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Distinct HASHED shingles per doc — the scale form: each token is
    * sha60-hashed once (mod P), and every n-gram becomes an integer fold
    * of its n token hashes; the n-gram string is never materialized
    * (string building dominated the shingle cost at sf0.1). Collision
    * odds are ~|shingles|²/2^31 per doc pair and the DuckDB oracle hashes
    * identically, so decisions cannot diverge cross-engine.
    *
    * One native expression ([[graft.functions.ShingleHashes]]) computes
    * tokens → hashes → folds → distinct per row, so the evaluate-once
    * guarantee is structural — no CollapseProject-era Generate barrier.
    */
  def shingleHashSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        column(ShingleHashes(expression(col(textCol)), n)).as("hs"))
      .filter(size(col("hs")) > 0)

  /** Cross-document EXACT n-gram duplication coverage — the reporting face
    * of exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": long verbatim spans recurring
    * across documents are the memorization risk that MinHash's whole-doc
    * similarity misses). For every document sharing at least one hashed
    * n-token shingle with ANOTHER document, emits
    * (doc_id, n_shingles, n_shared): its distinct-shingle count and how
    * many of those shingles also occur elsewhere in the corpus — the
    * duplicated-content fraction a span-removal pass would target.
    *
    * 100 TB shape: the canonical inverted-index pipeline over integers
    * only — per-doc distinct shingle hashes (one native `shingle_hashes`
    * pass, so each token pays one sha256), explode to (hash, id), one
    * map-side-combined count per hash (per-doc distinctness makes
    * `count(*)` = distinct docs — no count_distinct state), filter to the
    * shared minority, then one semi-shaped join back and a per-doc count.
    * Shuffles carry (long, long) rows; no strings, no all-pairs product —
    * the same scaling argument as the LSH band join.
    */
  def crossDocShingleCoverage(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val hs = shingleHashSets(df, idCol, textCol, n)
    // n_shingles rides the exploded rows (8 bytes) and comes back through
    // the final aggregate (max of a per-id constant), so the doc-grain
    // join that re-evaluated the whole shingle_hashes pass a third time
    // is gone; docs with no shared shingle drop out of the inner join
    // exactly as they dropped out of the old inner doc-grain join
    val ex = hs.select(col("id"),
      size(col("hs")).cast("long").as("n_shingles"), explode(col("hs")).as("h"))
    val shared = ex.groupBy(col("h")).agg(count(lit(1)).as("docs"))
      .filter(col("docs") > 1).select(col("h"))
    ex.join(shared, "h")
      .groupBy(col("id").as("doc_id"))
      .agg(max(col("n_shingles")).as("n_shingles"),
        count(lit(1)).as("n_shared"))
  }

  /** Cross-document duplication coverage over WINNOWING fingerprints
    * ([[graft.functions.WinnowHashes]], Schleimer et al. SIGMOD'03): per
    * eligible doc (≥ w+k−1 tokens), its k-gram count, how many fingerprints
    * winnowing selected, how many of those are shared with another doc, and
    * the selection density. Same inverted-index shape as
    * [[crossDocShingleCoverage]] but the index holds only ~2/(w+1) of the
    * k-gram rows while still guaranteeing detection of any shared span of
    * w+k−1 tokens — the index-size/detection-floor trade the full-shingle
    * index cannot make. Per-doc fingerprints are distinct by construction,
    * so the shared-count per hash equals distinct docs.
    */
  def winnowCoverage(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
        (size(graft.operators.TextAnalysis.tokens(col(textCol))) - lit(k - 1))
          .cast("long").as("n_kgrams"),
        column(WinnowHashes(expression(col(textCol)), k, w)).as("fps"))
      .filter(size(col("fps")) > 0)
    val ex = base.select(col("doc_id"), explode(col("fps")).as("f"))
    val shared = ex.groupBy(col("f")).agg(count(lit(1)).as("docs"))
      .filter(col("docs") > 1).select(col("f"))
    val nShared = ex.join(shared, "f")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    base.join(nShared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_kgrams"),
        size(col("fps")).cast("long").as("n_selected"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        graft.operators.TextAnalysis.r6(
          size(col("fps")).cast("double") / col("n_kgrams")).as("density"))
  }

  /** Candidate pairs of the bucket joins: distinct `(a, b)` = (`l.id`,
    * `r.id`) over the rows of `left` and `right` that agree on every
    * `buckets` column and pass `keep` (written over `l.` and `r.`), plus
    * the right row's `carry` columns. Only ids and the carried columns
    * cross the join and the distinct; callers rejoin anything wider.
    */
  private def bucketPairs(left: DataFrame, right: DataFrame, buckets: Seq[String],
      keep: Column, carry: String*): DataFrame =
    left.as("l").join(right.as("r"),
        buckets.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _) && keep)
      .select(Seq(col("l.id").as("a"), col("r.id").as("b")) ++
        carry.map(c => col(s"r.$c").as(c)): _*)
      .distinct()

  /** Exact-Jaccard verification of candidate pairs `cand`: `a` finds its
    * hashed-shingle set in `aSets` (id, hs), `b` in `bSets` (id, hs,
    * `keys`) on `b` and the carried `keys`; the pairs with
    * |A ∩ B| / |A ∪ B| ≥ `threshold` come back as (a, b, keys, jaccard).
    */
  private def jaccardPairs(cand: DataFrame, aSets: DataFrame, bSets: DataFrame,
      threshold: Double, keys: String*): DataFrame =
    cand
      .join(aSets.select(col("id").as("a"), col("hs").as("hsa_")), "a")
      .join(bSets.select(Seq(col("id").as("b")) ++ keys.map(col(_)) :+
        col("hs").as("hsb_"): _*), "b" +: keys)
      .withColumn("inter", size(array_intersect(col("hsa_"), col("hsb_"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("hsa_")) + size(col("hsb_")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select((Seq("a", "b") ++ keys :+ "jaccard").map(col(_)): _*)

  /** Exact all-pairs n-gram Jaccard ≥ threshold — same result set as the
    * naive shingle inverted index (explode → self-join → per-pair counts),
    * computed with the AllPairs/PPJoin prefix filter (Bayardo et al.
    * WWW'07; Xiao et al. WWW'08) so the quadratic candidate blowup on
    * popular shingles never happens:
    *
    *  1. each doc's distinct STRING shingles are hashed to 64 bits
    *     (xxhash64 of the n-gram string — the join/intersect key; the
    *     oracle-compared values only depend on set sizes and intersection
    *     counts, which a 64-bit hash preserves barring ~2^-64 collisions,
    *     and the gate verifies the actual data at every sf);
    *  2. a global rarity order (corpus frequency, then hash) sorts every
    *     doc's shingles rare-first; a J ≥ t pair must share ≥ ceil(t·|A|)
    *     shingles, so its MINIMUM common shingle (in that shared order)
    *     provably falls in both docs' first |X| − ceil(t·|X|) + 1
    *     shingles — only those prefix rows enter the inverted index, and
    *     rare-first ordering makes prefix buckets near-singleton;
    *  3. candidates additionally pass the length filter
    *     min(|A|,|B|) ≥ t·max (J ≤ min/max), then verify with the exact
    *     intersection over the full hash sets — false candidates cost one
    *     array_intersect, never a wrong answer.
    *
    * The ceil is computed with a 1e-9 slack so double rounding of t·sz can
    * only LENGTHEN a prefix (extra candidates), never shorten one (missed
    * pairs). Pairs are (a < b); jaccard = inter/(sza+szb−inter) exactly as
    * before.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"ngramJaccard threshold must be in (0, 1]: $threshold")
    // token array staged through a Generate barrier (explode of a 1-element
    // array): referenced from inside the transform lambda below, an ALIASED
    // tokens expression would be inlined and the regex split re-evaluated
    // once PER SHINGLE (the CollapseProject/lambda trap in CLAUDE.md —
    // measured 2.2s → 0.3s on this stage); a Generate output attribute is
    // evaluated once per row, and projections never merge across Generate
    val tok = df.select(col(idCol).as("id"),
      explode(array(TextAnalysis.tokens(col(textCol)))).as("__t"))
    // cached: the hashed sets feed the prefix index AND both verification
    // sides — without the cache the tokenize + per-shingle hash pass runs
    // three times (the minhashLsh sets-cache rationale; (id, array<long>)
    // rows, never text)
    val sets = tok.select(col("id"),
        array_distinct(when(size(col("__t")) >= n,
          transform(sequence(lit(1), size(col("__t")) - (n - 1)),
            i => xxhash64(array_join(slice(col("__t"), i, lit(n)), " "))))
          .otherwise(array().cast("array<bigint>"))).as("hs"))
      .filter(size(col("hs")) > 0)
      .cache()
    val ex = sets.select(col("id"), size(col("hs")).as("sz"),
      explode(col("hs")).as("h"))
    val freq = ex.groupBy(col("h")).agg(count(lit(1)).as("f"))
    // prefix length p = sz − ceil(t·sz − 1e-9) + 1 ≥ 1 (slack: see Scaladoc)
    val p = (col("sz") - ceil(col("sz") * lit(threshold) - lit(1e-9)) + 1)
      .cast("int")
    val pre = ex.join(freq, "h")
      .groupBy(col("id")).agg(max(col("sz")).as("sz"),
        sort_array(collect_list(struct(col("f"), col("h")))).as("__or"))
      .select(col("id"), col("sz"),
        explode(slice(col("__or"), lit(1), p)).as("__e"))
      .select(col("id"), col("sz"), col("__e.h").as("h"))
    val candidates = bucketPairs(pre, pre, Seq("h"), col("l.id") < col("r.id") &&
      col("l.sz").cast("double") >= col("r.sz") * lit(threshold) - lit(1e-9) &&
      col("r.sz").cast("double") >= col("l.sz") * lit(threshold) - lit(1e-9))
    jaccardPairs(candidates, sets, sets, threshold)
  }

  // ------------------------------------------------------------ content-defined chunking

  /** Content-defined chunk table: (id, chunk_idx, n_tok, chunk_hash), one
    * row per CDC chunk of each document — the [[graft.functions.CdcChunks]]
    * boundary rule (window-hash mask, LBFS/rsync discipline) at word
    * granularity, so boundaries realign across inserted prefixes.
    *
    * Scale shape: one native codegen'd expression per row + posexplode —
    * zero shuffle; downstream dedup shuffles 8-byte chunk hashes, never
    * chunk text. Expected chunk length ≈ `d` tokens.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, d: Long = 8L): DataFrame =
    df.select(col(idCol),
        posexplode(column(CdcChunks(expression(col(textCol)), w, d)))
          .as(Seq("chunk_idx", "__ch")))
      .select(col(idCol), col("chunk_idx"),
        col("__ch.n_tok").as("n_tok"), col("__ch.chunk_hash").as("chunk_hash"))

  /** Chunk-level dedup accounting per document, keep-first semantics: a
    * chunk is DUP if the same chunk hash already occurred at a smaller
    * (id, chunk_idx). Returns per doc: chunk/token totals, dup counts, and
    * the dup token fraction — the shift-robust complement of [[exact]]
    * (whole-document hashing misses a near-copy with one prepended line;
    * chunk grain recovers everything after the first realigned boundary).
    *
    * Scale shape: ONE shuffle on the 8-byte chunk hash (row_number window
    * — hash-partitioned, no global sort), then one aggregate back on the
    * doc id. Rows carry (id, idx, n_tok, hash) integers only.
    */
  def cdcDedup(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, d: Long = 8L): DataFrame = {
    val ch = cdcChunks(df, idCol, textCol, w, d)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk_hash").orderBy(col(idCol), col("chunk_idx"))
    ch.withColumn("__dup", row_number().over(win) > 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(col("n_tok").cast("long")).as("total_tokens"),
        sum(when(col("__dup"), col("n_tok").cast("long")).otherwise(0L))
          .as("dup_tokens"))
      .withColumn("dup_frac", TextAnalysis.r6(
        col("dup_tokens").cast("double") / col("total_tokens")))
  }

  /** Cross-source duplication matrix: fold verified near-dup pairs
    * (a, b, jaccard — e.g. [[minhashLsh]] output) over a (id, source)
    * dimension into per-source-pair counts — the data-card face of dedup:
    * WHICH corpora duplicate WHICH (mirror sites, cross-posted content)
    * is what a mixing recipe needs before down-weighting a source.
    * Canonically ordered (src_lo ≤ src_hi); jaccard is aggregated in
    * exact integer micros (float sums are not hash-comparable
    * cross-engine), mean re-rounds the micro ratio.
    *
    * Scale shape: pairs are ids-only; the source dimension broadcasts;
    * the final aggregate is ≤ |sources|² rows with map-side combine.
    */
  def sourceDupMatrix(pairs: DataFrame, srcDim: DataFrame): DataFrame = {
    val dimA = srcDim.select(col("id").as("a"), col("source").as("src_a"))
    val dimB = srcDim.select(col("id").as("b"), col("source").as("src_b"))
    pairs
      .join(broadcast(dimA), "a")
      .join(broadcast(dimB), "b")
      .select(least(col("src_a"), col("src_b")).as("src_lo"),
        greatest(col("src_a"), col("src_b")).as("src_hi"),
        floor(col("jaccard") * 1000000.0 + 0.5).cast("long").as("__jm"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"), sum("__jm").as("j_micros"))
      .withColumn("mean_jaccard", TextAnalysis.r6(
        col("j_micros").cast("double") / (col("n_pairs") * 1000000.0)))
  }

  // Per-band LSH value semantics: the band's signature rows folded with an
  // affine step mod P (now computed inside the native minhash_bands
  // expression; DedupSpec pins it against the Column formulation).
  // Collisions only ADD candidates, and every candidate is verified with
  // exact Jaccard, so a 31-bit band value is safe.

  /** MinHash + banded LSH near-dup detection over HASHED shingles
    * ([[shingleHashSets]]: one sha60 per token, n-gram strings never
    * materialized); permutation i's value is the two-integer-op
    * [[Hashing.mix]] of the shingle hash, so the signature costs k integer
    * ops per shingle. Docs sharing any band value become candidates
    * (equi-join on (band, bhash) — Catalyst shuffle hash join); candidates
    * are verified with exact Jaccard over the hash sets. At 100 TB the
    * all-pairs comparison never materializes: band buckets bound the
    * candidate set, AQE handles bucket skew, and verification joins only
    * candidate ids back to the (integer) shingle sets.
    *
    * `maxBucket`: candidate generation is QUADRATIC in band-bucket size —
    * a family of B near-identical docs shares every band, so one
    * mega-family costs B²/2 candidate pairs per band (the real 100 TB
    * hazard of LSH dedup; run [[exactDeduped]] first so IDENTICAL docs
    * collapse before banding, as q_curate_full does). A cap drops buckets
    * larger than `maxBucket` from candidate generation: a doc pair is
    * still found if ANY of its shared bands stays under the cap, so only
    * families larger than the cap across ALL their bands lose recall —
    * and a family that size is better handled by clustering its cap-sized
    * subsamples ([[connectedComponents]] chains overlapping subsets).
    * None (the default) keeps exact current behavior and adds no shuffle.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
      threshold: Double = 0.8, maxBucket: Option[Int] = None): DataFrame = {
    // cached: the hashed-shingle sets feed the band-row index AND both
    // sides of the exact-Jaccard verification; only the upstream EXCHANGE
    // is deduped across those uses (ReuseExchange), so everything above it
    // — including the sha256-per-token shingling — would otherwise
    // recompute per use. Rows are (id, array<long>) — compact, never text.
    val sets = shingleHashSets(df, idCol, textCol, n).cache()
    // one native minhash_bands call per row (bit-identical to the Column
    // formulation pinned in DedupSpec) instead of bands·rowsPerBand
    // interpreted higher-order-function transforms
    val bandRows0 = sets.select(col("id"),
      posexplode(bandsOf(col("hs"), bands, rowsPerBand)).as(Seq("band", "bhash")))
    val bandRows = maxBucket match {
      case None => bandRows0
      case Some(cap) =>
        // one aggregate on the (band, bhash) key — the same key the
        // candidate join shuffles on — then a semi-filter of small buckets
        val sizes = bandRows0.groupBy(col("band"), col("bhash"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") <= cap)
          .select(col("band"), col("bhash"))
        bandRows0.join(sizes, Seq("band", "bhash"), "left_semi")
    }

    // exact-Jaccard verification of candidates only (on the hash sets)
    jaccardPairs(bucketPairs(bandRows, bandRows, Seq("band", "bhash"),
      col("l.id") < col("r.id")), sets, sets, threshold)
  }

  /** Near-dup CLUSTERS: connected components over the verified LSH pair
    * graph, labeling every clustered doc with its component's minimum id
    * (the canonical representative) plus the member count. Pairwise
    * near-dup output ([[minhashLsh]]) under-removes at scale: A≈B and
    * B≈C keeps A and C even when the whole chain is one duplicated
    * document family — components collapse the chain.
    *
    * Implementation: iterative min-label propagation to a fixpoint. Each
    * round joins the (id, cluster) label table to the symmetric edge list,
    * takes the least of own and neighbor labels, and localCheckpoints the
    * result (truncating the iterative lineage). Rounds are bounded by the
    * cluster DIAMETER, not the corpus: near-dup families are shallow
    * (copies of copies), so 2-4 rounds converge. The label table carries
    * two longs per clustered doc — at 100 TB the loop shuffles ids only.
    * The converged labels are the unique component minima, so the result
    * is deterministic regardless of round count — which is what makes an
    * iterative distributed loop DuckDB-oracle-able (recursive CTE).
    *
    * Returns (id, cluster, n_members) for docs in clusters of size ≥ 2;
    * unclustered docs are absent (their cluster is trivially themselves).
    */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
      threshold: Double = 0.8): DataFrame =
    connectedComponents(
      minhashLsh(df, idCol, textCol, n, bands, rowsPerBand, threshold)
        .select(col("a"), col("b")))

  /** Canonical-representative selection over the near-dup clusters: within
    * each cluster, KEEP the member with the longest text (ties broken by
    * lowest id) and mark the rest for removal — the curation policy that a
    * bare "drop all but min-id" dedup gets wrong, since the arbitrary
    * survivor may be the truncated copy of the family ("keep the superset
    * document" is the standard near-dup resolution heuristic). Returns
    * (id, cluster, text_len, keep) for every clustered doc; singletons
    * (docs in no near-dup pair) are not emitted — they are trivially kept
    * and never shuffle through the cluster machinery at all.
    *
    * 100 TB shape: the cluster labels are the ids-only table
    * [[nearDupClusters]] already bounds (duplicated docs only, a small
    * fraction of the corpus); one join pins each label to its text length
    * (a pure scan-side projection — text itself never shuffles) and one
    * window over the cluster key picks the argmax. Everything after the
    * LSH stage moves (long, long) rows.
    */
  def canonicalRepresentatives(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    val cl = nearDupClusters(df, idCol, textCol, n, bands, rowsPerBand,
      threshold)
    val len = df.select(col(idCol).as("id"),
      length(col(textCol)).cast("long").as("text_len"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("text_len").desc, col("id"))
    cl.join(len, "id")
      .withColumn("keep", row_number().over(w) === lit(1))
      .select(col("id"), col("cluster"), col("text_len"), col("keep"))
  }

  /** Connected components over ANY undirected pair graph `(a, b)` — the
    * label-propagation core of [[nearDupClusters]], reusable over every
    * pair producer in the family ([[simhashPairs]], [[embeddingNearDup]],
    * [[ngramJaccard]]). See nearDupClusters for the scale analysis.
    * Returns (id, cluster, n_members) for ids appearing in any pair; an
    * id seen only in a self-pair is its own singleton cluster.
    *
    * Scope: one round per hop of component diameter, and a component
    * deeper than `maxRounds` hops fails with an IllegalStateException
    * rather than running one Spark job per hop. No query, pipeline run or
    * benchmark builds such a graph: near-dup families are shallow, and on
    * them label propagation is the fast path.
    */
  def connectedComponents(pairs0: DataFrame, maxRounds: Int = 50): DataFrame = {
    val pairs = pairs0.select(col("a"), col("b"))
    val edges = pairs
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    // not checkpointed: round 1's materialization computes the distinct
    // from the already-checkpointed edges — a separate eager job here paid
    // one extra job for lineage the per-round checkpoints already cut
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("cluster", col("id"))
    var changed = 1L
    var round = 0
    while (changed > 0) {
      // rounds ≈ component diameter: near-dup families are shallow, so an
      // unconverged round-50 graph is adversarial (one long chain = one
      // Spark job per hop) — fail loudly instead of spinning
      if (round >= maxRounds) throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxRounds rounds — " +
          s"a component is deeper than the maxRounds bound of $maxRounds hops")
      round += 1
      val nbrMin = edges.join(labels.select(col("id").as("b"), col("cluster").as("bc")), "b")
        .groupBy(col("a")).agg(min(col("bc")).as("nm"))
      val next = labels.join(nbrMin.select(col("a").as("id"), col("nm")), Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nm"), col("cluster"))).as("cluster"),
          (col("nm") < col("cluster")).as("moved"))
        .localCheckpoint(true)
      changed = next.filter(col("moved")).count()
      labels = next.drop("moved")
    }
    val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "cluster").select(col("id"), col("cluster"), col("n_members"))
  }

  /** 60-bit SimHash fingerprint — native single-pass expression
    * ([[graft.functions.SimHash]]), built as a plain Column.
    */
  def simhash(text: Column): Column = column(SimHash(expression(text)))

  /** Hamming distance between two fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within a hamming radius, blocked by 15-bit
    * quarters of the 60-bit fingerprint (a pair within distance ≤3 shares
    * at least one identical quarter — pigeonhole), so the join is equi on
    * (quarter idx, value).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "quarter blocking guarantees recall only for distance <= 3")
    val fp = df.select(col(idCol).as("id"), simhash(col(textCol)).as("fp"))
    val blocks = fp.select(col("id"), col("fp"), posexplode(array(
      (0 until 4).map(q => shiftright(col("fp"), q * 15).bitwiseAND(0x7FFFL)): _*))
      .as(Seq("q", "qv")))
    blocks.as("l").join(blocks.as("r"),
        col("l.q") === col("r.q") && col("l.qv") === col("r.qv") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        hamming(col("l.fp"), col("r.fp")).cast("int").as("dist"))
      .distinct()
      .filter(col("dist") <= maxHamming)
  }

  /** Cosine near-duplicates over an embedding column, at scale: rows are
    * blocked by hyperplane-LSH band sketches ([[Similarity.bandSketch]] —
    * the same deterministic plane matrix the ANN path uses), pairs form
    * only inside a (band, sketch) bucket via equi-join, and every candidate
    * pair is verified with the exact cosine. No cartesian anywhere; recall
    * is 1 − (1 − p^planesPerBand)^bands with p = 1 − θ/π, ≈ 0.9999 for
    * cosine ≥ 0.95 at the defaults.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, embCol: String,
      minCosine: Double = 0.95, bands: Int = 12, planesPerBand: Int = 6): DataFrame = {
    val withNorm = df.select(col(idCol).as("id"),
        Similarity.toDoubleVec(col(embCol)).as("v"))
      .withColumn("norm", Similarity.l2norm(col("v")))
    // bucket join and pair-dedup carry ONLY (id, band, sk) / (a, b) — the
    // vectors rejoin after distinct, so the corpus×corpus candidate
    // shuffle moves 3 longs per row, not 2×dims doubles
    val blocks = withNorm.select(col("id"),
      posexplode(Similarity.allBandSketches(col("v"), bands, planesPerBand))
        .as(Seq("band", "sk")))
    bucketPairs(blocks, blocks, Seq("band", "sk"), col("l.id") < col("r.id"))
      .join(withNorm.select(col("id").as("a"), col("v").as("av"), col("norm").as("an")), "a")
      .join(withNorm.select(col("id").as("b"), col("v").as("bv"), col("norm").as("bn")), "b")
      .withColumn("cosine", Similarity.cosine(col("av"), col("bv"), col("an"), col("bn")))
      .filter(col("cosine") >= minCosine)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 §2 — public paper):
    * semantic deduplication by k-means clustering of embeddings followed by
    * within-cluster cosine pruning. Where [[embeddingNearDup]] *reports*
    * near-duplicate pairs, this *decides* survivors: every ε-similar pair
    * inside a cluster drops one member, keeping the one LEAST similar to
    * the cluster centroid (the paper's keep-low policy — the retained
    * extreme carries the information its prototypical near-twins repeat).
    *
    * Determinism (both engines): row d is dropped iff some same-cluster e
    * has r6(cosine(d, e)) >= eps and (e.cos_centroid, e.id) <
    * (d.cos_centroid, d.id) lexicographically — per ε-clique exactly the
    * (cos_centroid, id)-minimum survives, and chains resolve greedily
    * (every beaten member drops, even when its beater also drops).
    * cos_centroid is r6-rounded BEFORE comparison and the fit's means are
    * r6-rounded ([[Similarity.kmeansFit]]), so the tie-break is
    * bit-identical in Spark and DuckDB.
    *
    * Scale shape: the fit is kmeansFit's model-sized jobs; assignment and
    * centroid-cosine are pure projections over the literal k×D model (zero
    * shuffle — the q_emb_outlier discipline); candidates come from ONE
    * self-equi-join on cid carrying (id, cos_centroid) only, vectors
    * rejoining for the exact cosine — within-cluster quadratic by the
    * paper's own design, bounded by running k ∝ corpus size so clusters
    * stay fixed-sized (their GPU-resident constraint is our task-resident
    * one). Returns every input row: (idCol, cid, cos_centroid, kept 0/1).
    */
  def semDedup(df: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int, eps: Double): DataFrame = {
    require(eps > 0 && eps <= 1, s"eps must be in (0, 1]: $eps")
    val cents = Similarity.kmeansFit(df, idCol, embCol, k, iters)
    val assigned = Similarity.assignCentroids(df, idCol, embCol, cents, "id", probes = 1)
    val byCid = cents.sortBy(_._1)
    val cv = element_at(typedlit(byCid.map(_._2.toSeq).toSeq), col("cid").cast("int") + 1)
    val cn = element_at(typedlit(byCid.map(_._3).toSeq), col("cid").cast("int") + 1)
    val scored = assigned.withColumn("cos_centroid",
      TextAnalysis.r6(
        Similarity.cosine(col("id_v"), cv, col("id_norm"), cn)))
    val slim = scored.select(col("id"), col("cid"), col("cos_centroid"))
    val cand = slim.select(col("cid"), col("id").as("a"), col("cos_centroid").as("ac"))
      .join(slim.select(col("cid"), col("id").as("b"), col("cos_centroid").as("bc")),
        Seq("cid"))
      .filter(col("a") < col("b"))
    val vecs = scored.select(col("id"), col("id_v"), col("id_norm"))
    val losers = cand
      .join(vecs.select(col("id").as("a"), col("id_v").as("av"),
        col("id_norm").as("an")), "a")
      .join(vecs.select(col("id").as("b"), col("id_v").as("bv"),
        col("id_norm").as("bn")), "b")
      .filter(TextAnalysis.r6(
        Similarity.cosine(col("av"), col("bv"), col("an"), col("bn"))) >= eps)
      .select(when(col("ac") > col("bc") ||
          (col("ac") === col("bc") && col("a") > col("b")),
        col("a")).otherwise(col("b")).as("id"))
      .distinct()
    scored.join(losers.withColumn("__drop", lit(1)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cid"), col("cos_centroid"),
        when(col("__drop").isNull, 1).otherwise(0).cast("int").as("kept"))
  }

  // ------------------------------------------------------------ exact span scrub

  /** Exact duplicated-span REMOVAL — the C4 three-sentence-span rule
    * (Raffel et al. 2020, arXiv:1910.10683 §2.2) / ExactSubstr dedup (Lee
    * et al. 2022, arXiv:2107.06499) at fixed token-block grain: the corpus
    * here is single-line text, so "sentence" maps to a non-overlapping
    * `k`-token block. Every block whose content already occurred at a
    * smaller (id, block_idx) anywhere in the corpus is DELETED from the
    * document (first occurrence kept); the trailing partial block (< k
    * tokens) is always kept — the short-span floor below which duplication
    * is not evidence (Lee et al.'s minimum match length). Unlike [[exact]]
    * / [[cdcDedup]] (doc-level drop / accounting), this REWRITES the text:
    * the surviving document is the concatenation of its kept blocks + tail
    * in block order, whitespace-normalized lowercase (the [[TextAnalysis
    * .tokens]] canonical form).
    *
    * Returns (id, n_tokens, n_blocks, n_removed_blocks, removed_tokens,
    * clean_text).
    *
    * Scale shape: block hashes are computed per row BEFORE any exchange,
    * so the keep-first shuffle moves (id, block_idx, 8-byte hash) only —
    * never block text; removed positions come back as ONE ids-only
    * per-doc array row (empty-free: only docs that lose a block appear),
    * joined doc-grain; reconstruction is a pure expression over the
    * original token array (no second text shuffle, no re-explode).
    * Window is row_number over the hash — hash-partitioned, no global
    * sort. Survives 100×: every exchanged row is integers.
    */
  def spanScrub(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    // token array staged through a Generate barrier: the block-hash and
    // reconstruction lambdas below reference it, and an aliased tokens
    // expression would be inlined by CollapseProject — one regex split per
    // BLOCK instead of per row (the repetition/ngramJaccard trap)
    val staged = df.select(col(idCol),
      explode(array(TextAnalysis.tokens(col(textCol)))).as("__t"))
    val toks = staged.select(col(idCol), col("__t"),
        (size(col("__t")) / k).cast("int").as("__nb"))
      .select(col(idCol), col("__t"), col("__nb"),
        size(col("__t")).cast("long").as("n_tokens"),
        // sequence(0, -1) DESCENDS in Spark — guard zero-block docs
        when(col("__nb") > 0, sequence(lit(0), col("__nb") - 1))
          .otherwise(array().cast("array<int>")).as("__idxs"))
    // (id, block_idx, h) — ids only past this point
    val occ = toks.select(col(idCol), posexplode(
      transform(col("__idxs"), i =>
        Hashing.sha60(concat(lit("span:"),
          array_join(slice(col("__t"), i * k + 1, lit(k)), " "))))
    ).as(Seq("block_idx", "h")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy(col(idCol), col("block_idx"))
    val removedPerDoc = occ
      .withColumn("__rn", row_number().over(win))
      .filter(col("__rn") > 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("block_idx"))).as("__rem"))
    toks.join(removedPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        col("__nb").cast("long").as("n_blocks"),
        coalesce(size(col("__rem")), lit(0)).cast("long")
          .as("n_removed_blocks"),
        (coalesce(size(col("__rem")), lit(0)) * k).cast("long")
          .as("removed_tokens"),
        array_join(concat(
          flatten(transform(
            filter(col("__idxs"),
              i => coalesce(!array_contains(col("__rem"), i), lit(true))),
            i => slice(col("__t"), i * k + 1, lit(k)))),
          slice(col("__t"), col("__nb") * k + 1,
            size(col("__t")) - col("__nb") * k)), " ").as("clean_text"))
  }
}
