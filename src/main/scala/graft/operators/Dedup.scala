package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType,
  StructField, StructType}

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
    * rows — consumable any number of times, deterministically, from stage
    * until the NEXT batch is staged against the same store (its plan pins
    * the store dirs that existed at stage time; `commit()` only adds a
    * dir, but the next stage's compaction may merge-and-delete the pinned
    * ones). `commit()` atomically publishes the survivors' state to the
    * store and releases the per-batch caches. Staging lets a caller
    * (e.g. [[graft.Pipeline]]) deliver the survivors first and commit the
    * dedup store ONLY after its own delivery commit, so a crash-and-replay
    * never loses rows to a store that committed ahead of the sink.
    */
  final case class IncrementalBatch(fresh: DataFrame, commit: () => Unit)

  /** The seen-store's commit log: `seen-<id>` dirs, superseded ones
    * retired rather than deleted (a concurrent reader whose plan pinned
    * their files — the streaming near-dup stage shares the store with
    * batch runs, streaming/TranscriptStream.scala — never hits a deleted
    * file mid-scan).
    */
  private def seenLog(fs: FileSystem, root: Path) = new CommitLog(fs, root, "seen-")

  /** Live store commits — the reader view. Public so tests and external
    * consumers share this predicate rather than re-deriving it.
    */
  def listSeen(fs: FileSystem, root: Path): Seq[Path] = seenLog(fs, root).live

  /** Per-commit provenance manifest: the sorted distinct non-null `src`
    * values of the dir's rows, one per line. [[retractSources]] skips any
    * dir whose manifest is disjoint from the retracted set — retraction
    * cost becomes O(affected dirs), not O(store). Dirs without a manifest
    * (pre-manifest commits) are conservatively treated as affected. An
    * EMPTY manifest is meaningful: the dir holds only null-src
    * (irrevocable) rows, so no retraction can ever touch it.
    */
  private val SrcsManifest = "_srcs"

  /** The manifest is line-delimited, so line-breaking bytes inside a src
    * value (legal in POSIX file names) are percent-escaped — an unescaped
    * "a\nb.log" would split into two fragment lines, never match the
    * retracted set, and make the retraction silently skip the dir.
    */
  private def encSrc(s: String): String =
    s.replace("%", "%25").replace("\n", "%0A").replace("\r", "%0D")

  private def decSrc(s: String): String =
    s.replace("%0D", "\r").replace("%0A", "\n").replace("%25", "%")

  private def writeSrcs(fs: FileSystem, dir: Path, srcs: Seq[String]): Unit = {
    val out = fs.create(new Path(dir, SrcsManifest), true)
    try out.write(srcs.distinct.sorted.map(encSrc).mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readSrcs(fs: FileSystem, dir: Path): Option[Set[String]] = {
    val p = new Path(dir, SrcsManifest)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).map(decSrc).toSet)
      finally in.close()
    }
  }

  /** Distinct non-null `src` values of a staged batch — the `_srcs`
    * manifest content. A driver-side collect of file BASENAMES, bounded by
    * the batch's source-file count, never data-sized. `srcCol = None` →
    * empty manifest: every row is null-src, so retraction can skip the dir
    * outright.
    */
  private def distinctSrcs(fresh: DataFrame, srcCol: Option[String]): Seq[String] =
    srcCol.toSeq.flatMap { c =>
      fresh.select(col(c).cast("string")).na.drop().distinct()
        .collect().map(_.getString(0)).toSeq
    }

  /** Run independent Spark actions concurrently and wait for all of them —
    * the overlap-independent-jobs discipline: a store commit's component
    * writes (and a compaction's per-part merges) have no data dependency,
    * so running them from a small thread pool turns N sequential
    * job-latency payments into one. Exceptions propagate to the caller.
    */
  private def parallelJobs(fs: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.sequence(fs.map(f => Future(f()))), Duration.Inf)
    ()
  }

  /** Scale-adaptive output sizing for store-commit writes: an AQE-coalesced
    * repartition on the row key lets adaptive execution size the commit's
    * files by advisory partition bytes — ONE file for a fixture-sized
    * commit, ~64 MB files for a billion-hash batch — instead of one tiny
    * file per upstream partition (the small-files anti-pattern: every later
    * campaign read pays per-file open + `mergeSchema` footer costs
    * O(files), and a long campaign reads each commit many times).
    */
  private def sized(df: DataFrame, key: String): DataFrame =
    df.repartition(col(key))

  /** A commit dir's parquet components, relative to the dir: a minhash
    * commit holds `bands`, `sets` and `exact` subdirs (stores written before
    * the exact component lack it), an exact commit is one component at the
    * dir itself ("").
    */
  private def components(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(new Path(dir, "bands"))) Seq("")
    else Seq("bands", "sets", "exact").filter(p => fs.exists(new Path(dir, p)))

  /** Read schema of an exact-hash component (an exact commit dir, or a
    * minhash commit's `exact` subdir): given, not inferred, so a read
    * opens no footer and runs no schema-merge job. A pre-provenance dir,
    * written without `src`, reads it as null.
    */
  private val ExactSchema = StructType(Seq(
    StructField("content_h60", LongType), StructField("src", StringType)))

  /** Read schemas of a minhash commit's `bands` and `sets` components,
    * given for the same reason as [[ExactSchema]]. `id` is the id type of
    * the batch being staged: a store's id type is fixed by its first
    * commit, and every later batch must use it.
    */
  private def bandsSchema(id: DataType) = StructType(Seq(StructField("id", id),
    StructField("band", IntegerType), StructField("bhash", LongType),
    StructField("src", StringType)))

  private def setsSchema(id: DataType) = StructType(Seq(StructField("id", id),
    StructField("hs", ArrayType(LongType)), StructField("src", StringType)))

  private def at(dir: Path, part: String): Path =
    if (part.isEmpty) dir else new Path(dir, part)

  /** Stage-time store upkeep: sweep crash leftovers, then size-triggered
    * compaction (as in checkpoint/Lineage.scala compactIfNeeded) — a long
    * campaign otherwise accretes one `seen-*` dir per batch and every
    * subsequent run lists and unions ALL of them, O(batches) reader-side
    * growth. When the live count exceeds `maxDirs`, merge every live dir
    * into ONE fresh commit, component by component (`mergeSchema` unifies
    * pre-provenance dirs, without `src`, with provenance dirs; hash
    * components are de-duplicated), and only then retire the sources; a
    * crash in between leaves duplicate hashes (harmless — the consumer is
    * an anti-join), never a hole.
    *
    * Runs at STAGE time, before the batch's read plans are built: a
    * staged batch's `fresh` plan pins the store dirs it was staged
    * against, so superseding those dirs at commit time would break a
    * caller that (correctly) consumes `fresh` after `commit()`.
    */
  private def compactSeen(spark: SparkSession, fs: FileSystem, log: CommitLog,
      maxDirs: Int): Unit = {
    log.sweep()
    log.withLock {
      val dirs = log.live
      if (dirs.size > maxDirs) {
        // merged manifest = union of the sources' manifests, but only when
        // every source HAS one — a single pre-manifest dir poisons the union
        // (its rows' srcs are unknown), so the merged dir stays conservative
        val manifests = dirs.map(readSrcs(fs, _))
        val union =
          if (manifests.forall(_.isDefined)) Some(manifests.flatMap(_.get))
          else None
        log.commit(CommitLog.freshId()) { tmp =>
          parallelJobs(dirs.flatMap(components(fs, _)).distinct.map { part => () =>
            val merged = spark.read.option("mergeSchema", "true")
              .parquet(dirs.map(at(_, part)).filter(fs.exists).map(_.toString): _*)
            (if (part == "bands" || part == "sets") sized(merged, "id")
            else sized(merged.distinct(), "content_h60"))
              .write.mode("overwrite").parquet(at(tmp, part).toString)
          }: _*)
          union.foreach(u => writeSrcs(fs, tmp, u.toSeq))
        }
        dirs.foreach(log.retire)
      }
    }
  }

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
      storeDir: String, maxSeenDirs: Int = 16): DataFrame = {
    val b = incrementalExactStaged(df, idCol, textCol, storeDir, maxSeenDirs)
    // (no srcCol: callers outside the pipeline stage rarely have stable
    // per-row provenance; their store rows carry src = null → irrevocable)
    // materialize before commit releases the stage cache, so consumers of
    // the returned frame read blocks instead of re-running the anti-join;
    // localCheckpoint blocks are ContextCleaner-reclaimed on GC (no leak).
    // Callers that DISCARD the result (store seeding) and cluster jobs
    // that must survive executor loss (checkpoint blocks don't recompute)
    // should use the staged form + commit() directly instead.
    val out = b.fresh.localCheckpoint(true)
    b.commit()
    out
  }

  /** [[incrementalExact]] with the store publish deferred to
    * `commit()` — see [[IncrementalBatch]] for the crash-ordering contract.
    *
    * `srcCol`: optional per-row provenance column (e.g. source-file
    * basename) persisted alongside each committed hash as `src` — what
    * [[retractSources]] matches to drop an invalidated source's exclusive
    * hashes. None commits `src = null`: irrevocable rows, pre-provenance
    * store compatible (the store is read with [[ExactSchema]], so a dir
    * without `src` reads it as null).
    */
  def incrementalExactStaged(df: DataFrame, idCol: String, textCol: String,
      storeDir: String, maxSeenDirs: Int = 16,
      srcCol: Option[String] = None): IncrementalBatch = {
    val spark = df.sparkSession
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = seenLog(fs, root)
    compactSeen(spark, fs, log, maxSeenDirs)
    val dirs = log.live.map(_.toString)
    val hashed = exactDeduped(df, idCol, textCol)
      .withColumn("content_h60", Hashing.sha60(col(textCol)))
    val fresh = (if (dirs.isEmpty) hashed
      else hashed.join(
        spark.read.schema(ExactSchema).parquet(dirs: _*).select("content_h60"),
        Seq("content_h60"), "left_anti")).cache()
    val srcExpr = srcCol.map(col).getOrElse(lit(null)).cast("string").as("src")
    val commit = () => try {
      if (!fresh.isEmpty)
        log.commit(CommitLog.freshId()) { tmp =>
          // no `sized` here: a per-batch exact commit is one small write
          // and the repartition exchange costs more than the file-count
          // saving — commit-dir file sizing is enforced at COMPACTION
          // (the accretion control point a long campaign actually hits)
          fresh.select(col("content_h60"), srcExpr)
            .write.mode("overwrite").parquet(tmp.toString)
          writeSrcs(fs, tmp, distinctSrcs(fresh, srcCol))
        }
    } finally fresh.unpersist(false)
    IncrementalBatch(fresh.drop("content_h60"), commit)
  }

  /** INCREMENTAL near-dup (MinHash-LSH) against a persisted signature
    * store — [[incrementalExact]]'s counterpart for near-duplicates, the
    * scale path of a growing-corpus campaign. Each batch is:
    *
    *  1. exact-deduped within itself (lowest id per content — also covers
    *     docs too short to shingle, which the LSH path cannot see),
    *  2. anti-joined against the store's `exact` component (one sha60 per
    *     EVERY past survivor, shingled or not — this is what makes a
    *     replay of any committed batch a guaranteed no-op, including
    *     shingle-less docs),
    *  3. near-dedup'd within itself (banded LSH candidates + exact-Jaccard
    *     verification, keep the lower id of each verified pair),
    *  4. its remaining docs' band rows equi-joined against every band any
    *     earlier batch committed (candidates only — never all-pairs) and
    *     candidates exact-Jaccard-verified against the stored
    *     hashed-shingle sets.
    *
    * Survivors' `(bands, sets, exact)` state is committed as ONE
    * atomically-renamed dir, and the store compacts back to one dir past
    * `maxSeenDirs` commits. The store holds integer band rows + 8-byte
    * shingle hashes + one sha60 per survivor — no document text ever
    * persists or shuffles.
    */
  def incrementalMinhash(df: DataFrame, idCol: String, textCol: String,
      storeDir: String, n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
      threshold: Double = 0.8, maxSeenDirs: Int = 16): DataFrame = {
    val b = incrementalMinhashStaged(df, idCol, textCol, storeDir, n, bands,
      rowsPerBand, threshold, maxSeenDirs)
    // see incrementalExact: materialize, then commit-and-release
    val out = b.fresh.localCheckpoint(true)
    b.commit()
    out
  }

  /** [[incrementalMinhash]] with the store publish deferred to
    * `commit()` — see [[IncrementalBatch]] for the crash-ordering contract.
    */
  def incrementalMinhashStaged(df: DataFrame, idCol: String, textCol: String,
      storeDir: String, n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
      threshold: Double = 0.8, maxSeenDirs: Int = 16,
      srcCol: Option[String] = None): IncrementalBatch = {
    val spark = df.sparkSession
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = seenLog(fs, root)
    compactSeen(spark, fs, log, maxSeenDirs)
    val seenDirs = log.live
    // 1) within-batch exact dedup + 2) exact-store pre-filter: identical
    // replays (and identical re-submissions) drop here, for EVERY doc —
    // the shingle-less idempotency hole is closed structurally. Dirs from
    // stores predating the exact component simply contribute nothing to
    // this filter (their band/set state still cross-matches below).
    val exactDirs = seenDirs.filter(d => fs.exists(new Path(d, "exact")))
      .map(d => s"$d/exact")
    val batch = exactDeduped(df, idCol, textCol)
      .withColumn("__h60", Hashing.sha60(col(textCol)))
    val unseen = (if (exactDirs.isEmpty) batch
      else batch.join(
        spark.read.schema(ExactSchema).parquet(exactDirs: _*),
        col("__h60") === col("content_h60"), "left_anti")).cache()
    // 3+4) near-dup removal, within-batch and cross-batch FUSED into one
    // candidate pass when the store is non-empty: the batch's band rows
    // join ONCE against (batch bands ∪ stored bands), candidates are
    // verified once against (batch sets ∪ stored sets), and the drop set
    // is {b of each verified within pair} ∪ {a matched to the store}.
    // Provably the same survivor set as the former two-stage shape
    // (within-keep, then keep-side vs store): a doc the store also matches
    // but the within pass already dropped is simply dropped by both
    // members of the union — anti-join semantics make the double removal
    // a no-op — while every former drop is still generated. Halves the
    // LSH exchanges of a batch (one band join + one distinct + one
    // verification + one anti-join instead of two of each). The `__self`
    // flag rides the candidate AND the set lookup so colliding id VALUES
    // between batch and store can never cross-verify.
    val sets = shingleHashSets(unseen, idCol, textCol, n).cache()
    val fresh0 =
      if (seenDirs.isEmpty) {
        val pairs = lshPairsFromSets(sets, bands, rowsPerBand, threshold)
        unseen.join(pairs.select(col("b").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
      } else {
        val idType = sets.schema("id").dataType
        val oldBands = spark.read.schema(bandsSchema(idType))
          .parquet(seenDirs.map(d => s"$d/bands"): _*)
          .select("id", "band", "bhash")
        val oldSets = spark.read.schema(setsSchema(idType))
          .parquet(seenDirs.map(d => s"$d/sets"): _*)
          .select("id", "hs")
        val selfBands = bandRowsOf(sets, bands, rowsPerBand)
        val rightBands = selfBands.withColumn("__self", lit(true))
          .unionByName(oldBands.withColumn("__self", lit(false)))
        val cand = selfBands.as("l").join(rightBands.as("r"),
            col("l.band") === col("r.band") && col("l.bhash") === col("r.bhash") &&
              (!col("r.__self") || col("l.id") < col("r.id")))
          .select(col("l.id").as("a"), col("r.id").as("b"),
            col("r.__self").as("__self"))
          .distinct()
        val rightSets = sets.withColumn("__self", lit(true))
          .unionByName(oldSets.withColumn("__self", lit(false)))
        val dropped = cand
          .join(sets.select(col("id").as("a"), col("hs").as("hsa_")), "a")
          .join(rightSets.select(col("id").as("b"), col("__self"),
            col("hs").as("hsb_")), Seq("b", "__self"))
          .withColumn("inter", size(array_intersect(col("hsa_"), col("hsb_"))))
          .filter(col("inter").cast("double") /
            (size(col("hsa_")) + size(col("hsb_")) - col("inter")) >= threshold)
          .select(when(col("__self"), col("b")).otherwise(col("a")).as(idCol))
          .distinct()
        unseen.join(dropped, Seq(idCol), "left_anti")
      }
    val fresh = fresh0.cache()
    val commit = () => try {
      if (!fresh.isEmpty) {
        // provenance rides every component row so retractSources can
        // rewrite all three in one pass. Without srcCol the src column is a
        // null LITERAL — attaching it via the freshSrc join would pay two
        // extra join exchanges per commit for a constant
        val srcExpr = srcCol.map(col).getOrElse(lit(null)).cast("string").as("src")
        val freshSets = sets.join(fresh.select(col(idCol).as("id")),
          Seq("id"), "left_semi")
        def withSrc(dfc: DataFrame): DataFrame = srcCol match {
          case None => dfc.withColumn("src", lit(null).cast("string"))
          case Some(_) =>
            dfc.join(fresh.select(col(idCol).as("id"), srcExpr), "id")
        }
        log.commit(CommitLog.freshId()) { tmp =>
          // the three component writes are independent jobs over the same
          // cached frames — submit them concurrently (guide §2.6: actions
          // are only sequential because the driver calls them sequentially)
          // so the commit's wall time is the slowest write, not the sum
          parallelJobs(
            () => withSrc(bandRowsOf(freshSets, bands, rowsPerBand))
              .write.mode("overwrite").parquet(new Path(tmp, "bands").toString),
            () => withSrc(freshSets)
              .write.mode("overwrite").parquet(new Path(tmp, "sets").toString),
            () => fresh.select(col("__h60").as("content_h60"), srcExpr)
              .write.mode("overwrite").parquet(new Path(tmp, "exact").toString))
          writeSrcs(fs, tmp, distinctSrcs(fresh, srcCol))
        }
      }
    } finally {
      fresh.unpersist(false); unseen.unpersist(false); sets.unpersist(false)
    }
    IncrementalBatch(fresh.drop("__h60"), commit)
  }

  /** RETRACT a set of sources from an incremental store (exact or minhash
    * layout, auto-detected per dir by [[components]]): every store row whose `src`
    * provenance is in `sources` is dropped — the content-store analogue of
    * freader deleting a removed file's offset row
    * (internal/collector/collector.go:206-214). Rows with null `src`
    * (pre-provenance commits, or batches staged without `srcCol`) are
    * irrevocable and always survive.
    *
    * Cost is O(affected commit dirs), not O(store): each commit carries a
    * `_srcs` provenance manifest, and a dir whose manifest is disjoint
    * from the retracted set is left byte-for-byte untouched (pre-manifest
    * dirs are conservatively rewritten). Each affected dir is rewritten as
    * its own atomically-renamed fresh commit and the old dir is RETIRED
    * (marker file, retention-delayed delete — see [[listSeen]]) rather
    * than deleted, so a concurrent reader whose plan pinned the old files
    * keeps reading them; the whole pass holds the store mutation lease
    * ([[CommitLog.withLock]]) so a concurrent compaction cannot merge
    * pre-retraction rows back in. A crash between a rewrite commit and its
    * retire leaves the old dir live beside its rewrite — never a hole, and
    * running the retraction again converges to the uninterrupted answer:
    * the old dir is rewritten again, its rewrite's manifest is disjoint.
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
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val srcSet = sources.toSet
    def keep(dfm: DataFrame): DataFrame =
      if (!dfm.columns.contains("src")) dfm
      else dfm.filter(col("src").isNull || !col("src").isin(sources: _*))
    val log = seenLog(fs, root)
    log.withLock {
      val affected = log.live.filter { d =>
        readSrcs(fs, d) match {
          case Some(srcs) => srcs.exists(srcSet) // manifest: exact answer
          case None => true // pre-manifest commit: conservative rewrite
        }
      }
      affected.foreach { d =>
        val survivorSrcs = readSrcs(fs, d).map(s => (s -- srcSet).toSeq)
        log.commit(CommitLog.freshId()) { tmp =>
          // rewrites are 1:1 with the dir they replace — keep the source
          // dir's partitioning (no `sized` exchange; see the exact-commit
          // note above) and overlap the component rewrites
          parallelJobs(components(fs, d).map { part => () =>
            keep(spark.read.parquet(at(d, part).toString))
              .write.mode("overwrite").parquet(at(tmp, part).toString)
          }: _*)
          survivorSrcs.foreach(writeSrcs(fs, tmp, _))
        }
        log.retire(d)
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
    val candidates = pre.as("l").join(pre.as("r"),
        col("l.h") === col("r.h") && col("l.id") < col("r.id") &&
          col("l.sz").cast("double") >= col("r.sz") * lit(threshold) - lit(1e-9) &&
          col("r.sz").cast("double") >= col("l.sz") * lit(threshold) - lit(1e-9))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
    candidates
      .join(sets.select(col("id").as("a"), col("hs").as("hsa_")), "a")
      .join(sets.select(col("id").as("b"), col("hs").as("hsb_")), "b")
      .withColumn("inter", size(array_intersect(col("hsa_"), col("hsb_"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("hsa_")) + size(col("hsb_")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
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

  /** Band rows (id, band, bhash) of hashed-shingle sets — the LSH index
    * rows shared by [[minhashLsh]] and [[incrementalMinhash]]. One native
    * [[graft.functions.MinhashBands]] call per row (bit-identical to the
    * Column formulation pinned in DedupSpec) instead of bands·rowsPerBand
    * interpreted higher-order-function transforms.
    */
  private def bandRowsOf(sets: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sets.select(col("id"), posexplode(
      column(MinhashBands(expression(col("hs")), bands, rowsPerBand)))
      .as(Seq("band", "bhash")))

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
      threshold: Double = 0.8, maxBucket: Option[Int] = None): DataFrame =
    // cached: the hashed-shingle sets feed the band-row index AND both
    // sides of the exact-Jaccard verification; only the upstream EXCHANGE
    // is deduped across those uses (ReuseExchange), so everything above it
    // — including the sha256-per-token shingling — would otherwise
    // recompute per use. Rows are (id, array<long>) — compact, never text
    // (the incremental-store path has cached its sets since r5 for the
    // same reason).
    lshPairsFromSets(shingleHashSets(df, idCol, textCol, n).cache(), bands,
      rowsPerBand, threshold, maxBucket)

  /** Verified near-dup pairs (a < b) from precomputed hashed-shingle sets:
    * banded candidates + exact-Jaccard verification of candidates only.
    * Shared by [[minhashLsh]] and [[incrementalMinhashStaged]] (which
    * builds `sets` once and reuses it for the cross-batch join).
    */
  private def lshPairsFromSets(sets: DataFrame, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBucket: Option[Int] = None): DataFrame = {
    val bandRows0 = bandRowsOf(sets, bands, rowsPerBand)
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

    val candidates = bandRows.as("l").join(bandRows.as("r"),
        col("l.band") === col("r.band") && col("l.bhash") === col("r.bhash") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()

    // exact-Jaccard verification of candidates only (on the hash sets)
    val withSets = candidates
      .join(sets.select(col("id").as("a"), col("hs").as("hsa_")), "a")
      .join(sets.select(col("id").as("b"), col("hs").as("hsb_")), "b")
    withSets
      .withColumn("inter", size(array_intersect(col("hsa_"), col("hsb_"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("hsa_")) + size(col("hsb_")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
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
    * two longs per clustered doc — at 100 TB the loop shuffles ids only;
    * for adversarial long-chain graphs swap in the alternating
    * small-star/large-star variant (same join shape, fewer rounds). The
    * converged labels are the unique component minima, so the result is
    * deterministic regardless of round count — which is what makes an
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
    * Returns (id, cluster, n_members) for ids appearing in any pair.
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
          "component diameter exceeds the bound; for long-chain graphs use " +
          "connectedComponentsAltStar (alternating small-star/large-star, " +
          "O(log n) rounds) or raise maxRounds")
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

  /** Connected components by ALTERNATING large-star / small-star rounds —
    * the long-chain escape hatch for [[connectedComponents]]. Min-label
    * propagation needs one round per hop of component DIAMETER (a 10k-link
    * plagiarism chain = 10k Spark jobs); the alternating-star algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) contracts chains geometrically and converges in
    * O(log n) rounds regardless of diameter, with the same per-round
    * shuffle shape (one groupBy on node id over an ids-only edge table).
    *
    * Each round rewrites the edge set (kept canonical: `u > v`):
    *  - large-star: every node links its LARGER neighbors directly to the
    *    minimum of its closed neighborhood — long tails fold toward minima;
    *  - small-star: every node links its smaller neighbors AND itself to
    *    that minimum — stars flatten to depth one.
    * Fixpoint: the edge set stops changing, at which point every edge is
    * `(member, component-min)`. Both phases only ever re-point a node at a
    * SMALLER label from its own component, so the converged minima are
    * identical to [[connectedComponents]]' — callers can swap algorithms
    * without changing results (and the DuckDB recursive-CTE oracle still
    * applies). Same return contract: (id, cluster, n_members) for every id
    * appearing in any input pair.
    *
    * The 100 TB shape: edges are two ids per row, each phase is one
    * aggregate + one join on the same key, and localCheckpoint truncates
    * the iterative lineage each round. Rounds are O(log n) ≈ 40 for 2^40
    * nodes, so `maxRounds` is a true anomaly guard, not a tuning knob.
    */
  def connectedComponentsAltStar(pairs0: DataFrame, maxRounds: Int = 60): DataFrame = {
    // ONE pinned evaluation of the pair producer: both the edge set and
    // the end-of-run singleton anti-join derive from this snapshot, so an
    // unstable producer (sampled/generated ids) can't hand them
    // inconsistent id sets
    val pairs = pairs0.select(col("a"), col("b")).localCheckpoint(true)
    val allIds = pairs.select(col("a").as("id"))
      .unionByName(pairs.select(col("b").as("id"))).distinct()
    var edges = pairs
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    var edgeCount = edges.count()
    var converged = false
    var round = 0
    while (!converged) {
      if (round >= maxRounds) throw new IllegalStateException(
        s"connectedComponentsAltStar: no fixpoint after $maxRounds rounds — " +
          "O(log n) convergence bound exceeded; the input edge table is " +
          "growing adversarially or ids are unstable across evaluations")
      round += 1
      // large-star over the SYMMETRIC view: per node, the min of the closed
      // neighborhood; larger neighbors re-point at it
      val sym = edges.select(col("u").as("s"), col("v").as("d"))
        .unionByName(edges.select(col("v").as("s"), col("u").as("d")))
      val mins = sym.groupBy(col("s")).agg(least(min(col("d")), first(col("s"))).as("m"))
      // not checkpointed: `next` is the round's only materialization —
      // large's distinct-exchange subtree appears in both the smins
      // aggregate and the join probe below, and ReuseExchange computes it
      // once inside next's plan; a separate eager checkpoint here paid one
      // extra job per round for lineage next's own checkpoint already cuts
      val large = sym.join(mins, "s")
        .filter(col("d") > col("s"))
        .select(col("d").as("u"), col("m").as("v"))
        .distinct()
      // small-star over the canonical (u > v) view: u and its smaller
      // neighbors all re-point at the neighborhood min
      val smins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = large.join(smins, "u")
        .select(explode(array(
          struct(col("u").as("u"), col("m").as("v")),
          struct(col("v").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u"), col("e.v"))
        .filter(col("u") =!= col("v"))
        .distinct().localCheckpoint(true)
      val nextCount = next.count()
      converged = nextCount == edgeCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
      edgeCount = nextCount
    }
    // converged edges are (member, component-min) stars; the minima label
    // themselves, and ids only ever seen in self-pairs are singletons
    val starred = edges.select(col("u").as("id"), col("v").as("cluster"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("cluster")).distinct())
    val singles = allIds.join(starred.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    val labels = starred.unionByName(singles)
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
    val pairs = blocks.as("l").join(blocks.as("r"),
        col("l.band") === col("r.band") && col("l.sk") === col("r.sk") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
    pairs
      .join(withNorm.select(col("id").as("a"), col("v").as("av"), col("norm").as("an")), "a")
      .join(withNorm.select(col("id").as("b"), col("v").as("bv"), col("norm").as("bn")), "b")
      .withColumn("cosine",
        Similarity.dot(col("av"), col("bv")) / (col("an") * col("bn")))
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
