package graft.checkpoint

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** One committed lineage entry: data file × sink, the engine's analogue of
  * freader's offsets row (internal/store/migrations/00001_create_table_offsets.sql;
  * API internal/store/sqlite_store.go:18-30). `content_hash` plays the
  * fingerprint role (internal/file_tracker/fingerprint.go:27-53): recomputed
  * at resume, a mismatch means the file changed under us and must be
  * reprocessed from scratch — the same reaction as the reference's
  * fingerprint-mismatch reopen (internal/tailer/tail_reader.go:95-106 →
  * collector.go:93-98 re-registration).
  */
final case class LineageEntry(
    runId: String,
    snapshotId: Long,
    file: String,
    sink: String,
    rowsDelivered: Long,
    /** Rows the sink attempted but the remote rejected — the NumFailed
      * bookkeeping of cmd/freader/sink/opensearch/opensearch.go:123-138:
      * failures are counted per batch, never silently folded into
      * delivered, and never retried (fire-and-forget bulk semantics).
      */
    rowsFailed: Long,
    contentHash: String,
    committedAtMs: Long)

/** Lineage checkpoint store as a PARQUET TABLE: one atomic commit
  * directory per run (`commit-<runId>-<id>/`, written distributed by Spark
  * and published by one [[CommitLog]] rename), so committing a run's
  * entries never funnels per-file rows through the driver — at ~800k data
  * files × S sinks the entries are themselves a dataset. Readers take the
  * union of the live commit dirs; duplicates per (file, sink) resolve
  * last-writer-wins by `committedAtMs` (Pipeline.run), which is what makes
  * every mutation here crash-safe: additions and rewrites both land as a
  * whole directory rename, and a crash between steps only ever leaves
  * superseded duplicates, never a hole. Compaction and [[pruneTo]] follow
  * the [[CommitLog]] rewrite rule — one fresh commit under the store lease,
  * then the sources retire — so readers may run during any rewrite: a
  * DataFrame from [[entriesDf]] keeps reading the files its plan pinned
  * until the retention sweep. Ordinary commits and reads take no lease.
  */
final class LineageStore(spark: SparkSession, root: String,
    maxCommitDirs: Int = 16) {
  private val log = {
    val rootPath = new Path(root)
    new CommitLog(rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration),
      rootPath, "commit-")
  }

  /** All committed entries as a DataFrame (LineageEntry schema).
    *
    * Schema evolution: commit dirs written before a column existed (e.g.
    * `rowsFailed`, added after the first stores shipped) must stay
    * readable. Every dir is read with the explicit LineageEntry schema,
    * all fields nullable — no footer is read to infer a schema, so the
    * read adds no Spark job — and a column a dir lacks reads as null and
    * coalesces to its type default, so resume against an old store never
    * throws UNRESOLVED_COLUMN (or NPEs in `as[LineageEntry]`).
    */
  def entriesDf(): org.apache.spark.sql.DataFrame = entriesOf(log.live)

  private def entriesOf(dirs: Seq[Path]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import spark.implicits._
    val empty = spark.emptyDataset[LineageEntry].toDF()
    if (dirs.isEmpty) empty
    else {
      val readSchema = StructType(empty.schema.map(_.copy(nullable = true)))
      val raw = spark.read.schema(readSchema).parquet(dirs.map(_.toString): _*)
      raw.select(empty.schema.map { f =>
        val default = f.dataType match {
          case LongType => lit(0L)
          case StringType => lit("")
          case _ => lit(null).cast(f.dataType)
        }
        coalesce(col(f.name), default).as(f.name)
      }: _*)
    }
  }

  /** Driver-side convenience view (resume logic, tests). The per-run
    * COMMIT path never goes through here.
    */
  def readAll(): Seq[LineageEntry] = {
    import spark.implicits._
    entriesDf().as[LineageEntry].collect().toSeq
  }

  /** Atomically commit one run's entries (small/test-sized sets). */
  def commit(entries: Seq[LineageEntry]): Unit = {
    if (entries.isEmpty) return
    import spark.implicits._
    commitDf(spark.createDataset(entries).toDF(), entries.head.runId)
  }

  /** Distributed atomic commit: Spark writes the entries, then one rename
    * publishes the commit — the WAL commit point. Sweeps crash leftovers
    * first. `df` must have the LineageEntry schema.
    *
    * Size-triggered compaction follows: a long-lived store otherwise
    * accrues one `commit-*` dir per run, so the reader-side union grows
    * O(runs) — unlike the reference's SQLite upsert, which never grows
    * (internal/store/sqlite_store.go:104-119). Past `maxCommitDirs` live
    * dirs, every live dir merges into ONE fresh commit
    * ([[CommitLog.compact]]). Row-preserving (duplicates resolve
    * last-writer-wins at read, as always); entriesOf, not a raw read,
    * normalizes old-schema dirs.
    */
  def commitDf(df: org.apache.spark.sql.DataFrame, commitId: String): Unit = {
    log.sweep()
    log.commit(commitId)(writeEntries(df, _))
    log.compact(maxCommitDirs)(dirs => writeEntries(entriesOf(dirs), _))
  }

  private def writeEntries(df: org.apache.spark.sql.DataFrame, tmp: Path): Boolean = {
    // fixed column order so every commit dir carries the identical schema
    val cols = Seq("runId", "snapshotId", "file", "sink", "rowsDelivered",
      "rowsFailed", "contentHash", "committedAtMs")
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").parquet(tmp.toString)
    true
  }

  /** Remove entries for files no longer present (J4 removal set-difference,
    * mirroring offset Delete on file removal — collector.go:206-214): under
    * the store lease, the live dirs are read and, when any entry goes, ONE
    * fresh commit of the kept entries replaces them ([[CommitLog.replace]]).
    * Not followed by an auto-compaction: the replacement already is the
    * store's one live dir. Returns removed entries.
    */
  def pruneTo(liveFiles: Set[String]): Seq[LineageEntry] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    log.withLock {
      val old = log.live
      val liveDf = broadcast(spark.createDataset(liveFiles.toSeq).toDF("file"))
      val all = entriesOf(old)
      val drop = all.join(liveDf, Seq("file"), "left_anti").as[LineageEntry].collect().toSeq
      if (drop.nonEmpty)
        log.replace(old)(writeEntries(all.join(liveDf, Seq("file"), "left_semi"), _))
      drop
    }
  }
}

/** The reference's three fingerprint strategies as an ADT producing hash
  * Columns over row content (internal/watcher/watcher.go:15-18 enum;
  * strategies at internal/file_tracker/fingerprint.go and
  * file_id_linux.go:11-18):
  *
  *  - Checksum(n): sha256 of the first n characters; rows shorter than n
  *    yield null (the reference errors on too-small files,
  *    fingerprint.go:33-40)
  *  - ChecksumSeparator(sep, n): sha256 through the Nth separator occurrence
  *    inclusive; null when fewer than n separators exist
  *  - DeviceAndInode: identity from storage coordinates, not content — here
  *    the source file path (the batch analogue of dev:ino)
  */
sealed trait FingerprintStrategy {
  def column(content: org.apache.spark.sql.Column): org.apache.spark.sql.Column
}
object FingerprintStrategy {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  final case class Checksum(n: Int) extends FingerprintStrategy {
    def column(content: Column): Column =
      when(length(content) >= n, sha2(substring(content, 1, n), 256))
  }
  final case class ChecksumSeparator(sep: String, n: Int) extends FingerprintStrategy {
    def column(content: Column): Column =
      when(size(split(content, java.util.regex.Pattern.quote(sep))) > n,
        sha2(concat(substring_index(content, sep, n), lit(sep)), 256))
  }
  case object DeviceAndInode extends FingerprintStrategy {
    def column(content: Column): Column = input_file_name()
  }
}

/** File fingerprinting for resume validation — the `checksum` strategy
  * (sha256 of the first N bytes, internal/file_tracker/fingerprint.go:27-53)
  * applied to immutable data files. Files shorter than N hash what exists
  * (data files, unlike live logs, cannot grow), but length is mixed in so
  * truncation is always detected.
  */
object Fingerprint {
  val DefaultPrefixBytes: Int = 64 * 1024

  /** Hash one file's 64KB prefix + length with an explicit Hadoop conf —
    * runs on executors ([[ofFilesDf]]) as well as the driver ([[ofFile]]).
    */
  def hashOne(conf: org.apache.hadoop.conf.Configuration, file: String,
      prefixBytes: Int = DefaultPrefixBytes): String = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val n = math.min(prefixBytes.toLong, status.getLen).toInt
    val buf = new Array[Byte](n)
    val in = fs.open(p)
    try in.readFully(0L, buf, 0, n) finally in.close()
    val md = MessageDigest.getInstance("SHA-256")
    md.update(buf)
    md.update(status.getLen.toString.getBytes(StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  def ofFile(spark: SparkSession, file: String, prefixBytes: Int = DefaultPrefixBytes): String =
    hashOne(spark.sparkContext.hadoopConfiguration, file, prefixBytes)

  /** DISTRIBUTED fingerprinting: one (file, contentHash) row per input
    * path, hashed on executors — the resume validation must not serialize
    * ~800k 64KB reads through the driver (the reference fingerprints
    * per-file inside parallel discovery callbacks,
    * internal/collector/collector.go:165-199; this is the cluster
    * analogue). Hadoop conf ships via SerializableWritable so s3a/hdfs
    * credentials configured on the session reach the tasks.
    */
  def ofFilesDf(spark: SparkSession, files: Seq[String],
      prefixBytes: Int = DefaultPrefixBytes): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    if (files.isEmpty) return spark.emptyDataset[(String, String)].toDF("file", "contentHash")
    val confSer = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val parts = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(files, parts)
      .mapPartitions { it =>
        val conf = confSer.value
        it.map(f => (f, hashOne(conf, f, prefixBytes)))
      }
      .setName(RddName)
      .toDF("file", "contentHash")
  }

  /** Name of the hashing RDD, as Spark's stage info reports it. */
  val RddName = "Fingerprint.ofFilesDf"
}
