package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.checkpoint.CommitLog

/** Minimal snapshot-table layer over Parquet: atomic snapshot commit,
  * monotonically increasing snapshot ids, read-at-snapshot.
  *
  * Stands in for an Iceberg table (no Iceberg runtime ships in this
  * environment — SURVEY.md environment facts): the semantics the engine
  * relies on are (a) a snapshot is an immutable list of data files,
  * (b) commits are atomic (tmp + rename on the same filesystem),
  * (c) readers can pin a snapshot id. The interface is deliberately thin so
  * `spark.read.format("iceberg").option("snapshot-id", …)` can be dropped
  * in behind [[TranscriptTable]] on a real cluster.
  *
  * Layout: `<root>/data/<uuid>-partNNN.parquet`,
  * `<root>/manifests/manifest-<id>.txt` (line 1 = snapshot id, then one
  * data-file path per line). The manifests dir is the table's
  * [[CommitLog]]: an append stages its data under a `_tmp-*` dir there,
  * moves the files into `data/` ([[CommitLog.publishFiles]]) and publishes
  * the next manifest with [[CommitLog.putFile]]; a crashed append's
  * `_tmp-*` ages out through [[CommitLog.sweep]]. Published files are
  * never rewritten, so readers may run during any append. All I/O goes
  * through the Hadoop FileSystem API, so the same code runs on HDFS/S3A
  * (with the caveat that S3 rename is copy-based; a real deployment would
  * use a metastore commit).
  */
trait TranscriptTable {
  def currentSnapshotId: Option[Long]
  def filesAt(snapshotId: Long): Seq[String]
  def read(spark: SparkSession, snapshotId: Long): DataFrame
  def append(df: DataFrame): Long
}

final class SnapshotTable(spark: SparkSession, root: String) extends TranscriptTable {
  private val rootPath = new Path(root)
  private val dataDir = new Path(rootPath, "data")
  private val log = {
    val manifestDir = new Path(rootPath, "manifests")
    new CommitLog(manifestDir.getFileSystem(spark.sparkContext.hadoopConfiguration),
      manifestDir, "manifest-")
  }

  private def manifestName(id: Long): String = f"manifest-$id%012d.txt"

  override def currentSnapshotId: Option[Long] =
    log.live.map(_.getName.stripPrefix("manifest-").stripSuffix(".txt").toLong).maxOption

  override def filesAt(snapshotId: Long): Seq[String] = {
    val p = new Path(log.root, manifestName(snapshotId))
    log.read(p).getOrElse(throw new java.io.FileNotFoundException(s"no manifest $p"))
      .split("\n").toSeq.drop(1).filter(_.nonEmpty)
  }

  override def read(spark: SparkSession, snapshotId: Long): DataFrame = {
    val files = filesAt(snapshotId)
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(files: _*)
  }

  /** Write `df` as new data files and atomically commit snapshot N+1 whose
    * manifest = previous files + new files.
    */
  override def append(df: DataFrame): Long = {
    log.sweep()
    val newFiles = log.publishFiles(dataDir)(tmp =>
      df.write.mode("overwrite").parquet(tmp.toString)).map(_.toString)
    val prevId = currentSnapshotId
    val newId = prevId.getOrElse(0L) + 1
    val body = newId.toString +: (prevId.map(filesAt).getOrElse(Nil) ++ newFiles)
    require(log.putFile(manifestName(newId), body.mkString("\n")),
      s"snapshot $newId of $root was committed by a concurrent append")
    newId
  }
}
