package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Bucketed (co-located) layout for the dedup hash store — the
  * cluster-scale complement to the directory store in [[Dedup]].
  *
  * Why it exists: at 100 TB the `seen` store is the BIG side of the
  * incremental-dedup anti-join (~10^11 8-byte hashes), and the directory
  * store re-shuffles it on every batch. Writing the store `bucketBy(n,
  * "h")` pre-partitions it ON DISK: every subsequent anti-join reads the
  * store with its hash distribution already satisfied — the only Exchange
  * in the plan is the (orders-of-magnitude smaller) incoming batch being
  * shuffled to the store's bucketing, and `sortBy("h")` lets the
  * sort-merge join skip the store-side Sort when buckets are single-file.
  * Point probes additionally bucket-prune (`SelectedBucketsCount: 1 out
  * of n`).
  *
  * Trade vs the directory store: bucketed tables live in the session
  * catalog (a metastore on a real cluster), don't compose with the
  * retraction/provenance machinery (`Dedup.retractSources`), and fix their
  * bucket count at write time — so this is the read-mostly, append-rarely
  * layout; the directory store remains the mutating one. Both key on the
  * same [[Hashing.sha60]] content hash. It is the one persisted layout
  * outside [[graft.checkpoint.CommitLog]]: a catalog table written whole
  * by overwrite has no commit, supersede or sweep step to share.
  *
  * Reference role: the committed-offset store of
  * internal/file_tracker/file_tracker.go re-expressed as a co-located
  * table — the reference scans its whole store per poll too; bucketing is
  * what that scan becomes when the store outgrows one node.
  */
object Bucketed {

  /** Write the distinct content hashes of `df` as a bucketed, sorted
    * parquet table (overwrite). One shuffle on `h` at write time buys
    * every later join its co-location.
    */
  def writeSeen(df: DataFrame, textCol: String, table: String,
      nBuckets: Int): Unit = {
    require(table.matches("[A-Za-z0-9_]+"),
      s"table must be a bare identifier: $table")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // the in-memory catalog does not survive the JVM but the warehouse
    // directory does — a leftover location from a previous run fails
    // saveAsTable's LOCATION_ALREADY_EXISTS check, so clear it explicitly
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.select(Hashing.sha60(col(textCol)).as("h")).distinct()
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, "h").sortBy("h")
      .saveAsTable(table)
  }

  /** Survivors of `batch` against the bucketed store: anti-join on the
    * 8-byte content hash. The store side reads WITHOUT an Exchange (its
    * bucketing satisfies the join distribution); only the batch shuffles.
    */
  def dedupAgainst(batch: DataFrame, idCol: String, textCol: String,
      table: String): DataFrame = {
    val spark = batch.sparkSession
    batch.select(col(idCol), col(textCol),
        Hashing.sha60(col(textCol)).as("h"))
      .join(spark.table(table), Seq("h"), "left_anti")
      .select(col(idCol), col(textCol))
  }
}
