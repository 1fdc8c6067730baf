package graft

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, posexplode, size}
import org.apache.spark.sql.graft.Catalyst.{column, expression}

import graft.functions.{Hashing, MinhashBands, ShingleHashes}

/** Hand-built seen-store commits in the layout before format 2: a minhash
  * commit is three parquet components — `bands` (id, band, bhash),
  * `sets` (id, hs) and `exact` (content_h60), each with `src` when the docs
  * carry one, plus a `_srcs` manifest — and the store has no `_meta`.
  */
object LegacySeenStore {
  /** Commit `docs` (id, text[, src]) as dir `<store>/seen-<name>`. */
  def commit(store: String, name: String, docs: DataFrame, n: Int, bands: Int,
      rowsPerBand: Int): Path = {
    val dir = new Path(store, s"seen-$name")
    val fs = dir.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
    val src = if (docs.columns.contains("src")) Seq(col("src")) else Nil
    val sets = docs.select(col("id") +: column(ShingleHashes(expression(col("text")), n))
      .as("hs") +: src: _*).filter(size(col("hs")) > 0)
    sets.write.parquet(new Path(dir, "sets").toString)
    sets.select(col("id") +: posexplode(column(MinhashBands(expression(col("hs")),
      bands, rowsPerBand))).as(Seq("band", "bhash")) +: src: _*)
      .write.parquet(new Path(dir, "bands").toString)
    docs.select(Hashing.sha60(col("text")).as("content_h60") +: src: _*)
      .write.parquet(new Path(dir, "exact").toString)
    if (src.nonEmpty) {
      val srcs = docs.select("src").distinct().collect().map(_.getString(0)).sorted
      val out = fs.create(new Path(dir, "_srcs"), true)
      try out.write(srcs.mkString("\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    dir
  }
}
