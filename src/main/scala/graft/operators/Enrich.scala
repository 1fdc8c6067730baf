package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Enrich stage: broadcast left join against a small tool/role lookup
  * dimension plus the constant host column.
  *
  * Reference analogues: the 25-row known-subsystem table
  * (pkg/parser/dmesg/dmesg.go:137-166) for the dimension join, and the
  * config-constant host every sink row carries
  * (cmd/freader/sink/clickhouse/clickhouse.go:122,
  * cmd/freader/sink/opensearch/opensearch.go:103-108) for the constant.
  * The configured labels are stamped once, at delivery ([[graft.Pipeline]]).
  *
  * At 100 TB the dimension stays tiny (tens of rows) — `broadcast()` makes
  * this a map-side hash join with zero shuffle of the fact side.
  */
object Enrich {

  /** (tool, tool_family, tool_label) — the lookup dimension (FIXTURES.md §2).
    * Covers both the synthesizer tool names and the events-derived ones.
    */
  val toolDim: Seq[(String, String, String)] = Seq(
    ("search", "io", "read-only"),
    ("read", "io", "read-only"),
    ("browse", "io", "read-only"),
    ("exec", "exec", "side-effect"),
    ("write", "exec", "side-effect"),
    ("eval", "exec", "side-effect"),
    ("plan", "meta", "internal"),
    ("reply", "meta", "internal"),
    ("purchase_t0", "commerce", "side-effect"),
    ("purchase_t1", "commerce", "side-effect"),
    ("purchase_t2", "commerce", "side-effect"),
    ("purchase_t3", "commerce", "side-effect"),
    ("error_t0", "fault", "diagnostic"),
    ("error_t1", "fault", "diagnostic"),
    ("error_t2", "fault", "diagnostic"),
    ("error_t3", "fault", "diagnostic"))

  def toolDimDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    toolDim.toDF("tool", "tool_family", "tool_label")
  }

  /** DuckDB VALUES-list equivalent of [[toolDimDf]] for oracle SQL. */
  val toolDimSql: String = toolDim
    .map { case (t, f, l) => s"('$t','$f','$l')" }
    .mkString("(VALUES ", ", ", ") AS tool_dim(tool, tool_family, tool_label)")

  /** Broadcast left-outer equi-join on `tool`; unmatched/non-tool turns get
    * family 'none'. Also stamps the constant host "graft" (J1: constant
    * folding, no join).
    */
  def enrich(df: DataFrame): DataFrame =
    df.join(broadcast(toolDimDf(df.sparkSession)), Seq("tool"), "left")
      .withColumn("tool_family", coalesce(col("tool_family"), lit("none")))
      .withColumn("tool_label", coalesce(col("tool_label"), lit("none")))
      .withColumn("host", lit("graft"))
}
