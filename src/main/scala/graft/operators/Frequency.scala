package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Deterministic count-min frequency sketch (Cormode & Muthukrishnan,
  * "An improved data stream summary: the count-min sketch and its
  * applications", J. Algorithms 2005) over the cross-engine
  * [[Hashing.mix]] affine family — the 2-universal hashes the CMS
  * analysis requires, re-derivable bit-for-bit in the DuckDB oracle.
  *
  * Layout: d rows × w counters; item x increments counter
  * (i, mix_i(x) mod w) for each row i; a point estimate is the MIN over
  * the d counters, which never under-counts and over-counts by at most
  * εN (ε = e/w) with probability 1 − δ (δ = e^−d). All counters are
  * integers, so unlike the HLL estimate there is no floating-point
  * cross-engine surface at all.
  *
  * The 100 TB shape: [[sketch]] is one streaming aggregate whose state is
  * at most d·w counter rows — partial counts combine map-side, so the
  * shuffle carries ≤ d·w integer rows per map task no matter how large
  * the input, where the exact answer (a full groupBy on the key space)
  * shuffles every distinct key. [[merge]] is counter-wise sum, so
  * per-shard / per-day sketches roll up without revisiting data.
  * [[estimate]] probes a broadcast of the (tiny) sketch.
  *
  * No reference analogue — the frequency face of the sizing questions
  * next to [[Cardinality]]: "which shingles / urls / templates are the
  * heavy hitters" asked before choosing boilerplate filters, without
  * paying a full-vocabulary shuffle.
  */
object Frequency {

  /** The d (row, col) probes of a staged hash column. The item hash is
    * materialized in a projection BELOW the Generate so sha256 runs once
    * per input row, not once per probe — Catalyst collapses stacked
    * projections (inlining the hash into every array slot) but never
    * merges a projection into a Generate's generator.
    */
  private def probeCols(x: Column, d: Int, w: Int): Column =
    posexplode(array((0 until d).map(i => Hashing.mix(x, i) % w): _*))

  /** Counter table (row: int, col: long, cnt: long) of an m = d×w sketch.
    * Absent (row, col) pairs mean counter value 0.
    */
  def sketch(items: DataFrame, item: Column, d: Int = 4, w: Int = 1024): DataFrame = {
    require(d >= 1 && d <= 16, s"depth d=$d outside [1, 16]")
    require(w >= 2, s"width w=$w must be >= 2")
    items.select(item.as("__cms_x"))
      .select(probeCols(col("__cms_x"), d, w).as(Seq("row", "col")))
      .groupBy("row", "col").agg(count(lit(1)).as("cnt"))
  }

  /** Counter-wise merge: the sketch of a union is the SUM per counter
    * (contrast [[Cardinality.merge]]'s max) — the per-shard rollup path.
    */
  def merge(sks: DataFrame*): DataFrame = {
    require(sks.nonEmpty, "merge needs at least one sketch table")
    sks.reduce(_ unionByName _).groupBy("row", "col").agg(sum(col("cnt")).as("cnt"))
  }

  /** Point estimates for every distinct row of `queries` (duplicates
    * collapse): appends `cnt_est` = min over the d probed counters (0 for
    * never-seen items). `d`/`w` MUST match the values the sketch was built
    * with — a mismatched `w` probes columns the sketch never filled and
    * would undercount, the one error CMS promises never to make, so it is
    * rejected as far as statically possible. `queries` may carry any
    * columns except the reserved `__cms_*` internals and `cnt_est`.
    */
  def estimate(sk: DataFrame, queries: DataFrame, item: Column,
      d: Int = 4, w: Int = 1024): DataFrame = {
    require(d >= 1 && d <= 16, s"depth d=$d outside [1, 16]")
    require(w >= 2, s"width w=$w must be >= 2")
    val keepNames = queries.columns.toSeq
    require(keepNames.forall(c => !c.startsWith("__cms_") && c != "cnt_est"),
      s"queries columns collide with reserved names: ${keepNames.mkString(",")}")
    val probed = queries.withColumn("__cms_x", item)
      .select(keepNames.map(col) :+
        probeCols(col("__cms_x"), d, w).as(Seq("__cms_row", "__cms_col")): _*)
    val skInternal = sk.select(col("row").as("__cms_row"),
      col("col").as("__cms_col"), col("cnt").as("__cms_cnt"))
    probed.join(broadcast(skInternal), Seq("__cms_row", "__cms_col"), "left")
      .groupBy(keepNames.map(col): _*)
      .agg(min(coalesce(col("__cms_cnt"), lit(0L))).as("cnt_est"))
  }
}
