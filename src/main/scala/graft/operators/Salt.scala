package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew handling for mega-conversations (north-rule requirement;
  * SURVEY §2.4). AQE's skew-join splitting does not apply to window
  * functions, so stages choose one of:
  *
  *  - [[saltedRepartition]] for ORDER-FREE stages (parse, enrich, route):
  *    rows of one conversation spread across `buckets` partitions, so a
  *    10^5-turn conversation cannot pin a single task.
  *  - plain `repartition(conv_id) + sortWithinPartitions` for ORDER-SENSITIVE
  *    stages (the multiline FSM), where per-conversation locality is the
  *    contract ([[Segments.assembleFsm]]).
  *  - [[twoPhaseOrdered]] when an order-sensitive aggregation is
  *    decomposable: salt → partial per (conv, salt-run) → merge per conv.
  */
object Salt {

  def saltCol(buckets: Int): Column =
    pmod(hash(col("turn_idx")), lit(buckets))

  /** Spread each conversation over `buckets` partitions; safe for any
    * stage that treats rows independently.
    *
    * Sizing (measured, BENCH.md skew section): buckets must exceed the
    * target partition count or a mega-conversation splits into too few
    * distinct keys to spread — 16 buckets into 32 partitions measured
    * max/median task time 4.6; at 4× the partition count it flattens to
    * 1.2. Rule of thumb: buckets ≥ 4 × numPartitions.
    */
  def saltedRepartition(df: DataFrame, numPartitions: Int, buckets: Int): DataFrame =
    df.repartition(numPartitions, col("conv_id"), saltCol(buckets))

  /** Two-phase ordered aggregation for decomposable per-conversation
    * reductions: phase 1 computes partials per (conv_id, contiguous
    * turn-range bucket) in parallel, phase 2 merges the (few) partials per
    * conversation in range order. Example instance: per-conversation
    * ordered text concatenation.
    */
  def twoPhaseOrderedConcat(df: DataFrame, rangeSize: Int = 10000): DataFrame = {
    val bucket = (col("turn_idx") / rangeSize).cast("long").as("range_bucket")
    val partials = df
      .groupBy(col("conv_id"), bucket)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("text")))),
        s => s.getField("text")), "\n").as("part"),
        count(lit(1)).as("n"))
    partials
      .groupBy(col("conv_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("range_bucket"), col("part")))),
        s => s.getField("part")), "\n").as("full_text"),
        sum(col("n")).as("n_turns"))
  }
}
