package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Deterministic HLL-style distinct-count sketch (Flajolet et al.,
  * "HyperLogLog: the analysis of a near-optimal cardinality estimation
  * algorithm", AofA 2007) built on the cross-engine [[Hashing.sha60]]
  * kernel, so the DuckDB oracle can re-derive the registers bit-for-bit —
  * which Spark's own `approx_count_distinct` (HLL++, engine-private
  * serialization) cannot offer.
  *
  * Sketch layout over the 60-bit hash: the top `p` bits pick one of
  * m = 2^p registers; the geometric variable rho is the 1-based position
  * of the LOWEST set bit of the remaining 60−p bits (trailing-zeros + 1 —
  * same 2^-k law as the leading-zeros textbook form, and expressible in
  * both engines as exact integer arithmetic: `rest & -rest` isolates the
  * low bit, whose log2 is an integer that `floor(log2(x) + 0.5)` recovers
  * robustly even if either engine's libm is off by an ulp).
  *
  * The 100 TB story is the whole point of a sketch: [[registers]] is one
  * streaming pass — partial `max` per bucket combines map-side, so the
  * only shuffle carries ≤ m (bucket, rho) integer rows per map task, and
  * the global state is m bytes-ish regardless of input size. [[merge]] is
  * register-wise max, so per-partition / per-day sketches roll up without
  * revisiting data — the distributivity a plain `count(DISTINCT)` (full
  * shuffle of every distinct string) cannot give. Standard error is
  * 1.04/sqrt(m) (6.5% at the default m = 256).
  *
  * No reference analogue (freader keeps exact per-file counters only) —
  * this sits in the training-data-pipeline extension family next to
  * [[Dedup]]: the "how many distinct shingles / urls / doc hashes" sizing
  * question every dedup campaign asks before it picks its key space.
  */
object Cardinality {

  /** Max-rho registers of `item` under an m = 2^p bucket sketch:
    * (bucket: long in [0, 2^p), mj: int). Rows never seen for a bucket
    * mean register value 0; [[estimate]] accounts for them.
    */
  def registers(items: DataFrame, item: Column, p: Int = 8): DataFrame = {
    // same range as estimate: the two calls of a sketch MUST share one p
    // (registers at p=10 fed to estimate at p=8 would silently mis-scale);
    // [[sketch]] threads a single p through both
    require(p >= 7 && p <= 16, s"sketch precision p=$p outside [7, 16]")
    val restBits = 60 - p
    val mask = (1L << restBits) - 1
    items.select(Hashing.sha60(item).as("h"))
      .select(shiftright(col("h"), restBits).as("bucket"),
        col("h").bitwiseAND(lit(mask)).as("rest"))
      .select(col("bucket"),
        when(col("rest") === 0L, lit(restBits + 1))
          .otherwise(floor(log2(col("rest").bitwiseAND(-col("rest"))) + lit(0.5))
            .cast("int") + lit(1))
          .as("rho"))
      .groupBy("bucket").agg(max(col("rho")).as("mj"))
  }

  /** Register-wise merge: the sketch of a union is the max per bucket —
    * the distributive rollup path (per-shard sketches → corpus sketch).
    * All inputs must share ONE precision, threaded here like the
    * registers/estimate pair: a row whose bucket exceeds 2^p (a register
    * table built at a HIGHER precision — the silent mis-scale misuse)
    * fails the merge job via a load-bearing runtime check on the bucket
    * column itself (load-bearing so column pruning cannot drop it). The
    * converse — a LOWER-precision table fed to a higher-p merge — is
    * structurally undetectable (its buckets are a valid subset), so the
    * contract stays: one p per sketch family, end to end.
    */
  def merge(p: Int, regs: DataFrame*): DataFrame = {
    require(p >= 7 && p <= 16, s"sketch precision p=$p outside [7, 16]")
    require(regs.nonEmpty, "merge needs at least one register table")
    val m = 1L << p
    regs.reduce(_ unionByName _)
      .select(
        when(col("bucket") >= 0L && col("bucket") < m, col("bucket"))
          .otherwise(raise_error(concat(
            lit(s"register bucket out of range for p=$p: "),
            col("bucket").cast("string"))))
          .as("bucket"),
        col("mj"))
      .groupBy("bucket").agg(max(col("mj")).as("mj"))
  }

  /** One-shot estimate with a single precision threaded through both
    * halves — the misuse-proof form of estimate(registers(...)).
    */
  def sketch(items: DataFrame, item: Column, p: Int = 8): DataFrame =
    estimate(registers(items, item, p), p)

  /** One-row (n_occupied: long, e: double) estimate from [[registers]]
    * output. Raw harmonic-mean estimator with the standard linear-counting
    * small-range correction (E ≤ 2.5m with empty buckets present →
    * m·ln(m/V)); empty input estimates 0. Operation order mirrors the
    * DuckDB oracle exactly so the r6-rounded value is cross-engine stable.
    */
  def estimate(regs: DataFrame, p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 16, s"estimator bias constant needs p >= 7 (got $p)")
    groupedEstimate(regs, Nil, p)
  }

  /** [[estimate]] per key group over a keyed register table
    * (keys… , bucket, mj) — one sketch per group, identical op order, so
    * every grouped estimate stays cross-engine stable. `keys = Nil` is the
    * global one-row form.
    */
  def groupedEstimate(regs: DataFrame, keys: Seq[String],
      p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 16, s"estimator bias constant needs p >= 7 (got $p)")
    val m = 1 << p
    val md = m.toDouble
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(md))
    val agged =
      if (keys.isEmpty)
        regs.agg(count(lit(1)).as("n_occupied"),
          coalesce(sum(pow(lit(2.0), -col("mj"))), lit(0.0)).as("s"))
      else
        regs.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("n_occupied"),
            coalesce(sum(pow(lit(2.0), -col("mj"))), lit(0.0)).as("s"))
    val keyCols = keys.map(col)
    agged
      .select(keyCols :+ col("n_occupied") :+
        (alpha * lit(md) * lit(md) /
          (col("s") + (lit(m.toLong) - col("n_occupied")))).as("e_raw"): _*)
      .select(keyCols :+ col("n_occupied") :+
        when(col("e_raw") <= lit(2.5 * md) && col("n_occupied") < m,
          lit(md) * log(lit(md) / (lit(m.toLong) - col("n_occupied"))))
          .otherwise(col("e_raw")).as("e"): _*)
  }

  /** Keyed register tables: one [[registers]] sketch per value of `key`
    * in a single pass — partial max per (key, bucket) combines map-side,
    * so the shuffle carries ≤ |keys|·m integer rows per map task.
    */
  def keyedRegisters(items: DataFrame, key: Column, item: Column,
      p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 16, s"sketch precision p=$p outside [7, 16]")
    val restBits = 60 - p
    val mask = (1L << restBits) - 1
    items.select(key.as("src"), Hashing.sha60(item).as("h"))
      .select(col("src"), shiftright(col("h"), restBits).as("bucket"),
        col("h").bitwiseAND(lit(mask)).as("rest"))
      .select(col("src"), col("bucket"),
        when(col("rest") === 0L, lit(restBits + 1))
          .otherwise(floor(log2(col("rest").bitwiseAND(-col("rest"))) + lit(0.5))
            .cast("int") + lit(1))
          .as("rho"))
      .groupBy("src", "bucket").agg(max(col("rho")).as("mj"))
  }

  /** Cross-key overlap matrix by inclusion–exclusion over mergeable
    * sketches: for every key pair (lo < hi), |A ∪ B| comes from the
    * register-wise-max merged sketch, |A ∩ B| ≈ e_lo + e_hi − e_union,
    * and the Jaccard ratio follows — the bounded-state answer to "which
    * sources share a vocabulary / url space / doc-hash space" that an
    * exact distinct-intersection (a token × source shuffle, then a
    * self-join) cannot give at 100 TB. Complements [[graft.operators
    * .Drift.tvdVsCorpus]] (mass divergence) with SET overlap.
    *
    * Returns (src_lo, src_hi, e_lo, e_hi, e_union, e_inter, jaccard),
    * estimates r6-rounded (ratios computed on the raw doubles first).
    *
    * Scale shape: ONE pass builds all per-key sketches ([[keyedRegisters]]
    * — map-side-combined, ≤ |keys|·m integer rows per task); the pair
    * fan-out joins a broadcast (lo, hi) dimension against the REGISTER
    * table (≤ |keys|²·m integer rows — data-card scale, never row scale);
    * nothing revisits the corpus. Inclusion–exclusion inherits the sketch
    * error (±1.04/√m per term), so small intersections under big unions
    * are floored at 0 rather than reported negative.
    */
  def overlapMatrix(items: DataFrame, key: Column, item: Column,
      p: Int = 8): DataFrame = {
    val regs = keyedRegisters(items, key, item, p).localCheckpoint()
    val spark = items.sparkSession
    import spark.implicits._
    val srcs = regs.select(col("src")).distinct()
      .collect().map(_.getString(0)).sorted // data-card-sized model fit
    val pairs = broadcast(
      (for (i <- srcs.indices; j <- (i + 1) until srcs.length)
        yield (srcs(i), srcs(j))).toDF("src_lo", "src_hi"))
    val tagged = pairs.join(regs, col("src") === col("src_lo"))
      .select(col("src_lo"), col("src_hi"), col("bucket"), col("mj"))
      .unionByName(pairs.join(regs, col("src") === col("src_hi"))
        .select(col("src_lo"), col("src_hi"), col("bucket"), col("mj")))
    val eUnion = groupedEstimate(
      tagged.groupBy("src_lo", "src_hi", "bucket").agg(max("mj").as("mj")),
      Seq("src_lo", "src_hi"), p)
      .select(col("src_lo"), col("src_hi"), col("e").as("e_u"))
    val perSrc = groupedEstimate(regs, Seq("src"), p)
    val eLo = broadcast(perSrc.select(col("src").as("src_lo"),
      col("e").as("e_l")))
    val eHi = broadcast(perSrc.select(col("src").as("src_hi"),
      col("e").as("e_h")))
    val inter = greatest(lit(0.0), (col("e_l") + col("e_h")) - col("e_u"))
    eUnion.join(eLo, "src_lo").join(eHi, "src_hi")
      .select(col("src_lo"), col("src_hi"),
        TextAnalysis.r6(col("e_l")).as("e_lo"),
        TextAnalysis.r6(col("e_h")).as("e_hi"),
        TextAnalysis.r6(col("e_u")).as("e_union"),
        TextAnalysis.r6(inter).as("e_inter"),
        TextAnalysis.r6(inter / col("e_u")).as("jaccard"))
  }
}
