package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}

/** Spark's internal runtime-row-filter bloom machinery
  * (`BloomFilterAggregate` / `BloomFilterMightContain`, the expressions
  * `InjectRuntimeFilter` plants under shuffle joins) surfaced as Columns —
  * they are not in the public FunctionRegistry, but the Catalyst classes
  * are public, so the Columns wrap them directly
  * ([[org.apache.spark.sql.graft.Catalyst]]).
  *
  * Scale role: a decontamination / semi-join pre-filter. When the build
  * side outgrows the broadcast threshold, a bloom of its 8-byte shingle
  * hashes stays sketch-sized (numBits/8 bytes) and drops ~all
  * non-matching probe rows before the exact join; false positives are
  * removed by the exact verify, false negatives cannot occur, so results
  * are bit-identical to the exact path (same DuckDB oracle).
  */
object Bloom {

  /** Serialized bloom filter of `df(hashCol)` (long hashes), built by one
    * distributed aggregate and returned to the driver — the sketch-sized
    * broadcast-literal discipline (same as the IVF centroid model): the
    * driver holds numBits/8 bytes, never the hash set.
    */
  def fit(df: DataFrame, hashCol: String, expectedItems: Long,
      numBits: Long): Array[Byte] =
    df.agg(column(new BloomFilterAggregate(expression(col(hashCol)),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)

  /** Probe column: true when `h` may be in the fitted filter (exact
    * verification must follow; no false negatives). The filter must be a
    * constant, so it rides as a binary literal.
    */
  def mightContain(bloom: Array[Byte], h: Column): Column =
    column(BloomFilterMightContain(Literal(bloom), expression(h)))
}
