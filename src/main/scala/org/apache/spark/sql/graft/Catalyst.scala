package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst Expression, the bridge every native expression of
  * `graft.functions` is built through: `column(MinhashBands(expression(
  * col("hs")), bands, rowsPerBand))` is an ordinary Column, built without a
  * session and resolved by whichever session plans it.
  *
  * `classic.ExpressionUtils` is `private[sql]`, so this object lives under
  * `org.apache.spark.sql` — the one file of the program that touches
  * Spark-private API.
  */
object Catalyst {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
