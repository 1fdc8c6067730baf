package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit SimHash of a text: tokenize on whitespace (lowercased), hash each
  * token with [[Hashing.sha60Jvm]], sum each bit position as ±1 over
  * tokens, emit the sign vector as a long. Single pass per row — a native
  * expression because the pure-Column formulation needs 60 aggregate()
  * passes over the token array. Codegen stays inside whole-stage via a
  * static call.
  *
  * The token hash is sha256-derived (not xxhash64) so the DuckDB oracle can
  * recompute the identical fingerprint: bit width 60 because that is the
  * widest sha256 hex prefix that parses exactly into a signed 64-bit int in
  * ANSI Spark, DuckDB and the JVM alike (see [[Hashing]]).
  */
object SimHashHelper {

  final val Bits = 60

  def tokenHash(token: String): Long = Hashing.sha60Jvm(token)

  /** Reference model + runtime implementation (one code path). */
  def simhash(text: String): Long = {
    val counts = new Array[Int](Bits)
    var any = false
    var start = 0
    val s = text.toLowerCase
    val len = s.length
    var i = 0
    while (i <= len) {
      if (i == len || Character.isWhitespace(s.charAt(i))) {
        if (i > start) {
          any = true
          val h = tokenHash(s.substring(start, i))
          var b = 0
          while (b < Bits) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    if (!any) 0L
    else {
      var out = 0L
      var b = 0
      while (b < Bits) {
        if (counts(b) > 0) out |= (1L << b)
        b += 1
      }
      out
    }
  }

  /** Entry point referenced from generated code. */
  def eval(s: UTF8String): Long = simhash(s.toString)
}

case class SimHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHashHelper.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashHelper.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

object SimHash {
  /** Registers `simhash64` on `spark` for SQL text (`expr`, `selectExpr`,
    * `spark.sql`) only. Library code never needs it: it builds the Column
    * directly with [[org.apache.spark.sql.graft.Catalyst]].
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash(exprs.head), "scala_udf")
}
