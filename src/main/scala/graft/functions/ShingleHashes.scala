package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct hashed word-n-gram shingles of a text column in ONE native
  * pass: `shingle_hashes(text, n)` → `array<long>`.
  *
  * Semantics are bit-identical to the previous Column composition
  * (`transform(split(lower(trim(text)), "\\s+"), t => sha60(t) % P)` then
  * n-gram folds `(acc·8191 + h) mod P` and distinct) and therefore to the
  * DuckDB oracle ([[graft.Queries]] hashedShinglesSql): each token pays one
  * sha256; the n-gram string is never materialized.
  *
  * Why native rather than staged Columns: the staged form needed an
  * `explode(array(...))` Generate barrier to stop CollapseProject from
  * inlining the token-hash array into every lambda reference (measured
  * 7s → 46s at sf0.1 without it) — an undocumented optimizer invariant a
  * Spark upgrade could silently break. One expression makes the
  * evaluate-once guarantee structural. Codegen by static call.
  *
  * Reference role: the shingling kernel under MinHash-LSH dedup and 8-gram
  * decontamination — the fingerprint idea of
  * internal/file_tracker/fingerprint.go:27-53 (sha256 content identity)
  * applied at n-gram granularity.
  */
object ShingleHashesHelper {

  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val empty = new GenericArrayData(Array.empty[Any])

  def eval(text: UTF8String, n: Int): ArrayData = {
    // UTF8String.trim/toLowerCase are exactly Spark's trim()/lower(), and
    // Pattern.split(limit = -1) is exactly StringSplit's regex split —
    // parity with the Column form is what keeps the oracle hashes stable
    val s = text.trim().toLowerCase.toString
    val toks = ws.split(s, -1)
    val m = toks.length
    if (m < n) return empty
    val ht = new Array[Long](m)
    var i = 0
    while (i < m) { ht(i) = Hashing.sha60Jvm(toks(i)) % Hashing.P; i += 1 }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i <= m - n) {
      var acc = 0L
      var j = 0
      while (j < n) { acc = (acc * 8191L + ht(i + j)) % Hashing.P; j += 1 }
      seen.add(acc)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }
}

case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashesHelper.eval(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashesHelper.eval($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Registers `shingle_hashes` on `spark` for SQL text (`expr`, `selectExpr`,
    * `spark.sql`) only. Library code never needs it: it builds the Column
    * directly with [[org.apache.spark.sql.graft.Catalyst]].
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_hashes",
      exprs => ShingleHashes(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()),
      "scala_udf")
}
