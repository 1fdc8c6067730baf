package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Banded MinHash values of a hashed-shingle set in ONE native pass:
  * `minhash_bands(hs, bands, rowsPerBand)` → `array<long>` of length
  * `bands`, element b = the band-b LSH bucket value.
  *
  * Semantics are bit-identical to the previous Column composition
  * (`sig_k = array_min(transform(hs, h => Hashing.mix(h, k)))`, then
  * `band_b = fold_r (acc·8191 + sig[b·rpb+r]) mod P`) and therefore to the
  * DuckDB oracle ([[graft.Queries]] mhBatchCtes): the affine coefficients
  * come from the same [[Hashing.mixA]]/[[Hashing.mixB]] sha256 recipe.
  *
  * Why native: the Column form ran bands·rowsPerBand interpreted
  * higher-order-function transforms per row (~|hs| lambda evaluations
  * each); this computes every signature and band in one tight loop per row
  * with the per-permutation coefficients cached statically. Codegen by
  * static call. The evaluate-once guarantee is structural (no
  * CollapseProject/Generate-barrier concerns).
  *
  * An empty input set yields an empty array (no band rows after
  * posexplode); every caller already filters `size(hs) > 0`, where the
  * Column form produced null band values that could never equi-join.
  */
object MinhashBandsHelper {

  private val coefs =
    new java.util.concurrent.ConcurrentHashMap[Integer, (Long, Long)]()
  private def coef(i: Int): (Long, Long) =
    coefs.computeIfAbsent(i, k => (Hashing.mixA(k), Hashing.mixB(k)))

  private val empty = new GenericArrayData(Array.empty[Any])

  def eval(hs: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return empty
    val k = bands * rowsPerBand
    val sig = new Array[Long](k)
    var i = 0
    while (i < k) {
      val (a, b) = coef(i)
      var mn = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = (a * (hs.getLong(j) % Hashing.P) + b) % Hashing.P
        if (v < mn) mn = v
        j += 1
      }
      sig(i) = mn
      i += 1
    }
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var r = 0
      while (r < rowsPerBand) {
        acc = (acc * 8191L + sig(b * rowsPerBand + r)) % Hashing.P
        r += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }
}

case class MinhashBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands >= 1 && rowsPerBand >= 1,
    "minhash_bands needs bands >= 1 and rowsPerBand >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(input: Any): Any =
    MinhashBandsHelper.eval(input.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinhashBandsHelper.eval($c, $bands, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)
}

object MinhashBands {
  /** Registers `minhash_bands` on `spark` for SQL text (`expr`, `selectExpr`,
    * `spark.sql`) only. Library code never needs it: it builds the Column
    * directly with [[org.apache.spark.sql.graft.Catalyst]].
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_bands",
      exprs => MinhashBands(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue()),
      "scala_udf")
}
