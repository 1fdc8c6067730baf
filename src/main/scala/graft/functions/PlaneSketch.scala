package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All hyperplane band sketches of one embedding in a single native pass.
  *
  * The Column formulation (aggregate ∘ zip_with per plane) evaluates an
  * interpreted lambda per (plane × dimension) — ~12M closure calls for
  * 2k vectors × 96 planes × 64 dims. This expression runs the identical
  * arithmetic as tight JVM loops behind one static call, staying inside
  * whole-stage codegen.
  *
  * Bit-exactness contract: the plane matrix comes from the same
  * [[Hashing.planeComponent]] recipe, and the projection accumulates
  * products left-to-right from 0.0 — the exact fold order of the Column
  * form and of the DuckDB oracle's list_reduce, so sketches are
  * bit-identical across all three (pinned by SimilaritySpec).
  */
object PlaneSketchHelper {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  def matrix(nPlanes: Int, dims: Int): Array[Array[Double]] =
    cache.computeIfAbsent((nPlanes, dims), { case (p, d) =>
      Array.tabulate(p, d)(Hashing.planeComponent)
    })

  /** Entry point referenced from generated code: sketches of all `bands`
    * bands, `planesPerBand` sign bits each, packed j-th plane at weight
    * 2^(planesPerBand−1−j).
    */
  def eval(v: ArrayData, bands: Int, planesPerBand: Int): ArrayData = {
    val dims = v.numElements()
    val mat = matrix(bands * planesPerBand, dims)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sk = 0L
      var j = 0
      while (j < planesPerBand) {
        val plane = mat(b * planesPerBand + j)
        var acc = 0.0
        var i = 0
        while (i < dims) {
          acc += v.getDouble(i) * plane(i)
          i += 1
        }
        if (acc >= 0) sk += (1L << (planesPerBand - 1 - j))
        j += 1
      }
      out(b) = sk
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** `plane_sketch(vec array<double>)` with static band geometry. */
case class PlaneSketch(child: Expression, bands: Int, planesPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "plane_sketch"

  override def nullSafeEval(input: Any): Any =
    PlaneSketchHelper.eval(input.asInstanceOf[ArrayData], bands, planesPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PlaneSketchHelper.eval($c, $bands, $planesPerBand)")

  override protected def withNewChildInternal(newChild: Expression): PlaneSketch =
    copy(child = newChild)
}
