package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Dot product of two double vectors in ONE native pass:
  * `vec_dot(a, b)` → double.
  *
  * Semantics are bit-identical to the Column composition it replaces —
  * `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, (acc, x) => acc + x)` —
  * the same left-to-right fold of the same products, and null when the
  * lengths differ (zip_with pads with a null element, which nulls the
  * interpreted sum) or when either side holds a null element. Higher-order functions run INTERPRETED per element;
  * on the embedding near-dup verification (372k candidate pairs × 32
  * dims at sf0.1) the lambda machinery was the dominant cost. Codegen by
  * static call. [[graft.operators.Similarity]]
  * routes both `dot` and `l2norm` (= sqrt(dot(v, v)) — identical
  * arithmetic to its previous x*x fold) through this.
  */
object VecDotHelper {
  def eval(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      // a null element nulls the product, and with it the fold
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc = acc + a.getDouble(i) * b.getDouble(i); i += 1
    }
    acc
  }
}

case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecDotHelper.eval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the helper can return null (length mismatch), so the generated code
    // must re-check — defineCodeGen assumes non-null results
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |Object r = graft.functions.VecDotHelper.eval($a, $b);
         |if (r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Double) r).doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}
