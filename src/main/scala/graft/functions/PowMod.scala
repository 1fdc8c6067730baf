package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Modular exponentiation `pow_mod(base, exp)` → `base^exp mod P` by
  * square-and-multiply — the combiner the salted conversation fingerprint
  * needs: polynomial folds compose as `fp(A ‖ B) = fp(A)·8191^|B| + fp(B)
  * (mod P)`, so merging per-bucket partial folds multiplies by the base
  * raised to the RIGHT bucket's length. Exact for any exp ≥ 0 because
  * every intermediate stays below P² < 2^62.
  *
  * Fixed modulus [[Hashing.P]] (the fold family's modulus everywhere in
  * this engine) keeps the expression total — no division-by-zero or
  * negative-modulus surface. Codegen by static call.
  */
object PowModHelper {
  def eval(base: Long, exp: Long): Long = {
    require(exp >= 0L, s"pow_mod exponent must be >= 0: $exp")
    var b = ((base % Hashing.P) + Hashing.P) % Hashing.P
    var e = exp
    var acc = 1L
    while (e > 0L) {
      if ((e & 1L) == 1L) acc = acc * b % Hashing.P
      b = b * b % Hashing.P
      e >>= 1
    }
    acc
  }
}

case class PowMod(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "pow_mod"

  override def nullSafeEval(base: Any, exp: Any): Any =
    PowModHelper.eval(base.asInstanceOf[Long], exp.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, e) => s"graft.functions.PowModHelper.eval($b, $e)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PowMod = copy(left = newLeft, right = newRight)
}
