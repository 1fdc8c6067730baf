package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken — SIGMOD'03
  * "Winnowing: Local Algorithms for Document Fingerprinting") in ONE native
  * pass: `winnow_hashes(text, k, w)` → `array<long>` of the DISTINCT
  * selected k-gram hashes.
  *
  * Semantics: tokenize exactly like [[ShingleHashes]] (lower/trim, `\s+`
  * split, per-token sha60 mod P), fold every k-gram to
  * `(acc·8191 + h) mod P` WITHOUT dedup (order preserved), then slide a
  * window of `w` consecutive k-gram hashes and select the minimum of each
  * window. The fingerprint is the SET of selected values, so min-tie
  * position (leftmost vs rightmost) cannot change the result — the
  * cross-engine ambiguity in the paper's tie rule is structurally absent.
  *
  * Guarantee (the paper's correctness property): any substring match of at
  * least `w + k − 1` tokens between two documents shares at least one
  * selected fingerprint, while the expected index density is only
  * `2/(w+1)` of the full k-gram index — the same detection floor as the
  * exact-shingle inverted index at a fraction of its shuffle volume.
  *
  * Documents with fewer than `w + k − 1` tokens (i.e. fewer than `w`
  * k-grams) return an empty array: no complete window exists.
  *
  * Why native rather than staged Columns: the k-gram array must be
  * evaluated once and sliced `w` ways per position; as a Column composition
  * that is a CollapseProject re-evaluation hazard (see [[ShingleHashes]]),
  * natively it is one linear scan. Codegen by static call.
  *
  * Reference role: the third fingerprinting family next to whole-content
  * sha256 identity (internal/file_tracker/fingerprint.go:27-53) and CDC
  * chunking — position-robust like CDC, but with a provable detection
  * floor instead of an expected chunk length.
  */
object WinnowHashesHelper {

  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val empty = new GenericArrayData(Array.empty[Any])

  def eval(text: UTF8String, k: Int, w: Int): ArrayData = {
    val s = text.trim().toLowerCase.toString
    val toks = ws.split(s, -1)
    val m = toks.length
    if (m < k) return empty
    val ht = new Array[Long](m)
    var i = 0
    while (i < m) { ht(i) = Hashing.sha60Jvm(toks(i)) % Hashing.P; i += 1 }
    val nk = m - k + 1
    if (nk < w) return empty
    val kh = new Array[Long](nk)
    i = 0
    while (i < nk) {
      var acc = 0L
      var j = 0
      while (j < k) { acc = (acc * 8191L + ht(i + j)) % Hashing.P; j += 1 }
      kh(i) = acc
      i += 1
    }
    // direct per-window min: w is a small constant (the paper's density
    // argument 2/(w+1) only pays off for small w), so O(nk·w) beats the
    // deque's branchy O(nk) in practice and is obviously oracle-parallel
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i <= nk - w) {
      var mn = kh(i)
      var j = 1
      while (j < w) { if (kh(i + j) < mn) mn = kh(i + j); j += 1 }
      seen.add(mn)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var z = 0
    while (it.hasNext) { out(z) = it.next().longValue(); z += 1 }
    new GenericArrayData(out)
  }
}

case class WinnowHashes(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1, "k-gram size must be >= 1")
  require(w >= 1, "window size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_hashes"

  override def nullSafeEval(input: Any): Any =
    WinnowHashesHelper.eval(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowHashesHelper.eval($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
}
