package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (CDC): `cdc_chunks(text, w, d)` →
  * `array<struct<n_tok int, chunk_hash long>>` in document order.
  *
  * The LBFS/rsync chunking discipline (Muthitacharoen et al., SOSP'01)
  * re-expressed at word granularity: a chunk boundary falls after token
  * `i` exactly when the polynomial hash of the `w`-token window ending at
  * `i` is ≡ 0 mod `d` — the boundary decision depends only on local
  * CONTENT, never on byte offsets, so inserting a preamble shifts early
  * boundaries but every later boundary (and therefore every later chunk
  * hash) realigns. That shift-robustness is what chunk-level dedup buys
  * over fixed-width blocks on a 100 TB crawl where near-copies differ by
  * prepended boilerplate.
  *
  * Exact recipe (the DuckDB oracle re-derives it bit-for-bit):
  *  - tokens = whitespace split of lower(trim(text)) — the
  *    [[ShingleHashesHelper]] normalization, so CDC and MinHash operate
  *    on the same token stream;
  *  - per-token hash ht(i) = sha60(token) mod P ([[Hashing.P]]);
  *  - window/chunk hash = left fold `acc = (acc·8191 + ht) mod P` from 0
  *    (identical to DuckDB `list_reduce`, whose seed is the first element:
  *    the first fold step from 0 yields exactly that element);
  *  - interior boundaries only (1-based end positions in [w, m-1]); the
  *    final token always closes the last chunk, and a text of fewer than
  *    `w`+1 tokens is a single chunk. Expected chunk length ≈ d tokens.
  *    Production CDC adds min/max chunk clamps; this operator keeps the
  *    pure mask rule so the oracle stays stateless.
  *
  * Native expression for the same reason as [[ShingleHashes]]: the window
  * hashes are positional (a per-position fold), which the staged-Column
  * form can only express through higher-order-function lambdas that
  * CollapseProject re-inlines per reference. One expression, one pass,
  * whole-stage codegen via static call.
  *
  * Reference tie-in: fingerprint.go:27-53 hashes a fixed head window to
  * identify file content; CDC is that identity made insertion-robust and
  * applied per chunk, the granularity a dedup store needs.
  */
object CdcChunksHelper {

  private val ws = java.util.regex.Pattern.compile("\\s+")

  def eval(text: UTF8String, w: Int, d: Long): ArrayData = {
    val s = text.trim().toLowerCase.toString
    val toks = ws.split(s, -1)
    val m = toks.length
    val ht = new Array[Long](m)
    var i = 0
    while (i < m) { ht(i) = Hashing.sha60Jvm(toks(i)) % Hashing.P; i += 1 }

    // interior boundary end-positions (exclusive chunk ends, 0-based token
    // counts): after 1-based position i in [w, m-1] iff window hash % d == 0
    val ends = new java.util.ArrayList[Integer]()
    i = w
    while (i <= m - 1) {
      var acc = 0L
      var j = i - w
      while (j < i) { acc = (acc * 8191L + ht(j)) % Hashing.P; j += 1 }
      if (acc % d == 0L) ends.add(i)
      i += 1
    }
    ends.add(m)

    val out = new Array[Any](ends.size)
    var start = 0
    var c = 0
    while (c < ends.size) {
      val end = ends.get(c).intValue()
      var acc = 0L
      var j = start
      while (j < end) { acc = (acc * 8191L + ht(j)) % Hashing.P; j += 1 }
      out(c) = new GenericInternalRow(Array[Any](end - start, acc))
      start = end
      c += 1
    }
    new GenericArrayData(out)
  }
}

case class CdcChunks(child: Expression, w: Int, d: Long) extends UnaryExpression {
  require(w >= 1, "window size must be >= 1")
  require(d >= 1L, "boundary divisor must be >= 1")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("n_tok", IntegerType, nullable = false),
      StructField("chunk_hash", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any =
    CdcChunksHelper.eval(input.asInstanceOf[UTF8String], w, d)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcChunksHelper.eval($c, $w, ${d}L)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}
