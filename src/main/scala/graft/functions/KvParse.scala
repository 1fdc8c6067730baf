package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Quoted key=value tokenizer, the semantics of the reference's tolerant
  * auditd field parser (reference: pkg/parser/audit/audit.go:82-147):
  *
  *  - tokens split on spaces, except inside single or double quotes;
  *  - backslash escapes the next byte anywhere;
  *  - each token with a '=' at position > 0 becomes an entry;
  *  - the value is trimmed, symmetric outer quotes are stripped,
  *    and the two-char sequence `\"` unescapes to `"`;
  *  - later duplicate keys win.
  *
  * `str_to_map` cannot honor quoting, so this is a native Catalyst
  * expression: `doGenCode` emits a static call into [[KvParseHelper]],
  * keeping the operator inside whole-stage codegen (no UDF/serde).
  *
  * Every native expression in this package follows that shape, and
  * callers build its Column without a session:
  * `column(KvParse(expression(c)))` ([[org.apache.spark.sql.graft.Catalyst]]).
  */
object KvParseHelper {

  /** Tokenize on spaces outside quotes; backslash escapes next char. */
  def tokenize(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val b = new java.lang.StringBuilder
    var inSingle = false
    var inDouble = false
    var esc = false
    def flush(): Unit = if (b.length > 0) { out += b.toString; b.setLength(0) }
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (esc) { b.append(ch); esc = false }
      else ch match {
        case '\\' => esc = true
        case ' ' => if (inSingle || inDouble) b.append(ch) else flush()
        case '"' => if (!inSingle) inDouble = !inDouble; b.append(ch)
        case '\'' => if (!inDouble) inSingle = !inSingle; b.append(ch)
        case _ => b.append(ch)
      }
      i += 1
    }
    flush()
    out.toSeq
  }

  /** Pure-Scala reference form, used by tests and the Catalyst expression. */
  def parseToMap(s: String): mutable.LinkedHashMap[String, String] = {
    val dst = mutable.LinkedHashMap.empty[String, String]
    tokenize(s).foreach { t =>
      val eq = t.indexOf('=')
      if (eq > 0) {
        val k = t.substring(0, eq)
        var v = t.substring(eq + 1).trim
        if (v.length >= 2 &&
            ((v.head == '"' && v.last == '"') || (v.head == '\'' && v.last == '\'')))
          v = v.substring(1, v.length - 1)
        v = v.replace("\\\"", "\"")
        dst.remove(k) // later duplicate wins, and takes the later position
        dst.put(k, v)
      }
    }
    dst
  }

  /** Entry point referenced from generated code — must stay public static. */
  def parse(s: UTF8String): MapData = {
    val m = parseToMap(s.toString)
    val keys = new Array[AnyRef](m.size)
    val values = new Array[AnyRef](m.size)
    var i = 0
    m.foreach { case (k, v) =>
      keys(i) = UTF8String.fromString(k)
      values(i) = UTF8String.fromString(v)
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
  }
}

case class KvParse(child: Expression) extends UnaryExpression {

  override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = false)
  override def prettyName: String = "kv_parse"

  override def nullSafeEval(input: Any): Any =
    KvParseHelper.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.KvParseHelper.parse($c)")

  override protected def withNewChildInternal(newChild: Expression): KvParse =
    copy(child = newChild)
}

object KvParse {
  /** Registers `kv_parse(str) -> map<string,string>` on `spark` for SQL
    * text (`expr`, `selectExpr`, `spark.sql`) only. Library code never
    * needs it: it builds the Column directly with
    * [[org.apache.spark.sql.graft.Catalyst]].
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "kv_parse", exprs => KvParse(exprs.head), "scala_udf")
}
