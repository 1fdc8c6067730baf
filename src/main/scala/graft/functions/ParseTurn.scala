package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass transcript grok: `parse_turn(text)` →
  * `struct<verb, tool, dur_ms, status, kv>`.
  *
  * The Column formulation costs four regexp_extracts per row, each paying a
  * String + Matcher allocation; at 10^6+ rows/s/core that allocation rate is
  * what stops the job scaling with cores. This expression byte-scans the
  * leading verb and runs the quoted-KV tokenizer once for CALL rows —
  * everything else derives from the map. Codegen by static call.
  */
object ParseTurnHelper {

  val dataType: StructType = StructType(Seq(
    StructField("verb", StringType, nullable = false),
    StructField("tool", StringType, nullable = false),
    StructField("dur_ms", LongType, nullable = true),
    StructField("status", StringType, nullable = true),
    StructField("kv", MapType(StringType, StringType, valueContainsNull = false), nullable = false)))

  private val emptyMap = KvParseHelper.parse(UTF8String.fromString(""))
  private val emptyStr = UTF8String.fromString("")
  private val callVerb = UTF8String.fromString("CALL")

  def eval(text: UTF8String): InternalRow = {
    // leading ASCII letters, no allocation until a verb exists
    val n = text.numBytes
    var i = 0
    var stop = false
    while (i < n && !stop) {
      val b = text.getByte(i)
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) i += 1
      else stop = true
    }
    val verb = if (i == 0) emptyStr else text.substring(0, i)

    if (verb.equals(callVerb)) {
      val kv = KvParseHelper.parseToMap(text.toString)
      val tool = kv.getOrElse("tool", "")
      val status = kv.get("status")
      val dur = kv.get("dur").flatMap { d =>
        val s = if (d.endsWith("ms")) d.dropRight(2) else d
        try Some(java.lang.Long.parseLong(s)) catch { case _: NumberFormatException => None }
      }
      val keys = new Array[AnyRef](kv.size)
      val values = new Array[AnyRef](kv.size)
      var j = 0
      kv.foreach { case (k, v) =>
        keys(j) = UTF8String.fromString(k); values(j) = UTF8String.fromString(v); j += 1
      }
      val mapData = new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(values))
      new GenericInternalRow(Array[Any](
        verb, UTF8String.fromString(tool),
        dur.map(Long.box).orNull, status.map(UTF8String.fromString).orNull, mapData))
    } else {
      new GenericInternalRow(Array[Any](verb, emptyStr, null, null, emptyMap))
    }
  }
}

case class ParseTurn(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ParseTurnHelper.dataType
  override def prettyName: String = "parse_turn"

  override def nullSafeEval(input: Any): Any =
    ParseTurnHelper.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ParseTurnHelper.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): ParseTurn =
    copy(child = newChild)
}

object ParseTurn {
  /** Registers `parse_turn` on `spark` for SQL text (`expr`, `selectExpr`,
    * `spark.sql`) only. Library code never needs it: it builds the Column
    * directly with [[org.apache.spark.sql.graft.Catalyst]].
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "parse_turn", exprs => ParseTurn(exprs.head), "scala_udf")
}
