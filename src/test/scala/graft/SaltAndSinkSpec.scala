package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Parse, Salt}
import graft.sources.Transcripts

class SaltAndSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("salted repartition spreads a mega-conversation across partitions") {
    val df = Transcripts.synthesize(spark, numConvs = 10, turnsPerConv = 5,
      megaTurns = 20000, numPartitions = 4).toDF()
    val salted = Salt.saltedRepartition(df, numPartitions = 8, buckets = 8)
    val perPartition = salted
      .filter($"conv_id" === "conv-00000000")
      .select(spark_partition_id().as("p"))
      .groupBy("p").count().as[(Int, Long)].collect()
    assert(perPartition.length >= 4, s"mega conv stuck in ${perPartition.length} partitions")
    assert(perPartition.map(_._2).max < 20000, "one partition still holds everything")
  }

  test("two-phase ordered concat equals the direct ordered concat") {
    val df = Transcripts.synthesize(spark, numConvs = 6, turnsPerConv = 30,
      numPartitions = 5).toDF()
    val twoPhase = Salt.twoPhaseOrderedConcat(df, rangeSize = 7)
      .as[(String, String, Long)].collect().map(r => (r._1, r._2)).toMap
    val direct = df.select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect()
      .groupBy(_._1).map { case (c, rows) =>
        c -> rows.sortBy(_._2).map(_._3).mkString("\n") }
    assert(twoPhase == direct)
  }

  test("parsedOrRaw: hit renders JSON, miss passes raw or drops (P3)") {
    val df = Seq(
      ("c1", 0, "CALL tool=exec k=1 dur=5ms status=ok"),
      ("c1", 1, "free text")).toDF("conv_id", "turn_idx", "text")
    val parsed = Parse.parseTurns(df)
    val hit = col("verb") === "CALL"
    val payload = struct(col("tool_x").as("tool"), col("dur_ms"), col("status"))
    val pass = Parse.parsedOrRaw(parsed, payload, hit, dropNonMatching = false)
      .select("out").as[String].collect().toSet
    assert(pass.contains("free text"))
    assert(pass.exists(s => s.startsWith("{") && s.contains("\"tool\":\"exec\"") &&
      s.contains("\"dur_ms\":5") && s.contains("\"status\":\"ok\"")))
    val drop = Parse.parsedOrRaw(parsed, payload, hit, dropNonMatching = true)
      .select("out").as[String].collect()
    assert(drop.length == 1 && drop.head.startsWith("{"))
  }
}
