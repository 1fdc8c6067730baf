package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.operators.{Conversations, Dedup, Parse, Similarity}

/** Native expressions are plain Columns: building one needs no session,
  * and an operator runs on any session, including one whose temp-function
  * registry is empty. The source scan keeps the construction path single.
  */
class NativeColumnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("every native helper builds its Column with no active or default session") {
    val shared = spark
    // a real serialized filter holding 5: mightContain's filter is a literal
    val filter = org.apache.spark.util.sketch.BloomFilter.create(10)
    filter.putLong(5L)
    val bytes = new java.io.ByteArrayOutputStream()
    filter.writeTo(bytes)
    val built =
      try {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        val t = col("text"); val v = col("v")
        Seq(
          Dedup.simhash(t), Similarity.dot(v, v), Similarity.l2norm(v),
          Similarity.allBandSketches(v, 2, 3), Bloom.mightContain(bytes.toByteArray, col("h")),
          column(ShingleHashes(expression(t), 3)), column(WinnowHashes(expression(t), 2, 2)),
          column(CdcChunks(expression(t), 2, 2L)), column(KvParse(expression(t))),
          column(ParseTurn(expression(t))), column(SimHash(expression(t))),
          column(MinhashBands(expression(col("hs")), 2, 2)),
          column(PowMod(expression(lit(8191L)), expression(col("n")))),
          column(VecDot(expression(v), expression(v))),
          column(PlaneSketch(expression(v), 2, 3)))
      } finally {
        SparkSession.setActiveSession(shared)
        SparkSession.setDefaultSession(shared)
      }
    // the session-free Columns evaluate like the JVM helpers
    import shared.implicits._
    val text = "CALL tool=grep status=ok dur=12ms a b a b"
    val row = Seq((text, Seq(1.0, 2.0), 7L)).toDF("text", "v", "n")
      .withColumn("hs", column(ShingleHashes(expression(col("text")), 3)))
      .withColumn("h", lit(5L))
      .select(built: _*).head()
    assert(row.getLong(0) == SimHashHelper.simhash(text))
    assert(row.getDouble(1) == 5.0 && row.getDouble(2) == math.sqrt(5.0))
    assert(row.getBoolean(4))
    assert(row.getMap[String, String](8) == KvParseHelper.parseToMap(text).toMap)
    assert(row.getLong(12) == PowModHelper.eval(8191L, 7L))
    assert(row.getDouble(13) == 5.0)
  }

  /** Every operator that builds a native expression, run on `s`, with its
    * rows in a comparable order.
    */
  private def outputs(s: SparkSession): Seq[Seq[Row]] = {
    import s.implicits._
    val docs = ((0 until 12).map { i =>
      (i.toLong, (0 until 14).map(j => s"w${(i * 5 + j * 3) % 23}").mkString(" "))
    } ++ Seq((100L, "w0 w3 w6 w9 w12 w15 w18 w21 w1 w4 w7 w10 w13 w16"), (101L, "short"),
      (102L, "w15 w18 w21 w1 w4 w7 w10 w13 w16 w19 w22 w2 w5 w8")))
      .toDF("doc_id", "text")
    val audit = Seq(
      (1L, "type=SYSCALL msg=audit(1364481363.243:24287): success=no exe=\"/bin/cat\""),
      (2L, "type=USER_LOGIN acct='root' res=failed"),
      (3L, "not an audit line")).toDF("event_id", "line")
    val turns = (0 until 40).map(i => (s"c${i % 3}", i, if (i % 2 == 0) "user" else "assistant",
      s"turn $i says ${i % 5}")).toDF("conv_id", "turn_idx", "role", "text")
    def vec(i: Int) = (0 until 8).map(d => math.sin(i * 8 + d).toFloat).toArray
    val vecs = ((0 until 20).map(i => (i.toLong, vec(i))) :+ ((500L, vec(7))))
      .toDF("vec_id", "embedding")
    val hashes = docs.select(column(SimHash(expression($"text"))).as("h"))
    val bloom = Bloom.fit(hashes, "h", expectedItems = 100L, numBits = 4096L)
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    Seq(
      rows(Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)),
      rows(Parse.auditParse(audit, "line")),
      rows(Conversations.fingerprintSalted(turns, bucketWidth = 4)),
      rows(Dedup.winnowCoverage(docs, "doc_id", "text", k = 3, w = 3)),
      rows(Dedup.cdcDedup(docs, "doc_id", "text", w = 2, d = 3L)),
      rows(Dedup.embeddingNearDup(vecs, "vec_id", "embedding", minCosine = 0.999)),
      Seq(Row(bloom.toSeq)),
      rows(hashes.union(Seq(1L, 2L, 3L).toDF("h"))
        .select($"h", Bloom.mightContain(bloom, $"h").as("hit"))))
  }

  test("operators run on a fresh session whose temp-function registry is empty") {
    val fresh = spark.newSession()
    assert(Seq("kv_parse", "parse_turn", "simhash64", "shingle_hashes", "minhash_bands",
      "vec_dot", "pow_mod", "winnow_hashes", "cdc_chunks")
      .forall(!fresh.catalog.functionExists(_)))
    val want = outputs(spark)
    val got = outputs(fresh)
    assert(want.forall(_.nonEmpty))
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) => assert(g == w, s"operator $i") }
  }

  test("src/main builds native expressions only through Catalyst: no call_function, " +
    "SparkSession.active or stray register") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val frozen = Set("Bench.scala", "SparkEntry.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = files.flatMap { f =>
      val lines = new String(Files.readAllBytes(f), StandardCharsets.UTF_8).split("\n")
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("call_function(") || l.contains("SparkSession.active") ||
            (l.contains(".register(") && !frozen(f.getFileName.toString)) =>
          s"${root.relativize(f)}:${i + 1}: ${l.trim}"
      }
    }
    assert(files.size > 40)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
