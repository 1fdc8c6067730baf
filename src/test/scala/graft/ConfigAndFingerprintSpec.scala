package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.FingerprintStrategy
import graft.model.{PipelineConfig, SinkRule}

class ConfigAndFingerprintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("PipelineConfig.validate mirrors reference strictness") {
    assert(PipelineConfig().validate().isRight)
    assert(PipelineConfig(sinks = Nil).validate() == Left("at least one sink is required"))
    assert(PipelineConfig(sinks = Seq(SinkRule("a"), SinkRule("a"))).validate() ==
      Left("sink names must be unique"))
  }

  test("Checksum strategy: hash of prefix; too-small content yields null") {
    val df = Seq("abcdefghij", "abc").toDF("c")
      .select(FingerprintStrategy.Checksum(5).column($"c").as("fp"))
    val got = df.as[String].collect()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expected = md.digest("abcde".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.toSeq == Seq(expected, null))
  }

  test("ChecksumSeparator: hash through Nth separator inclusive; CRLF and multi-byte seps") {
    def fp(content: String, sep: String, n: Int): String = {
      val r = Seq(content).toDF("c")
        .select(FingerprintStrategy.ChecksumSeparator(sep, n).column($"c").as("fp"))
        .as[String].collect().head
      r
    }
    def sha(s: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(fp("a\r\nb\r\nc\r\nd", "\r\n", 2) == sha("a\r\nb\r\n"))
    assert(fp("p1<END>p2<END>p3", "<END>", 1) == sha("p1<END>"))
    // fewer than n separators -> null (reference errors, fingerprint.go:55-70)
    assert(fp("a b", " ", 5) == null)
  }
}
