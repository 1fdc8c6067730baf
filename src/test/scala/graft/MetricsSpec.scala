package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Pipeline.RunReport
import graft.metrics.Metrics

/** The Prometheus surface: reference metric names rendered in text
  * exposition format (internal/metrics/collector_metrics.go:10-40 names;
  * cmd/freader/metrics/metrics.go:11-70 sink names) and served over HTTP
  * the way promhttp does (main.go:69-84), minus the daemon lifetime.
  */
class MetricsSpec extends AnyFunSuite {

  private def report(runId: String, files: Int, manifest: Int, rows: Long,
      bytes: Long, delivered: Map[String, Long],
      failed: Map[String, Long] = Map.empty): RunReport =
    RunReport(runId, 1L, (1 to files).map(i => s"f$i"), Nil, Nil, delivered,
      rows, 0L, failed, inputBytes = bytes, manifestFiles = manifest)

  test("text rendering carries the reference metric names and accumulates over runs") {
    val st = Metrics.State()
      .add(report("r1", files = 3, manifest = 3, rows = 100, bytes = 5000,
        delivered = Map("all" -> 90, "errors" -> 10), failed = Map("errors" -> 2)))
      .add(report("r2", files = 1, manifest = 4, rows = 40, bytes = 2000,
        delivered = Map("all" -> 40, "errors" -> 0)))
    val txt = Metrics.renderText(st)
    assert(txt.contains("# TYPE freader_lines_total counter"))
    assert(txt.contains("freader_lines_total 140"))
    assert(txt.contains("freader_bytes_total 7000"))
    assert(txt.contains("freader_errors_total 0"))
    // gauge reflects the LATEST run; files_seen accumulates; restored =
    // manifest files the lineage made no-ops (run 2 saw 4, processed 1)
    assert(txt.contains("# TYPE freader_active_files gauge"))
    assert(txt.contains("freader_active_files 1"))
    assert(txt.contains("freader_files_seen_total 7"))
    assert(txt.contains("freader_restored_offsets_total 3"))
    // per-sink counters: enqueued = delivered + failed; rejected = failed;
    // flush counts delivering runs only (errors delivered in run 1 only)
    assert(txt.contains("""freader_sink_enqueued_total{sink="all"} 130"""))
    assert(txt.contains("""freader_sink_enqueued_total{sink="errors"} 12"""))
    assert(txt.contains("""freader_sink_dropped_total{sink="errors",reason="rejected"} 2"""))
    assert(txt.contains("""freader_sink_flush_total{sink="all"} 2"""))
    assert(txt.contains("""freader_sink_flush_total{sink="errors"} 1"""))
    assert(txt.contains("""freader_sink_flush_failures_total{sink="all"} 0"""))
    // exposition format sanity: every non-comment line is "name[{labels}] value"
    txt.linesIterator.filterNot(l => l.startsWith("#") || l.isEmpty).foreach { l =>
      assert(l.matches("""[a-z_]+(\{[^}]*\})? -?\d+"""), l)
    }
  }

  test("the JSON run line parses back for sink names that need escaping") {
    val line = Metrics.runLine(report("r1", files = 2, manifest = 3, rows = 7,
      bytes = 70, delivered = Map("a\"b" -> 5L, "c\\d" -> 2L),
      failed = Map("a\"b" -> 1L)))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("run_id").asText == "r1")
    assert(json.get("processed_files").asLong == 2L)
    assert(json.get("input_rows").asLong == 7L)
    assert(json.get("delivered").get("a\"b").asLong == 5L)
    assert(json.get("delivered").get("c\\d").asLong == 2L)
    assert(json.get("failed").get("a\"b").asLong == 1L)
    assert(json.get("failed").size == 1)
  }

  test("a sink name with a line feed renders as one escaped sample line per counter") {
    // the loader's sink-name pattern accepts a line feed, so such a name
    // can reach the exposition text
    val cfg = graft.config.ConfigLoader.load(env = Map.empty,
      flags = Map("sink.a\nb.type" -> "parquet"))
    assert(cfg.toOption.get.sinks.map(_.name) == Seq("a\nb"))
    val txt = Metrics.renderText(Metrics.State().add(report("r1", files = 1, manifest = 1,
      rows = 5, bytes = 50, delivered = Map("a\nb" -> 4L), failed = Map("a\nb" -> 1L))))
    // every non-comment line is exactly one `name{labels} value` sample,
    // each label value a quoted string of escaped or plain characters
    val sample = """[a-z_]+(\{[a-z_]+="(\\[\\"n]|[^\\"\n])*"(,[a-z_]+="(\\[\\"n]|[^\\"\n])*")*\})? -?\d+"""
    val samples = txt.split("\n", -1).toSeq.filterNot(l => l.startsWith("#") || l.isEmpty)
    samples.foreach(l => assert(l.matches(sample), l))
    assert(samples.count(_.contains("""sink="a\nb"""")) == 4, txt)
  }

  test("the /metrics endpoint serves the current state per scrape (Start/Stop shape)") {
    @volatile var st = Metrics.State()
    // port 0 -> ephemeral bind, like the reference's test servers
    val (port, stop) = Metrics.serve("127.0.0.1:0", () => Metrics.renderText(st))
    try {
      def scrape(): String = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port/metrics").openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try {
          assert(conn.getResponseCode == 200)
          assert(conn.getContentType.startsWith("text/plain"))
          scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
        } finally conn.disconnect()
      }
      assert(scrape().contains("freader_lines_total 0"))
      // a run lands; the NEXT scrape sees it (text re-evaluated per GET)
      st = st.add(report("r1", 2, 2, 77, 900, Map("all" -> 70)))
      val after = scrape()
      assert(after.contains("freader_lines_total 77"))
      assert(after.contains("""freader_sink_enqueued_total{sink="all"} 70"""))
    } finally stop()
  }

  test("serve accepts a bracketed IPv6 literal without a port (no NumberFormatException)") {
    // "[::1]" = host ::1, default port 9090; a busy/absent ::1 may refuse
    // the BIND, but the ADDRESS must parse — the regression was
    // "1]".toInt throwing before any bind was attempted
    try {
      val (_, stop) = Metrics.serve("[::1]", () => "")
      stop()
    } catch {
      case _: java.net.BindException => () // parse succeeded; bind is env-dependent
      case _: java.net.SocketException => ()
    }
  }
}
