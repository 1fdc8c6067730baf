package graft.metrics

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{Column, DataFrame, Observation}

import graft.Pipeline.RunReport

/** Prometheus surface — the reference's `/metrics` endpoint
  * (cmd/freader/main.go:69-84) re-expressed for a batch engine: the same
  * metric names and exposition text format, rendered from run reports
  * instead of live counters, and served by the JDK's built-in HTTP server
  * (zero dependencies, like promhttp over net/http).
  *
  * Name map (reference collector metrics,
  * internal/metrics/collector_metrics.go:10-40; sink metrics,
  * cmd/freader/metrics/metrics.go:11-70 → batch analogue):
  *
  *   freader_lines_total            ← inputRows summed over reports
  *   freader_bytes_total            ← inputBytes (text bytes, separators
  *                                    excluded — the reference caveat)
  *   freader_errors_total           ← 0 (a failed batch read THROWS and
  *                                    fails the run; partial-read error
  *                                    counts cannot exist — divergence)
  *   freader_active_files           ← files processed by the latest run
  *   freader_files_seen_total       ← manifest files visible per run
  *   freader_restored_offsets_total ← manifest − processed: files whose
  *                                    lineage made them no-ops (the
  *                                    offset-restore analogue)
  *   freader_sink_enqueued_total{sink}         ← delivered + failed
  *   freader_sink_dropped_total{sink,reason="rejected"} ← failed (the
  *     engine batches losslessly, so the reference's buffer_full reason
  *     cannot occur — COVERAGE.md §2.6; remote-rejected is the one drop)
  *   freader_sink_flush_total{sink}            ← delivering runs
  *   freader_sink_flush_failures_total{sink}   ← 0 (atomic rename commit:
  *                                    a failed write throws, never half-
  *                                    flushes — divergence, documented)
  *
  * Histograms (flush_batch_size / flush_duration_seconds) are per-flush
  * distributions of a long-lived daemon; a batch run has one "flush" per
  * sink, already fully described by the counters — mapped out.
  */
object Metrics {

  /** Observed, else counted: the values of `aggs` that `obs` observed on a
    * job over `rows`, or, when the observation came back empty, one
    * aggregate job over `rows`. It comes back empty only when adaptive
    * execution pruned its `CollectMetrics` node (an input it knows to be
    * empty, e.g. a batch the minhash stage drops in full leaves empty
    * caches above it); zero is never assumed.
    */
  private[graft] def observedOrCounted(obs: Observation, rows: DataFrame,
      aggs: Seq[Column]): Map[String, Any] =
    Some(obs.get).filter(_.nonEmpty).getOrElse {
      val r = rows.agg(aggs.head, aggs.tail: _*).head()
      r.getValuesMap[Any](r.schema.fieldNames.toSeq)
    }

  /** The one-line JSON summary `graft.Main run` prints for a run. Sink
    * names are config-supplied, so they are JSON-escaped as keys.
    */
  def runLine(r: RunReport): String = {
    def perSink(m: Map[String, Long]): String =
      m.map { case (k, v) => s""""${graft.sinks.HttpSink.jsonEsc(k)}":$v""" }
        .mkString("{", ",", "}")
    s"""{"run_id":"${r.runId}","snapshot":${r.snapshotId},""" +
      s""""processed_files":${r.processedFiles.size},""" +
      s""""invalidated":${r.invalidatedFiles.size},""" +
      s""""pruned":${r.prunedFiles.size},""" +
      s""""input_rows":${r.inputRows},"blank_rows":${r.blankRows},""" +
      s""""delivered":${perSink(r.perSinkDelivered)},"failed":${perSink(r.perSinkFailed)}}"""
  }

  /** Accumulated counter state over a campaign of runs (the registry). */
  final case class State(reports: Seq[RunReport] = Nil) {
    def add(r: RunReport): State = State(reports :+ r)
  }

  /** A label value in the text exposition format: backslash, double quote
    * and line feed escaped (a raw line feed would split the sample line).
    */
  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** Render the accumulated state in Prometheus text exposition format. */
  def renderText(st: State): String = {
    val rs = st.reports
    val sb = new StringBuilder
    def counter(name: String, help: String, v: Long): Unit = {
      sb.append(s"# HELP $name $help\n# TYPE $name counter\n$name $v\n")
    }
    counter("freader_lines_total",
      "Total number of log lines processed.", rs.map(_.inputRows).sum)
    counter("freader_bytes_total",
      "Total number of bytes emitted from tailed files (approximate, excludes separators).",
      rs.map(_.inputBytes).sum)
    counter("freader_errors_total",
      "Total number of read errors encountered while tailing files.", 0L)
    sb.append("# HELP freader_active_files Current number of active files being tailed.\n")
    sb.append("# TYPE freader_active_files gauge\n")
    sb.append(s"freader_active_files ${rs.lastOption.map(_.processedFiles.size).getOrElse(0)}\n")
    counter("freader_files_seen_total",
      "Total number of files discovered by the watcher.", rs.map(_.manifestFiles.toLong).sum)
    counter("freader_restored_offsets_total",
      "Total number of files for which an offset was restored from the store upon discovery.",
      rs.map(r => (r.manifestFiles - r.processedFiles.size).toLong).sum)

    val sinks = rs.flatMap(r => r.perSinkDelivered.keys ++ r.perSinkFailed.keys)
      .distinct.sorted
    def sinkCounter(name: String, help: String,
        labels: String => String, value: String => Long): Unit = {
      sb.append(s"# HELP $name $help\n# TYPE $name counter\n")
      sinks.foreach(s => sb.append(s"""$name{${labels(s)}} ${value(s)}""").append('\n'))
    }
    if (sinks.nonEmpty) {
      def delivered(s: String) = rs.map(_.perSinkDelivered.getOrElse(s, 0L)).sum
      def failed(s: String) = rs.map(_.perSinkFailed.getOrElse(s, 0L)).sum
      sinkCounter("freader_sink_enqueued_total",
        "Total number of lines enqueued to sink buffers.",
        s => s"""sink="${esc(s)}"""", s => delivered(s) + failed(s))
      sinkCounter("freader_sink_dropped_total",
        "Total number of lines dropped before enqueue (filtered or buffer_full).",
        s => s"""sink="${esc(s)}",reason="rejected"""", failed)
      sinkCounter("freader_sink_flush_total",
        "Total number of flush attempts with at least one record.",
        s => s"""sink="${esc(s)}"""",
        s => rs.count(r => r.perSinkDelivered.getOrElse(s, 0L) +
          r.perSinkFailed.getOrElse(s, 0L) > 0).toLong)
      sinkCounter("freader_sink_flush_failures_total",
        "Total number of failed flushes.",
        s => s"""sink="${esc(s)}"""", _ => 0L)
    }
    sb.toString
  }

  /** The listen address of `/metrics`: "host:port", ":port" (all
    * interfaces) or a bare host (port 9090). An IPv6 host is bracketed,
    * with or without a port ("[::1]:2112", "[::1]"), and comes back
    * unbracketed for [[InetSocketAddress]]. The config loader validates
    * `prometheus.addr` with this and [[serve]] binds with it, so a config
    * that loads is one `serve` can parse.
    */
  private[graft] def listenAddr(addr: String): Either[String, (String, Int)] = {
    def unbracket(h: String) = h.stripPrefix("[").stripSuffix("]")
    addr.lastIndexOf(':') match {
      case -1 => Right((addr, 9090))
      // a ']' AFTER the last ':' means that colon is inside the brackets:
      // a port-less bracketed IPv6 literal like "[::1]", not host:port
      case i if addr.indexOf(']', i) >= 0 =>
        if (addr.startsWith("[") && addr.endsWith("]")) Right((unbracket(addr), 9090))
        else Left(s"malformed IPv6 literal '$addr'")
      case i =>
        val host = addr.substring(0, i)
        addr.substring(i + 1).toIntOption.filter(p => p >= 0 && p <= 65535) match {
          case None => Left(s"invalid port in '$addr'")
          // an unbracketed IPv6 host would be split at the wrong colon
          case Some(_) if host.contains(':') && !(host.startsWith("[") && host.endsWith("]")) =>
            Left(s"""IPv6 host must be bracketed, e.g. "[::1]:2112" (got '$addr')""")
          case Some(p) => Right((if (host.isEmpty) "0.0.0.0" else unbracket(host), p))
        }
    }
  }

  /** Serve `/metrics` on `addr` (see [[listenAddr]]; port 0 binds an
    * ephemeral port) — the metrics.Start/Stop shape
    * (internal/metrics/metrics.go:22-47). `text` is re-evaluated per
    * scrape, so updating the backing state between runs is visible to the
    * next GET. Returns (bound port, stop function).
    */
  def serve(addr: String, text: () => String): (Int, () => Unit) = {
    val (host, port) = listenAddr(addr).fold(e => throw new IllegalArgumentException(e), identity)
    val server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/metrics", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = text().getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        val os = ex.getResponseBody
        try os.write(body) finally os.close()
      }
    })
    server.start()
    (server.getAddress.getPort, () => server.stop(0))
  }
}
