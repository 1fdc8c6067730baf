package graft.sinks

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** HTTP wire delivery — the reference's remote sink clients re-expressed as
  * a distributed Spark stage with exact per-item accounting:
  *
  *  - OpenSearch: NDJSON `_bulk` batches (action line + doc line per row,
  *    the BulkIndexer payload — cmd/freader/sink/opensearch/opensearch.go:
  *    91-138), per-item outcomes parsed from the bulk response's item
  *    statuses; `NumFailed` = items with status ≥ 300 (stats.NumFailed).
  *  - ClickHouse: the HTTP interface (clickhouse.go:36-44 selects
  *    `ch.HTTP` for `scheme://` addrs) — `INSERT INTO t FORMAT JSONEachRow`
  *    with one JSON row per line; the response is all-or-nothing per POST,
  *    exactly PrepareBatch/Send (clickhouse.go:113-130).
  *
  * Spark-first shape: instead of one background goroutine with a channel
  * (the reference's Batcher, sink/common/batch.go), every EXECUTOR partition
  * batches and POSTs its own rows inside `mapPartitions` — N parallel
  * clients on a cluster, no driver funnel — and returns per-source-file
  * (delivered, failed) rows that the pipeline's lineage commit consumes.
  * `batchSize` flushes a full buffer (Batcher.BatchSize); `batchIntervalMs`
  * bounds how long a partial buffer may sit while the iterator is slow
  * (Batcher.BatchInterval; with a saturated iterator the size trigger
  * dominates, which is also true of the reference under load).
  *
  * Failure model: an unreachable endpoint or non-2xx response marks the
  * whole batch failed (the reference logs-and-drops the flush,
  * opensearch.go:62-66) — failures are COUNTED per row in the lineage,
  * never thrown, so one dead remote cannot fail the run's other sinks.
  */
object HttpSink {

  final case class WireSpec(
      kind: String, // "opensearch" | "clickhouse"
      url: String,
      target: String, // OS index | CH [db.]table
      user: String = "",
      pass: String = "",
      batchSize: Int = 200,
      batchIntervalMs: Long = 2000L,
      timeoutMs: Int = 15000,
      /** Bounded re-POSTs of a batch whose WHOLE delivery failed
        * transiently (transport error, 5xx, 429) before it counts as
        * failed. 0 = the reference's log-and-drop (opensearch.go:62-66).
        * Batches that got a 2xx response are NEVER retried — per-item bulk
        * failures inside one are authoritative, and a re-POST would
        * re-deliver the items that succeeded. A 4xx (malformed request,
        * auth) is permanent and fails immediately.
        */
      maxRetries: Int = 0,
      /** Linear backoff step between retry attempts (attempt k sleeps
        * k × this).
        */
      retryBackoffMs: Long = 250L)

  /** `[db.]table` split into backtick-quoted identifier parts — defense in
    * depth for the ClickHouse INSERT (the target is also pattern-validated
    * at config time, model/Model.scala validate): a hostile or malformed
    * config value must not become arbitrary SQL on the endpoint. Backticks
    * inside a part are doubled per ClickHouse identifier quoting.
    */
  private[sinks] def quotedTarget(target: String): String =
    target.split('.')
      .map(p => "`" + p.replace("`", "``") + "`")
      .mkString(".")

  /** A JSON string literal's body for `s` (quotes, backslashes and
    * control characters escaped).
    */
  private[graft] def jsonEsc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** One HTTP POST attempt; returns (status code, response body), with
    * code -1 for a transport failure. Never throws.
    */
  private def postOnce(spec: WireSpec, urlStr: String, body: String,
      contentType: String): (Int, String) =
    try {
      val conn = URI.create(urlStr).toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(spec.timeoutMs)
      conn.setReadTimeout(spec.timeoutMs)
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", contentType)
      if (spec.user.nonEmpty) {
        val cred = java.util.Base64.getEncoder.encodeToString(
          s"${spec.user}:${spec.pass}".getBytes(StandardCharsets.UTF_8))
        conn.setRequestProperty("Authorization", s"Basic $cred")
      }
      val os = conn.getOutputStream
      try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
      val code = conn.getResponseCode
      val respStream = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val resp =
        if (respStream == null) ""
        else try new String(respStream.readAllBytes(), StandardCharsets.UTF_8)
        finally respStream.close()
      conn.disconnect()
      (code, resp)
    } catch {
      case scala.util.control.NonFatal(_) => (-1, "")
    }

  /** POST one batch of rendered JSON docs; returns one ok-flag per doc, in
    * order. Never throws — a batch whose delivery keeps failing marks
    * every doc failed. Transient whole-batch failures (transport, 5xx,
    * 429) re-POST up to `spec.maxRetries` times with linear backoff; a
    * delivered batch (2xx) is final whatever its per-item outcomes, and a
    * permanent rejection (other 4xx) fails without retry — retrying either
    * would re-deliver rows the remote already accepted or burn attempts on
    * a request that cannot succeed.
    *
    * A transport failure (code −1) is AMBIGUOUS: the server may have
    * committed the write before the response was lost, so a bare re-POST
    * could double-deliver the batch. Every batch therefore carries a
    * deterministic idempotency key derived from its content: ClickHouse
    * gets `insert_deduplication_token` (the server drops a replayed block
    * with the same token), and each OpenSearch action gets an explicit
    * `_id` of `<batch-token>-<position>` (a replayed `index` op overwrites
    * the same document instead of appending a duplicate). The token is
    * salted with the batch's identity `batchKey` as well as its body: the
    * docs carry no row identity, so two files with identical rows (a
    * verbatim re-ingest) would otherwise POST byte-identical batches, and
    * the remote would drop or overwrite the second file's rows. Only a
    * replay of the SAME batch collides, which is the point.
    */
  def postBatch(spec: WireSpec, docs: IndexedSeq[String],
      batchKey: String = ""): IndexedSeq[Boolean] = {
    if (docs.isEmpty) return IndexedSeq.empty
    val base = spec.url.stripSuffix("/")
    val batchToken =
      java.lang.Long.toHexString(Hashing.sha60Jvm((batchKey +: docs).mkString("\n")))
    val (urlStr, body, contentType) = spec.kind match {
      case "clickhouse" =>
        val q = java.net.URLEncoder.encode(
          s"INSERT INTO ${quotedTarget(spec.target)} FORMAT JSONEachRow", "UTF-8")
        (s"$base/?query=$q&insert_deduplication_token=$batchToken",
          docs.mkString("", "\n", "\n"), "text/plain")
      case _ => // opensearch _bulk: action metadata line + source line
        val sb = new StringBuilder
        docs.zipWithIndex.foreach { case (d, i) =>
          sb.append(s"""{"index":{"_index":"${jsonEsc(spec.target)}","_id":"$batchToken-$i"}}""")
            .append('\n').append(d).append('\n')
        }
        (s"$base/_bulk", sb.toString, "application/x-ndjson")
    }
    var attempt = 0
    while (true) {
      val (code, resp) = postOnce(spec, urlStr, body, contentType)
      if (code >= 200 && code < 300)
        return spec.kind match {
          case "clickhouse" => docs.map(_ => true) // all-or-nothing per POST
          case _ => parseBulkResponse(resp, docs.size)
        }
      val transient = code == -1 || code >= 500 || code == 429
      if (!transient || attempt >= spec.maxRetries)
        return docs.map(_ => false)
      attempt += 1
      try Thread.sleep(spec.retryBackoffMs * attempt)
      catch {
        case _: InterruptedException =>
          Thread.currentThread().interrupt() // keep the task cancellable
          return docs.map(_ => false)
      }
    }
    docs.map(_ => false) // unreachable
  }

  /** Per-item outcomes from an OpenSearch bulk response
    * (`{"took":…,"errors":bool,"items":[{"index":{"status":201,…}},…]}`),
    * parsed STRUCTURALLY (Jackson, which Spark ships): the top-level
    * `errors:false` short-circuits to all-ok (the BulkIndexer fast path),
    * otherwise each positional item's action object carries its `status` —
    * status < 300 is ok (BulkIndexer counts NumFailed from exactly these,
    * opensearch-go/opensearchutil). Substring/regex scans would be spoofed
    * by document content echoed inside an item's error.reason; a tree walk
    * cannot be. A malformed response (missing/short items array) fails the
    * whole batch — indistinguishable outcomes must count as failures,
    * never as deliveries.
    */
  def parseBulkResponse(resp: String, n: Int): IndexedSeq[Boolean] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp)
      if (root.path("errors").isBoolean && !root.path("errors").asBoolean())
        IndexedSeq.fill(n)(true)
      else {
        val items = root.path("items")
        if (!items.isArray || items.size() != n) IndexedSeq.fill(n)(false)
        else (0 until n).map { i =>
          // each item is {"<action>": {"status": ..., ...}} — one field
          val item = items.get(i)
          val names = item.fieldNames()
          val action = if (item.isObject && names.hasNext)
            item.get(names.next()) else item
          val st = action.path("status")
          st.isInt && st.asInt() < 300
        }.toIndexedSeq
      }
    } catch {
      case scala.util.control.NonFatal(_) => IndexedSeq.fill(n)(false)
    }

  /** Deliver `(fname, doc)` rows over the wire, distributed: each partition
    * batches up to `batchSize` docs (flushing early when `batchIntervalMs`
    * elapsed since the last flush) and POSTs. Returns per-fname accounting
    * `(fname, wire_delivered, wire_failed)` — exact, from per-item bulk
    * outcomes; the caller joins it into its lineage rows. Accounting is
    * aggregated inside the partition (a map of distinct fnames, which is
    * bounded by the files in the batch), so the task heap never holds the
    * partition's rows.
    *
    * Execution contract: the POSTs are a mapPartitions side effect, so the
    * caller MUST evaluate the returned frame exactly once (eager
    * localCheckpoint, as Pipeline does) — a recomputed or speculative task
    * attempt re-POSTs its partition (at-least-once per attempt, the same
    * semantics as the reference's flush retry). Disable
    * spark.speculation for wire-delivery jobs on a cluster.
    */
  def deliver(docs: DataFrame, spec: WireSpec): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("fname").cast("string"), col("doc").cast("string"))
      .as[(String, String)]
      .mapPartitions { it =>
        val buf = mutable.ArrayBuffer.empty[(String, String)]
        val acc = mutable.LinkedHashMap.empty[String, (Long, Long)]
        var lastFlush = System.nanoTime()
        // a batch is identified by its partition, its ordinal within it
        // and its rows' source files — the same on every re-POST of it
        val part = org.apache.spark.TaskContext.getPartitionId()
        var ordinal = 0
        def flush(): Unit = if (buf.nonEmpty) {
          val key = s"$part/$ordinal/${buf.map(_._1).distinct.mkString(",")}"
          ordinal += 1
          val oks = postBatch(spec, buf.map(_._2).toIndexedSeq, key)
          var i = 0
          while (i < buf.size) {
            val f = buf(i)._1
            val (d, x) = acc.getOrElse(f, (0L, 0L))
            acc(f) = if (oks(i)) (d + 1, x) else (d, x + 1)
            i += 1
          }
          buf.clear()
          lastFlush = System.nanoTime()
        }
        it.foreach { r =>
          buf += r
          if (buf.size >= spec.batchSize ||
            (System.nanoTime() - lastFlush) / 1000000L >= spec.batchIntervalMs)
            flush()
        }
        flush()
        acc.iterator.map { case (f, (d, x)) => (f, d, x) }
      }
      .toDF("fname", "wd", "wf")
      .groupBy("fname")
      .agg(sum("wd").as("wd"), sum("wf").as("wf"))
  }
}
