package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.HttpSink
import graft.sinks.HttpSink.WireSpec

/** Wire-sink behavior against an in-process HTTP server — the reference's
  * own test pattern (cmd/freader/sink/opensearch/opensearch_test.go:10
  * runs the sink against an httptest fake `_bulk` endpoint).
  */
class HttpSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A fake OpenSearch `_bulk` endpoint: parses NDJSON action/doc pairs,
    * rejects docs containing "REJECT" with status 429, counts both sides.
    */
  private def withBulkServer(
      f: (String, AtomicLong, AtomicLong, AtomicLong) => Unit): Unit = {
    val accepted = new AtomicLong; val rejected = new AtomicLong
    val posts = new AtomicLong
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        posts.incrementAndGet()
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val lines = body.split("\n").filter(_.nonEmpty)
        val docs = lines.grouped(2).map(_.last).toSeq
        val items = docs.map { d =>
          if (d.contains("REJECT")) {
            rejected.incrementAndGet()
            """{"index":{"status":429,"error":{"type":"too_many_requests"}}}"""
          } else {
            accepted.incrementAndGet()
            """{"index":{"status":201}}"""
          }
        }
        val errors = docs.exists(_.contains("REJECT"))
        val resp = s"""{"took":1,"errors":$errors,"items":[${items.mkString(",")}]}"""
          .getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, resp.length.toLong)
        val os = ex.getResponseBody
        try os.write(resp) finally os.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}",
      accepted, rejected, posts)
    finally server.stop(0)
  }

  test("parseBulkResponse: errors:false fast path, per-item statuses, malformed") {
    assert(HttpSink.parseBulkResponse(
      """{"took":1,"errors":false,"items":[{"index":{"status":201}}]}""", 3)
      == IndexedSeq(true, true, true))
    assert(HttpSink.parseBulkResponse(
      """{"took":1,"errors":true,"items":[{"index":{"status":201}},""" +
        """{"index":{"status":429,"error":{"type":"x"}}},{"index":{"status":200}}]}""",
      3) == IndexedSeq(true, false, true))
    // item count ≠ batch size → indistinguishable outcomes count failed
    assert(HttpSink.parseBulkResponse("""{"errors":true,"items":[]}""", 2)
      == IndexedSeq(false, false))
    assert(HttpSink.parseBulkResponse("not json at all", 2)
      == IndexedSeq(false, false))
    // content spoofing: a rejected doc whose error.reason ECHOES bulk-API
    // text ('"errors": false', a status field) must not flip outcomes —
    // the parse is structural, not substring
    assert(HttpSink.parseBulkResponse(
      """{"took":1,"errors":true,"items":[{"index":{"status":400,""" +
        """"error":{"type":"mapper_parsing_exception","reason":""" +
        """"failed to parse: {\"errors\": false, \"status\": 201}"}}}]}""",
      1) == IndexedSeq(false))
  }

  test("opensearch bulk delivery: exact per-file accounting, batches sized by batch-size") {
    withBulkServer { (url, accepted, rejected, posts) =>
      import spark.implicits._
      // 23 docs over two files; 5 carry the reject marker
      val docs = (0 until 23).map { i =>
        val f = if (i % 2 == 0) "f-even" else "f-odd"
        val marker = if (i < 5) "REJECT" else "ok"
        (f, s"""{"message":"doc-$i $marker"}""")
      }.toDF("fname", "doc")
      val acc = HttpSink.deliver(docs.repartition(2),
        WireSpec("opensearch", url, "logs-graft", batchSize = 4))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(accepted.get() == 18 && rejected.get() == 5)
      assert(acc.values.map(_._1).sum == 18)
      assert(acc.values.map(_._2).sum == 5)
      // docs 0..4 rejected: evens 0,2,4 → f-even, odds 1,3 → f-odd
      assert(acc("f-even") == (9L, 3L) && acc("f-odd") == (9L, 2L))
      // batch-size respected: 23 docs / 4 per POST needs ≥ 6 POSTs
      assert(posts.get() >= 6)
    }
  }

  test("unreachable endpoint: whole batch counted failed, nothing thrown") {
    // grab a port with no listener
    val sock = new java.net.ServerSocket(0)
    val deadPort = sock.getLocalPort
    sock.close()
    import spark.implicits._
    val docs = Seq(("f1", """{"m":1}"""), ("f1", """{"m":2}""")).toDF("fname", "doc")
    val acc = HttpSink.deliver(docs,
      WireSpec("opensearch", s"http://127.0.0.1:$deadPort", "idx",
        timeoutMs = 2000))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(acc.map(_._1).sum == 0 && acc.map(_._2).sum == 2)
  }

  test("clickhouse HTTP flavor: INSERT FORMAT JSONEachRow, all-or-nothing per POST") {
    val inserted = new AtomicLong
    val sawQuery = new java.util.concurrent.atomic.AtomicReference[String]("")
    var failMode = false
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        sawQuery.set(java.net.URLDecoder.decode(
          Option(ex.getRequestURI.getRawQuery).getOrElse(""), "UTF-8"))
        val code = if (failMode) 500 else 200
        if (!failMode) inserted.addAndGet(body.split("\n").count(_.nonEmpty).toLong)
        val resp = (if (failMode) "Code: 241. DB::Exception: memory limit"
          else "").getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(code, if (resp.isEmpty) -1L else resp.length.toLong)
        val os = ex.getResponseBody
        try os.write(resp) finally os.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      import spark.implicits._
      val docs = (0 until 7).map(i => ("f1", s"""{"message":"r$i"}"""))
        .toDF("fname", "doc")
      val spec = WireSpec("clickhouse", url, "logs.freader_logs", batchSize = 3)
      val ok = HttpSink.deliver(docs, spec).collect().head
      assert(ok.getLong(1) == 7 && ok.getLong(2) == 0)
      assert(inserted.get() == 7)
      // the [db.]table identifier is backtick-quoted (SQL-injection guard)
      assert(sawQuery.get.contains(
        "INSERT INTO `logs`.`freader_logs` FORMAT JSONEachRow"))
      failMode = true
      val bad = HttpSink.deliver(docs, spec).collect().head
      assert(bad.getLong(1) == 0 && bad.getLong(2) == 7)
    } finally server.stop(0)
  }

  /** A flaky `_bulk` endpoint: answers `failFirst` requests with the given
    * status, then accepts everything with per-item 201s.
    */
  private def withFlakyServer(failFirst: Int, failCode: Int)(
      f: (String, AtomicLong) => Unit): Unit = {
    val posts = new AtomicLong
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val n = posts.incrementAndGet()
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        if (n <= failFirst) {
          val resp = "transient".getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(failCode, resp.length.toLong)
          val os = ex.getResponseBody
          try os.write(resp) finally os.close()
        } else {
          val docs = body.split("\n").filter(_.nonEmpty).grouped(2).map(_.last).toSeq
          val items = docs.map(_ => """{"index":{"status":201}}""")
          val resp = s"""{"took":1,"errors":false,"items":[${items.mkString(",")}]}"""
            .getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(200, resp.length.toLong)
          val os = ex.getResponseBody
          try os.write(resp) finally os.close()
        }
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", posts)
    finally server.stop(0)
  }

  test("bounded retry: a batch failed by one transient 503 delivers on the second attempt") {
    withFlakyServer(failFirst = 1, failCode = 503) { (url, posts) =>
      val oks = HttpSink.postBatch(
        WireSpec("opensearch", url, "idx", maxRetries = 1, retryBackoffMs = 10),
        IndexedSeq("""{"m":1}""", """{"m":2}"""))
      assert(oks == IndexedSeq(true, true))
      assert(posts.get() == 2)
    }
    // retries disabled (the reference's log-and-drop): one attempt, failed
    withFlakyServer(failFirst = 1, failCode = 503) { (url, posts) =>
      val oks = HttpSink.postBatch(WireSpec("opensearch", url, "idx"),
        IndexedSeq("""{"m":1}"""))
      assert(oks == IndexedSeq(false))
      assert(posts.get() == 1)
    }
    // retry budget exhausted before the endpoint recovers: counted failed,
    // exactly maxRetries+1 attempts, nothing thrown
    withFlakyServer(failFirst = 5, failCode = 503) { (url, posts) =>
      val oks = HttpSink.postBatch(
        WireSpec("opensearch", url, "idx", maxRetries = 2, retryBackoffMs = 10),
        IndexedSeq("""{"m":1}"""))
      assert(oks == IndexedSeq(false))
      assert(posts.get() == 3)
    }
  }

  test("re-POSTs are idempotent: stable _ids and dedup token across attempts") {
    // a transport-ambiguous failure (the server read the body, the client
    // never saw the 2xx) is retried with a byte-identical request — the
    // explicit per-doc _id (opensearch) / insert_deduplication_token
    // (clickhouse) lets the backend collapse the replay instead of
    // double-delivering the batch
    val seen = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        seen.add((ex.getRequestURI.toString, body))
        if (seen.size == 1) { // fail AFTER the write could have committed
          ex.sendResponseHeaders(503, -1L); ex.getResponseBody.close()
        } else {
          val docs = body.split("\n").filter(_.nonEmpty).grouped(2).map(_.last).toSeq
          val items = docs.map(_ => """{"index":{"status":201}}""")
          val resp = s"""{"took":1,"errors":false,"items":[${items.mkString(",")}]}"""
            .getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(200, resp.length.toLong)
          val os = ex.getResponseBody
          try os.write(resp) finally os.close()
        }
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val oks = HttpSink.postBatch(
        WireSpec("opensearch", url, "idx", maxRetries = 1, retryBackoffMs = 10),
        IndexedSeq("""{"m":1}""", """{"m":2}"""))
      assert(oks == IndexedSeq(true, true))
      assert(seen.size == 2)
      assert(seen.get(0) == seen.get(1), "replay must be byte-identical")
      val ids = """"_id":"([0-9a-f]+-\d+)"""".r
        .findAllMatchIn(seen.get(0)._2).map(_.group(1)).toSeq
      assert(ids.size == 2 && ids.distinct.size == 2, ids)
      assert(ids.map(_.takeWhile(_ != '-')).distinct.size == 1, ids)
    } finally server.stop(0)

    val uris = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val s2 = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s2.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.getRequestBody.readAllBytes()
        uris.add(ex.getRequestURI.toString)
        val code = if (uris.size == 1) 503 else 200
        ex.sendResponseHeaders(code, -1L); ex.getResponseBody.close()
      }
    })
    s2.start()
    try {
      val url = s"http://127.0.0.1:${s2.getAddress.getPort}"
      val oks = HttpSink.postBatch(
        WireSpec("clickhouse", url, "db.t", maxRetries = 1, retryBackoffMs = 10),
        IndexedSeq("""{"m":1}"""))
      assert(oks == IndexedSeq(true))
      val toks = (0 until uris.size)
        .map(i => uris.get(i).split("insert_deduplication_token=")(1))
      assert(toks.size == 2 && toks.distinct.size == 1, toks)
    } finally s2.stop(0)
  }

  test("retry is never attempted for a delivered batch or a permanent 4xx") {
    // 2xx with per-item rejections: the response is authoritative — a
    // re-POST would re-deliver the accepted items
    withBulkServer { (url, _, _, posts) =>
      val oks = HttpSink.postBatch(
        WireSpec("opensearch", url, "idx", maxRetries = 3, retryBackoffMs = 10),
        IndexedSeq("""{"m":"REJECT"}""", """{"m":"ok"}"""))
      assert(oks == IndexedSeq(false, true))
      assert(posts.get() == 1)
    }
    // a 400 cannot succeed on retry: one attempt only
    withFlakyServer(failFirst = 99, failCode = 400) { (url, posts) =>
      val oks = HttpSink.postBatch(
        WireSpec("opensearch", url, "idx", maxRetries = 3, retryBackoffMs = 10),
        IndexedSeq("""{"m":1}"""))
      assert(oks == IndexedSeq(false))
      assert(posts.get() == 1)
    }
  }

  test("basic auth header is sent when user is set") {
    val sawAuth = new java.util.concurrent.atomic.AtomicReference[String]("")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.getRequestBody.readAllBytes()
        sawAuth.set(Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
        val resp = """{"errors":false,"items":[]}""".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, resp.length.toLong)
        val os = ex.getResponseBody
        try os.write(resp) finally os.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      HttpSink.postBatch(
        WireSpec("opensearch", url, "idx", user = "u1", pass = "p w"),
        IndexedSeq("""{"m":1}"""))
      val expected = "Basic " + java.util.Base64.getEncoder.encodeToString(
        "u1:p w".getBytes(StandardCharsets.UTF_8))
      assert(sawAuth.get == expected)
    } finally server.stop(0)
  }

  test("two files of identical rows POST distinct _ids and dedup tokens") {
    // a verbatim re-ingest with dedup off: the docs carry no row identity,
    // so a token of the body alone would let the remote overwrite (OS) or
    // drop (CH) the second file's rows while the lineage counts them
    val seen = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        seen.add((ex.getRequestURI.toString, body))
        val resp = """{"took":1,"errors":false,"items":[]}""".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, resp.length.toLong)
        val os = ex.getResponseBody
        try os.write(resp) finally os.close()
      }
    })
    server.start()
    try {
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val n = 3
      // each file in its own delivery, as two runs deliver them: one
      // partition, one batch
      def deliverFile(f: String, spec: WireSpec) =
        HttpSink.deliver((0 until n).map(i => (f, s"""{"message":"row-$i"}"""))
          .toDF("fname", "doc").coalesce(1), spec).collect()
      for (f <- Seq("f-a", "f-b"))
        assert(deliverFile(f, WireSpec("opensearch", url, "idx", batchSize = n))
          .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(f -> n.toLong))
      val ids = seen.asScala.toSeq.flatMap(p => """"_id":"([^"]+)"""".r
        .findAllMatchIn(p._2).map(_.group(1)))
      assert(ids.size == 2 * n && ids.distinct.size == 2 * n, ids)

      seen.clear()
      for (f <- Seq("f-a", "f-b")) deliverFile(f, WireSpec("clickhouse", url, "db.t", batchSize = n))
      val tokens = seen.asScala.toSeq.map(_._1.split("insert_deduplication_token=")(1))
      assert(tokens.size == 2 && tokens.distinct.size == 2, tokens)
    } finally server.stop(0)
  }
}
