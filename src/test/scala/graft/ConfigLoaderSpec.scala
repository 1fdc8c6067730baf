package graft

import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.config.ConfigLoader
import graft.model.{MultilineMode, MultilineSpec, PipelineConfig, SinkRule}

/** Config loading parity with the reference's viper stack
  * (cmd/freader/config.go:55-131 precedence, :190-237 validation;
  * multiline sub-unmarshal + Java preset :100-131;
  * multline_reader.go:37-48 strictness).
  */
class ConfigLoaderSpec extends AnyFunSuite {
  import ConfigLoaderSpec._

  private def loadText(toml: String,
      env: Map[String, String] = Map.empty,
      flags: Map[String, String] = Map.empty) = {
    val f = Files.createTempFile("graft-cfg", ".toml")
    Files.writeString(f, toml)
    ConfigLoader.load(Some(f.toString), env, flags)
  }

  test("full file: collector, multiline, ordered sinks with filters and rejects") {
    val cfg = loadText(
      """# graft pipeline config
        |[collector]
        |separator = "\n"
        |include = ["/data/logs/*.log", "file_1*.txt"]  # trailing comment
        |exclude = ["*.tmp"]
        |lineage-partitions = 12
        |
        |[collector.multiline]
        |mode = "haltBefore"
        |start-pattern = "^(CALL|INFO)"
        |condition-pattern = "^(CALL|INFO|ask)"
        |timeout = "1m30s"
        |
        |[sink.all]
        |type = "parquet"
        |
        |[sink.errors]
        |type = "opensearch"
        |include = ["status=err"]
        |reject-where = ["note=\"lvl 4\""]
        |
        |[sink.clean]
        |exclude = ["status=err", "INFO"]
        |""".stripMargin).toOption.get
    assert(cfg.include == Seq("/data/logs/*.log", "file_1*.txt"))
    assert(cfg.exclude == Seq("*.tmp"))
    assert(cfg.multiline.contains(MultilineSpec(
      MultilineMode.HaltBefore, "^(CALL|INFO|ask)", Some("^(CALL|INFO)"))))
    assert(cfg.sinks.map(_.name) == Seq("all", "errors", "clean"))
    assert(cfg.sinks(1).include == Seq("status=err"))
    assert(cfg.sinks(1).rejectWhere == Seq("note=\"lvl 4\""))
    assert(cfg.sinks(1).kind == "opensearch")
    assert(cfg.sinks(2).exclude == Seq("status=err", "INFO"))
    assert(cfg.sinks(2).kind == "parquet")
  }

  test("java preset fills unset multiline fields only (config.go:105-120)") {
    val cfg = loadText(
      """[collector.multiline]
        |java = true
        |""".stripMargin).toOption.get
    assert(cfg.multiline.contains(MultilineSpec.Java))

    // explicit fields win over the preset
    val cfg2 = loadText(
      """[collector.multiline]
        |java = true
        |mode = "haltWith"
        |timeout = "2s"
        |""".stripMargin).toOption.get
    assert(cfg2.multiline.get.mode == MultilineMode.HaltWith)
    assert(cfg2.multiline.get.condPattern == MultilineSpec.Java.condPattern)
  }

  test("precedence: flags over env over file (viper binding order)") {
    val toml =
      """[collector]
        |fingerprint-strategy = "checksumSeparator"
        |fingerprint-size = 4
        |include = ["*.log"]
        |""".stripMargin
    val env = Map(
      ConfigLoader.envName("collector.fingerprint-strategy") -> "checksum",
      ConfigLoader.envName("collector.fingerprint-size") -> "9")
    val flags = Map("fingerprint-strategy" -> "deviceAndInode")
    val cfg = loadText(toml, env, flags).toOption.get
    assert(cfg.fingerprintStrategy == "deviceAndInode") // flag beats env beats file
    assert(cfg.fingerprintSize == 9)    // env beats file
    assert(cfg.include == Seq("*.log")) // file survives where not overridden
  }

  test("sink.retries: parsed into batchRetries, negatives rejected") {
    val cfg = loadText("[sink]\nretries = 2\n").toOption.get
    assert(cfg.batchRetries == 2)
    assert(loadText("").toOption.get.batchRetries == 0) // reference parity
    assert(loadText("[sink]\nretries = -1\n")
      .swap.toOption.get.contains("sink.retries"))
  }

  test("clickhouse wire target must be a [db.]table identifier (SQL-injection guard)") {
    def ch(target: String) = loadText(
      s"""[sink.ch]
         |type = "clickhouse"
         |url = "http://127.0.0.1:8123"
         |table = "$target"
         |""".stripMargin)
    assert(ch("logs.freader_logs").isRight)
    assert(ch("freader_logs").isRight)
    val bad = ch("logs FORMAT TSV; DROP TABLE x")
    assert(bad.swap.toOption.get.contains("identifier"))
  }

  test("a file:// directory include and a glob under it load, as Pipeline.run accepts them") {
    val d = Files.createTempDirectory("graft-cfg-include").toUri.getPath.stripSuffix("/")
    val include = Seq(s"file://$d", s"file://$d/*.parquet")
    val cfg = ConfigLoader.load(None, Map.empty, Map("include" -> include.mkString(",")))
    assert(cfg.map(_.include) == Right(include))
  }

  test("validation matrix (config.go:190-237 + multline_reader.go:37-48)") {
    val cases: Seq[(String, String)] = Seq(
      ("""[sink.x]
         |type = "kafka"
         |""".stripMargin) -> "invalid sink.type",
      ("""[sink.x]
         |type = "console"
         |
         |[sink]
         |batch-size = 0
         |""".stripMargin) -> "batch-size must be > 0",
      ("""[sink]
         |batch-interval = "0s"
         |""".stripMargin) -> "batch-interval must be > 0",
      ("""[collector.multiline]
         |mode = "sideways"
         |start-pattern = "^A"
         |condition-pattern = "^B"
         |timeout = "1s"
         |""".stripMargin) -> "invalid multiline mode",
      ("""[collector.multiline]
         |mode = "haltWith"
         |condition-pattern = "^B"
         |timeout = "1s"
         |""".stripMargin) -> "start-pattern is required",
      ("""[collector.multiline]
         |mode = "haltWith"
         |start-pattern = "^A"
         |timeout = "1s"
         |""".stripMargin) -> "condition-pattern is required",
      ("""[collector.multiline]
         |mode = "haltWith"
         |start-pattern = "^A"
         |condition-pattern = "^B"
         |""".stripMargin) -> "timeout",
      ("""[collector.multiline]
         |mode = "haltWith"
         |start-pattern = "^(A"
         |condition-pattern = "^B"
         |timeout = "1s"
         |""".stripMargin) -> "invalid start-pattern regex",
      ("""[collector]
         |separator = ""
         |""".stripMargin) -> "separator must be non-empty",
      ("""[collector]
         |fingerprint-strategy = "sha1"
         |""".stripMargin) -> "unsupported fingerprint strategy",
      ("""[collector]
         |fingerprint-strategy = "checksum"
         |fingerprint-size = 0
         |""".stripMargin) -> "fingerprint size must be greater than 0",
      ("""[collector]
         |poll-interval = "0s"
         |""".stripMargin) -> "poll-interval must be > 0",
      ("""[collector]
         |workers = 0
         |""".stripMargin) -> "workers must be >= 1",
      ("""[prometheus]
         |enable = true
         |""".stripMargin) -> "prometheus.addr must be set")
    for ((toml, want) <- cases) {
      val got = loadText(toml)
      assert(got.isLeft, s"expected failure containing '$want', got $got")
      assert(got.left.toOption.get.contains(want),
        s"error '${got.left.toOption.get}' should contain '$want'")
    }
  }

  test("several faults: a section's parse error is reported before a batch range error") {
    // the sink batch ranges are checked by PipelineConfig.validate, after
    // every section has parsed, so the multiline fault wins here
    val got = loadText(
      """[sink]
        |batch-size = 0
        |
        |[collector.multiline]
        |mode = "sideways"
        |start-pattern = "^A"
        |condition-pattern = "^B"
        |timeout = "1s"
        |""".stripMargin)
    assert(got.left.toOption.exists(_.contains("invalid multiline mode")), got)
  }

  test("missing file errors; no sinks configured falls back to console default") {
    assert(ConfigLoader.load(Some("/nonexistent/x.toml")).isLeft)
    val cfg = loadText("[collector]\nlineage-partitions = 2\n").toOption.get
    assert(cfg.sinks.map(_.name) == Seq("console"))
    assert(cfg.sinks.head.kind == "console")
  }

  test("fingerprint strategy, scheduler keys, prometheus, labels all load") {
    val cfg = loadText(
      """[collector]
        |fingerprint-strategy = "deviceAndInode"
        |poll-interval = "100ms"
        |workers = 4
        |
        |[prometheus]
        |enable = true
        |addr = ":2112"
        |
        |[sink.labels]
        |env = "prod"
        |team = "infra"
        |
        |[sink.all]
        |type = "parquet"
        |""".stripMargin).toOption.get
    assert(cfg.fingerprintStrategy == "deviceAndInode")
    assert(cfg.labels == Map("env" -> "prod", "team" -> "infra"))
    assert(cfg.sinks.map(_.name) == Seq("all")) // labels is not a sink
    assert(cfg.prometheusAddr.contains(":2112")) // endpoint address carried
    // disabled (or absent) -> no endpoint
    assert(loadText("[sink.all]\ntype = \"parquet\"\n")
      .toOption.get.prometheusAddr.isEmpty)
    // addr matrix matches what Metrics.serve accepts: bare host ok (port
    // defaults), bad port and unbracketed IPv6 rejected at config time
    def prom(addr: String) = loadText(
      s"[prometheus]\nenable = true\naddr = \"$addr\"\n")
    assert(prom("localhost").toOption.get.prometheusAddr.contains("localhost"))
    assert(prom("[::1]:2112").toOption.get.prometheusAddr.contains("[::1]:2112"))
    assert(prom("localhost:http").swap.exists(_.contains("invalid port")))
    assert(prom("::1").swap.exists(_.contains("bracketed")))
    // bracketed IPv6 WITHOUT a port is a valid host (port defaults), not
    // an 'invalid port' — serve treats "[::1]" as host "::1", port 9090
    assert(prom("[::1]").toOption.exists(_.prometheusAddr.contains("[::1]")))
    assert(prom("[::1]junk").swap.exists(_.contains("malformed IPv6")))
  }

  test("dedup stage: section loads with defaults, env override, validation") {
    val cfg = loadText(
      """[collector.dedup]
        |mode = "minhash"
        |store-dir = "/tmp/dstore"
        |threshold = 0.7
        |bands = 8
        |""".stripMargin).toOption.get
    val d = cfg.dedup.get
    assert(d.mode == "minhash" && d.storeDir == "/tmp/dstore")
    assert(d.threshold == 0.7 && d.bands == 8)
    assert(d.ngram == 3 && d.rowsPerBand == 2) // defaults fill unset fields

    // env overrides the file value (viper precedence)
    val cfg2 = loadText(
      "[collector.dedup]\nmode = \"minhash\"\nstore-dir = \"/tmp/d2\"\n",
      env = Map("GRAFT_COLLECTOR_DEDUP_MODE" -> "exact")).toOption.get
    assert(cfg2.dedup.get.mode == "exact")

    // no section at all -> no stage
    assert(loadText("[collector]\nseparator = \"\\n\"\n").toOption.get.dedup.isEmpty)

    // validation matrix: mode whitelist, store-dir required, threshold range
    assert(loadText("[collector.dedup]\nmode = \"fuzzy\"\nstore-dir = \"/tmp/x\"\n")
      .swap.exists(_.contains("unsupported dedup mode")))
    assert(loadText("[collector.dedup]\nmode = \"exact\"\n")
      .swap.exists(_.contains("store-dir is required")))
    assert(loadText(
      "[collector.dedup]\nmode = \"exact\"\nstore-dir = \"/tmp/x\"\nthreshold = 1.5\n")
      .swap.exists(_.contains("threshold")))
  }

  test("typed floats: only double-consuming keys accept them; NaN rejected everywhere") {
    // bare float for a string key is a config ERROR, not the string "1.5"
    assert(loadText("[collector]\nseparator = 1.5\n")
      .swap.exists(_.contains("expected string")))
    // the float VALUE flows into the dedup threshold (F variant)
    val cfg = loadText(
      "[collector.dedup]\nmode = \"minhash\"\nstore-dir = \"/tmp/d\"\nthreshold = 0.75\n")
      .toOption.get
    assert(cfg.dedup.get.threshold == 0.75)
    // env overrides arrive as strings and parse through the same gate
    val cfg2 = loadText(
      "[collector.dedup]\nmode = \"minhash\"\nstore-dir = \"/tmp/d\"\n",
      env = Map("GRAFT_COLLECTOR_DEDUP_THRESHOLD" -> "0.9")).toOption.get
    assert(cfg2.dedup.get.threshold == 0.9)
    assert(loadText(
      "[collector.dedup]\nmode = \"minhash\"\nstore-dir = \"/tmp/d\"\n",
      env = Map("GRAFT_COLLECTOR_DEDUP_THRESHOLD" -> "NaN"))
      .swap.exists(_.contains("invalid number")))
    // a NaN that reaches the spec directly is rejected by validate (NaN
    // fails both ordered comparisons — it must not disable the filter)
    assert(graft.model.DedupStageSpec("minhash", "/tmp/d", Double.NaN)
      .validate().swap.exists(_.contains("threshold")))
  }

  test("a file setting keys no run reads loads to the same config as one without them") {
    val current =
      """[collector]
        |lineage-partitions = 12
        |
        |[collector.dedup]
        |mode = "minhash"
        |store-dir = "/tmp/dstore"
        |threshold = 0.7
        |
        |[sink.all]
        |type = "parquet"
        |""".stripMargin
    val old = current +
      """[collector]
        |salt-buckets = 8
        |checkpoint-dir = "/tmp/ckpt"
        |
        |[collector.dedup]
        |retract-on-invalidate = false
        |
        |[collector.sketch]
        |cms-depth = 6
        |cms-width = 4096
        |hll-p = 10
        |expected-distinct = 200000
        |
        |[collector.curation]
        |quantile-rate = 0.1
        |outlier-k = 4
        |winnow-k = 5
        |winnow-w = 8
        |cdc-window = 4
        |cdc-divisor = 16
        |bm25-k1 = 1.5
        |bm25-b = 0.5
        |conv-bucket-width = 1024
        |span-k = 16
        |mix-budget-permille = 250
        |lm-alpha = 0.5
        |dsir-buckets = 65536
        |dsir-alpha = 1.0
        |pmi-min-count = 10
        |zipf-k = 200
        |""".stripMargin
    val want = loadText(current)
    assert(want.isRight, want)
    assert(loadText(old) == want)
  }

  test("examples.toml, the config of the README's run command, loads and validates") {
    val cfg = ConfigLoader.load(Some("examples.toml"), env = Map.empty)
    assert(cfg.isRight, cfg)
    assert(cfg.toOption.get.sinks.map(_.name) == Seq("all", "errors", "clean"))
  }

  test("wire sink surface: url/index/table/database/user load; half-config rejected; batch keys consumed") {
    val cfg = loadText(
      """[sink]
        |batch-size = 64
        |batch-interval = "750ms"
        |
        |[sink.os]
        |type = "opensearch"
        |url = "http://127.0.0.1:9200"
        |index = "logs-graft"
        |user = "u"
        |password = "p"
        |
        |[sink.ch]
        |type = "clickhouse"
        |url = "http://127.0.0.1:8123"
        |database = "logs"
        |table = "freader_logs"
        |""".stripMargin).toOption.get
    assert(cfg.batchSize == 64 && cfg.batchIntervalMs == 750L)
    val os = cfg.sinks.find(_.name == "os").get
    assert(os.url.contains("http://127.0.0.1:9200") && os.target == "logs-graft")
    assert(os.user == "u" && os.pass == "p")
    val ch = cfg.sinks.find(_.name == "ch").get
    assert(ch.url.contains("http://127.0.0.1:8123") && ch.target == "logs.freader_logs")
    // a sink section with ONLY wire keys still registers the sink
    assert(loadText(
      """[sink.w]
        |type = "opensearch"
        |url = "http://h:1"
        |index = "i"
        |""".stripMargin).toOption.get.sinks.map(_.name) == Seq("w"))
    // the reference's New() preconditions (opensearch.go:26, clickhouse.go:27)
    assert(loadText(
      "[sink.os]\ntype = \"opensearch\"\nurl = \"http://h:1\"\n")
      .swap.exists(_.contains("opensearch url and index")))
    assert(loadText(
      "[sink.ch]\ntype = \"clickhouse\"\nurl = \"http://h:1\"\n")
      .swap.exists(_.contains("clickhouse addr and table")))
    assert(loadText(
      "[sink.p]\ntype = \"parquet\"\nurl = \"http://h:1\"\n")
      .swap.exists(_.contains("only supported for opensearch/clickhouse")))
  }

  test("duration grammar (Go time.ParseDuration subset)") {
    assert(ConfigLoader.parseDuration("500ms") == Right(500L))
    assert(ConfigLoader.parseDuration("1.5s") == Right(1500L))
    assert(ConfigLoader.parseDuration("1m30s") == Right(90000L))
    assert(ConfigLoader.parseDuration("2h") == Right(7200000L))
    // positive sub-ms durations round UP to the 1ms clock grain instead of
    // truncating to an invalid 0 (documented divergence in the scaladoc)
    assert(ConfigLoader.parseDuration("250us") == Right(1L))
    assert(ConfigLoader.parseDuration("0s") == Right(0L))
    assert(ConfigLoader.parseDuration("10").isLeft)
    assert(ConfigLoader.parseDuration("ms").isLeft)
    assert(ConfigLoader.parseDuration("1s junk").isLeft)
  }

  test("toml subset: comments, escapes, bad syntax errors") {
    assert(ConfigLoader.parseToml("""k = "a # not comment" # real""")
      == Right(Seq("k" -> ConfigLoader.S("a # not comment"))))
    assert(ConfigLoader.parseToml("""k = "tab\tnl\nq\" end"""").toOption.get.head._2
      == ConfigLoader.S("tab\tnl\nq\" end"))
    assert(ConfigLoader.parseToml("k = unquoted").isLeft)
    assert(ConfigLoader.parseToml("[sec\nk = 1").isLeft)
    assert(ConfigLoader.parseToml("k = [1, \"a\", true]")
      == Right(Seq("k" -> ConfigLoader.A(Seq("1", "a", "true")))))
  }

  test("no file, env or flags: load yields PipelineConfig()") {
    assert(ConfigLoader.load(None, env = Map.empty) == Right(PipelineConfig()))
  }

  test("a built config is refused by validate with the message load gives for the same value") {
    val cases: Seq[(PipelineConfig, String)] = Seq(
      PipelineConfig(sinks = Seq(SinkRule("x", kind = "kafka"))) ->
        "[sink.x]\ntype = \"kafka\"\n",
      PipelineConfig(multiline = Some(MultilineSpec(MultilineMode.HaltWith, "^B", Some("^(A")))) ->
        """[collector.multiline]
          |mode = "haltWith"
          |start-pattern = "^(A"
          |condition-pattern = "^B"
          |timeout = "1s"
          |""".stripMargin,
      PipelineConfig(multiline = Some(MultilineSpec(MultilineMode.HaltWith, "^(A", Some("^B")))) ->
        """[collector.multiline]
          |mode = "haltWith"
          |start-pattern = "^B"
          |condition-pattern = "^(A"
          |timeout = "1s"
          |""".stripMargin,
      PipelineConfig(prometheusAddr = Some("[::1]junk")) ->
        "[prometheus]\nenable = true\naddr = \"[::1]junk\"\n")
    for ((cfg, toml) <- cases) {
      val loaded = loadText(toml)
      assert(loaded.isLeft, toml)
      assert(cfg.validate() == loaded, toml)
    }
  }

  test("examples.toml lists every key the loader knows, in its section") {
    // commented-out lines count: the file documents the surface, it need
    // not switch every part of it on
    val header = """#?\s*\[([^\]]+)\]""".r
    val keyLine = """#?\s*([A-Za-z][A-Za-z0-9_-]*)\s*=.*""".r
    var section = ""
    val listed = Files.readString(java.nio.file.Paths.get("examples.toml"))
      .linesIterator.toSeq.flatMap(_.trim match {
        case header(sec) => section = sec.trim; None
        case keyLine(k) => Some(s"$section.$k")
        case _ => None
      }).toSet
    assert(ConfigLoader.knownKeys.filterNot(listed).isEmpty,
      s"missing from examples.toml: ${ConfigLoader.knownKeys.filterNot(listed)}")
    val sinkSectionKeys = listed.collect {
      case k if k.startsWith("sink.") && !k.startsWith("sink.labels.") &&
        k.count(_ == '.') == 2 => k.substring(k.lastIndexOf('.') + 1)
    }
    assert(ConfigLoader.sinkKeys.filterNot(sinkSectionKeys).isEmpty,
      s"no [sink.<name>] section of examples.toml lists " +
        ConfigLoader.sinkKeys.filterNot(sinkSectionKeys))
  }

  test("randomized sources: load yields each key's highest-precedence value, malformed values are refused") {
    val seed = Seed.random()
    val params = Test.Parameters.default
      .withMinSuccessfulTests(200).withWorkers(1).withInitialSeed(seed)
    val result = Test.check(params, Prop.forAllNoShrink(genDraw) { draw =>
      val f = Files.createTempFile("graft-cfg-prop", ".toml")
      val got = try {
        Files.writeString(f, draw.toml)
        ConfigLoader.load(Some(f.toString), draw.env, draw.flags)
      } finally Files.delete(f)
      val parseFaults = draw.keys.flatMap(_.parseFaults).toSet
      val ruleFaults = draw.keys.flatMap(_.effective.flatMap(_.out.left.toOption))
        .filterNot(_.atLoad).map(_.msg).toSet
      val ok = got match {
        case Left(e) if parseFaults.nonEmpty => parseFaults(e)
        case Left(e) => ruleFaults(e)
        case Right(cfg) => parseFaults.isEmpty && ruleFaults.isEmpty &&
          draw.keys.forall(k => k.key.read(cfg) == k.effective.fold(k.key.dflt)(_.out.toOption.get))
      }
      ok :| s"file:\n${draw.toml}env: ${draw.env}\nflags: ${draw.flags}\ngot: $got\n" +
        s"parse faults: $parseFaults\nrule faults: $ruleFaults"
    })
    assert(result.passed,
      s"seed ${seed.toBase64}: ${Pretty.pretty(result, Pretty.Params(1))}")
  }
}

object ConfigLoaderSpec {
  /** Why a drawn value is refused: `atLoad` when the loader cannot read it
    * as its key's type, else a rule of `PipelineConfig.validate`.
    */
  final case class Fault(msg: String, atLoad: Boolean)

  /** A value rendered for one source, and what it loads as. */
  final case class Drawn(text: String, out: Either[Fault, Any])

  private def ok(text: String, v: Any) = Drawn(text, Right(v))
  private def unreadable(text: String, msg: String) = Drawn(text, Left(Fault(msg, atLoad = true)))
  private def refused(text: String, msg: String) = Drawn(text, Left(Fault(msg, atLoad = false)))

  /** A typed key: how its file literal and env/flag string are drawn
    * (mostly well-formed), its default, and where the loaded config holds
    * it. `strictRaw`: an unreadable env/flag string is refused even where
    * a later source overrides it (the int and bool keys).
    */
  final case class Typed(key: String, file: Gen[Drawn], raw: Gen[Drawn],
      dflt: Any, read: PipelineConfig => Any, strictRaw: Boolean = false)

  private def mostly(good: Gen[Drawn], bad: Gen[Drawn]*): Gen[Drawn] =
    Gen.frequency((12 -> good) +: bad.map(1 -> _): _*)

  private def quoted(s: String) = "\"" + s + "\""

  val typedKeys: Seq[Typed] = Seq(
    Typed("sink.batch-size",
      mostly(Gen.choose(1, 5000).map(n => ok(n.toString, n)),
        Gen.const(unreadable("\"5\"", "sink.batch-size: expected integer, got S(5)")),
        Gen.const(refused("0", "sink.batch-size must be > 0"))),
      mostly(Gen.choose(1, 5000).map(n => ok(s" $n", n)),
        Gen.oneOf("x1", "1.5", "").map(r => unreadable(r, s"sink.batch-size: invalid integer '$r'")),
        Gen.const(refused("0", "sink.batch-size must be > 0"))),
      200, _.batchSize, strictRaw = true),
    Typed("sink.retries",
      mostly(Gen.choose(0, 9).map(n => ok(n.toString, n)),
        Gen.const(unreadable("\"1\"", "sink.retries: expected integer, got S(1)")),
        Gen.const(refused("-1", "sink.retries must be >= 0"))),
      mostly(Gen.choose(0, 9).map(n => ok(n.toString, n)),
        Gen.oneOf("two", "1e3").map(r => unreadable(r, s"sink.retries: invalid integer '$r'")),
        Gen.const(refused("-1", "sink.retries must be >= 0"))),
      0, _.batchRetries, strictRaw = true),
    Typed("prometheus.enable",
      mostly(Gen.oneOf(true, false).map(b => ok(b.toString, b)),
        Gen.const(unreadable("\"true\"", "prometheus.enable: expected bool, got S(true)"))),
      mostly(Gen.oneOf("true" -> true, "1" -> true, " FALSE " -> false, "0" -> false)
          .map { case (r, b) => ok(r, b) },
        Gen.oneOf("yes", "maybe", "2").map(r =>
          unreadable(r, s"prometheus.enable: invalid bool '${r.trim.toLowerCase}'"))),
      false, _.prometheusAddr.isDefined, strictRaw = true),
    {
      val globs = Gen.nonEmptyListOf(Gen.oneOf("*.log", "*.txt", "x*.parquet"))
      Typed("collector.include",
        mostly(globs.map(gs => ok(gs.map(quoted).mkString("[", ", ", "]"), gs)),
          Gen.const(unreadable("5", "collector.include: expected array, got I(5)"))),
        globs.map(gs => ok(gs.mkString(","), gs)),
        Nil, _.include)
    },
    Typed("collector.dedup.threshold",
      mostly(Gen.choose(0.05, 1.0).map(d => ok(d.toString, d)),
        Gen.const(unreadable("\"abc\"", "collector.dedup.threshold: invalid number 'abc'")),
        Gen.const(refused("1.5", "dedup threshold must be in (0, 1]"))),
      mostly(Gen.choose(0.05, 1.0).map(d => ok(d.toString, d)),
        Gen.oneOf("abc", "NaN", "0.5x").map(r =>
          unreadable(r, s"collector.dedup.threshold: invalid number '$r'")),
        Gen.const(refused("1.5", "dedup threshold must be in (0, 1]"))),
      0.8, _.dedup.get.threshold),
    {
      val durations = Gen.oneOf("500ms" -> 500L, "2s" -> 2000L, "1m30s" -> 90000L, "1.5s" -> 1500L)
      Typed("sink.batch-interval",
        mostly(durations.map { case (t, ms) => ok(quoted(t), ms) },
          Gen.const(unreadable("5", "invalid duration '5'")),
          Gen.const(refused(quoted("0s"), "sink.batch-interval must be > 0"))),
        mostly(durations.map { case (t, ms) => ok(t, ms) },
          Gen.oneOf("10", "fast").map(r => unreadable(r, s"invalid duration '$r'")),
          Gen.const(refused("0s", "sink.batch-interval must be > 0"))),
        2000L, _.batchIntervalMs)
    },
    {
      val strategies = Gen.oneOf("checksum", "checksumSeparator", "deviceAndInode")
      Typed("collector.fingerprint-strategy",
        mostly(strategies.map(t => ok(quoted(t), t)),
          Gen.const(unreadable("true", "collector.fingerprint-strategy: expected string, got B(true)")),
          Gen.const(refused(quoted("sha1"), "unsupported fingerprint strategy: sha1"))),
        mostly(strategies.map(t => ok(t, t)),
          Gen.const(refused("sha1", "unsupported fingerprint strategy: sha1"))),
        "checksum", _.fingerprintStrategy)
    })

  /** One key's draw: its value in the file, env and flags (each maybe
    * unset), and the flag's name.
    */
  final case class KeyDraw(key: Typed, file: Option[Drawn], env: Option[Drawn],
      flag: Option[(String, Drawn)]) {
    /** The value load must yield: flags over env over file. */
    def effective: Option[Drawn] = flag.map(_._2).orElse(env).orElse(file)
    /** Messages of the unreadable values load may report. */
    def parseFaults: Seq[String] =
      ((if (key.strictRaw) env.toSeq ++ flag.map(_._2) else Nil) ++ effective)
        .flatMap(_.out.left.toOption).filter(_.atLoad).map(_.msg)
  }

  final case class Draw(keys: Seq[KeyDraw]) {
    private def section(k: String) = k.substring(0, k.lastIndexOf('.'))
    /** Every section that needs a companion key has it: the dedup stage
      * its mode and store, prometheus its address.
      */
    def toml: String = {
      val fixed = Seq("collector.dedup.mode" -> quoted("minhash"),
        "collector.dedup.store-dir" -> quoted("/tmp/graft-prop-store"),
        "prometheus.addr" -> quoted(":2112"))
      val kvs = fixed ++ keys.flatMap(d => d.file.map(d.key.key -> _.text))
      kvs.groupBy(kv => section(kv._1)).toSeq.sortBy(_._1).map { case (sec, ls) =>
        ls.map { case (k, v) => s"${k.substring(sec.length + 1)} = $v\n" }
          .mkString(s"[$sec]\n", "", "\n")
      }.mkString
    }
    def env: Map[String, String] =
      keys.flatMap(d => d.env.map(ConfigLoader.envName(d.key.key) -> _.text)).toMap
    def flags: Map[String, String] = keys.flatMap(_.flag.map { case (n, v) => n -> v.text }).toMap
  }

  private def maybe[A](g: Gen[A]): Gen[Option[A]] =
    Gen.oneOf(true, false).flatMap(set => if (set) g.map(Some(_)) else Gen.const(None))

  val genDraw: Gen[Draw] = Gen.sequence[Seq[KeyDraw], KeyDraw](typedKeys.map { t =>
    // a collector key's flag may use its short reference name
    val names = if (t.key.count(_ == '.') == 1 && t.key.startsWith("collector."))
      Gen.oneOf(t.key, t.key.stripPrefix("collector.")) else Gen.const(t.key)
    for {
      file <- maybe(t.file)
      env <- maybe(t.raw)
      flag <- maybe(Gen.zip(names, t.raw))
    } yield KeyDraw(t, file, env, flag)
  }).map(Draw(_))
}
