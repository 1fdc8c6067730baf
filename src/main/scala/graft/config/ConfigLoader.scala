package graft.config

import scala.collection.mutable

import graft.model.{MultilineMode, MultilineSpec, PipelineConfig, SinkRule}

/** External configuration for [[graft.model.PipelineConfig]] — the analogue
  * of the reference's viper loading stack (cmd/freader/config.go:55-131):
  *
  *  - a TOML-subset config file (sections, strings, ints, bools, string
  *    arrays, full-line and trailing comments),
  *  - environment overrides with the `GRAFT_` prefix and `.`/`-` → `_`
  *    key mapping (FREADER_ + EnvKeyReplacer parity, config.go:57-59),
  *  - explicit flag overrides (flags override env override file — the
  *    viper binding order),
  *  - the `[collector.multiline]` sub-section with kebab-case keys and the
  *    `java = true` preset filling unset fields (config.go:100-131),
  *  - the validation matrix (config.go:190-237 + multline_reader.go:37-48):
  *    sink type whitelist, batch-size/batch-interval > 0, multiline
  *    mode/start-pattern/condition-pattern/timeout requirements, plus
  *    PipelineConfig.validate for the collector-side checks.
  *
  * Key map (reference key → engine field):
  *   collector.include / exclude / lineage-partitions → same
  *   collector.fingerprint-strategy / fingerprint-size → same
  *   collector.multiline.{mode,start-pattern,condition-pattern,java}
  *     → PipelineConfig.multiline
  *   collector.dedup.{mode,store-dir,threshold,ngram,bands,rows-per-band}
  *     → PipelineConfig.dedup (engine extension, no reference analogue)
  *   collector.separator / poll-interval / workers, multiline.timeout →
  *     validated only: the batch engine has no line separator, poll loop,
  *     worker pool or idle flush for them to set
  *   sink.batch-size / batch-interval / retries → batchSize /
  *     batchIntervalMs / batchRetries (the HTTP wire sinks)
  *   prometheus.enable / addr → prometheusAddr
  *   sink.labels.* → labels
  *   sink.<name>.{type,include,exclude,reject-where,url,index,table,
  *     database,user,password} → SinkRule per section
  *
  * Keys outside this map are ignored, so a file written for an older
  * surface still loads.
  */
object ConfigLoader {

  sealed trait Value
  final case class S(v: String) extends Value
  final case class I(v: Long) extends Value
  final case class F(v: Double) extends Value
  final case class B(v: Boolean) extends Value
  final case class A(v: Seq[String]) extends Value

  /** Known scalar keys and their env-override names; sink.<name>.* keys are
    * dynamic and file/flag-only (the reference configures sink backends via
    * file or FREADER_SINK__* double-underscore forms; single-level env
    * parity covers the fixed surface).
    */
  private val knownKeys: Seq[String] = Seq(
    "collector.separator", "collector.include", "collector.exclude",
    "collector.lineage-partitions", "collector.poll-interval",
    "collector.workers", "collector.fingerprint-strategy",
    "collector.fingerprint-size",
    "collector.multiline.mode", "collector.multiline.start-pattern",
    "collector.multiline.condition-pattern", "collector.multiline.timeout",
    "collector.multiline.java",
    "collector.dedup.mode", "collector.dedup.store-dir",
    "collector.dedup.threshold", "collector.dedup.ngram",
    "collector.dedup.bands", "collector.dedup.rows-per-band",
    "sink.batch-size", "sink.batch-interval", "sink.retries",
    "prometheus.enable", "prometheus.addr")

  def envName(key: String): String =
    "GRAFT_" + key.toUpperCase.replace('.', '_').replace('-', '_')

  private val arrayKeys = Set("collector.include", "collector.exclude")
  private val boolKeys = Set("collector.multiline.java", "prometheus.enable")
  private val intKeys = Set(
    "collector.lineage-partitions", "sink.batch-size", "sink.retries",
    "collector.workers", "collector.fingerprint-size",
    "collector.dedup.ngram", "collector.dedup.bands",
    "collector.dedup.rows-per-band")

  val sinkKinds: Set[String] =
    Set("console", "file", "clickhouse", "opensearch", "parquet")

  private val modes: Map[String, MultilineMode] = Map(
    "continuePast" -> MultilineMode.ContinuePast,
    "continueThrough" -> MultilineMode.ContinueThrough,
    "haltBefore" -> MultilineMode.HaltBefore,
    "haltWith" -> MultilineMode.HaltWith)

  // ------------------------------------------------------------------ load

  /** Load with viper's precedence: defaults < file < env < flags. Flag keys
    * are the reference's flag names (`include`, `exclude`, `separator`, …)
    * or full dotted keys; values are raw strings (arrays comma-split, like
    * pflag StringSlice). Include roots are classified by
    * `PathFilter.isDir` over a plain Hadoop `Configuration` (loading has no
    * Spark session); `Pipeline.run` re-validates them with the same test
    * over the session's configuration.
    */
  def load(
      file: Option[String] = None,
      env: Map[String, String] = sys.env,
      flags: Map[String, String] = Map.empty): Either[String, PipelineConfig] = {
    for {
      fileKv <- file match {
        case None => Right(Seq.empty[(String, Value)])
        case Some(f) =>
          val p = java.nio.file.Paths.get(f)
          if (!java.nio.file.Files.isReadable(p))
            Left(s"failed to read config file: $f")
          else parseToml(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      }
      envKv <- coerceAll(knownKeys.flatMap(k => env.get(envName(k)).map(k -> _)))
      flagKv <- coerceAll(flags.toSeq.map { case (k, v) => flagKey(k) -> v })
      cfg <- build(fileKv ++ envKv ++ flagKv)
      validated <- cfg.validate()
    } yield validated
  }

  /** Reference top-level flags bind to nested collector keys
    * (config.go:80-83,158-170); dotted keys pass through.
    */
  private def flagKey(k: String): String =
    if (k.contains(".")) k else s"collector.$k"

  private def coerceAll(kvs: Seq[(String, String)]): Either[String, Seq[(String, Value)]] = {
    val out = mutable.ArrayBuffer.empty[(String, Value)]
    for ((k, raw) <- kvs) coerce(k, raw) match {
      case Left(e) => return Left(e)
      case Right(v) => out += k -> v
    }
    Right(out.toSeq)
  }

  private def coerce(k: String, raw: String): Either[String, Value] =
    if (arrayKeys(k) || k.endsWith(".include") || k.endsWith(".exclude") ||
      k.endsWith(".reject-where"))
      Right(A(raw.split(",").toSeq.map(_.trim).filter(_.nonEmpty)))
    else if (boolKeys(k)) raw.trim.toLowerCase match {
      case "true" | "1" => Right(B(true))
      case "false" | "0" => Right(B(false))
      case other => Left(s"$k: invalid bool '$other'")
    }
    else if (intKeys(k)) raw.trim.toLongOption.map(I(_))
      .toRight(s"$k: invalid integer '$raw'")
    else Right(S(raw))

  // ------------------------------------------------------------------ build

  private final class Lookup(kvs: Seq[(String, Value)]) {
    val map: Map[String, Value] = kvs.toMap // later wins (Seq order = precedence)
    def str(k: String, dflt: String): Either[String, String] = map.get(k) match {
      case None => Right(dflt)
      case Some(S(v)) => Right(v)
      case Some(I(v)) => Right(v.toString)
      case Some(other) => Left(s"$k: expected string, got $other")
    }
    def arr(k: String): Either[String, Seq[String]] = map.get(k) match {
      case None => Right(Nil)
      case Some(A(v)) => Right(v)
      case Some(S(v)) => Right(Seq(v))
      case Some(other) => Left(s"$k: expected array, got $other")
    }
    def int(k: String, dflt: Int): Either[String, Int] = map.get(k) match {
      case None => Right(dflt)
      case Some(I(v)) =>
        // no silent Long→Int wrap: 2^32+1 must not become 1 (a 1-byte
        // fingerprint prefix would alias distinct files as unchanged)
        if (v < Int.MinValue || v > Int.MaxValue)
          Left(s"$k: $v out of 32-bit integer range")
        else Right(v.toInt)
      case Some(other) => Left(s"$k: expected integer, got $other")
    }
    def bool(k: String, dflt: Boolean): Either[String, Boolean] = map.get(k) match {
      case None => Right(dflt)
      case Some(B(v)) => Right(v)
      case Some(other) => Left(s"$k: expected bool, got $other")
    }
    def dbl(k: String, dflt: Double): Either[String, Double] = map.get(k) match {
      case None => Right(dflt)
      case Some(F(v)) => Right(v)
      case Some(I(v)) => Right(v.toDouble)
      // env/flag overrides arrive as S — parse, rejecting NaN/Inf here so
      // range validators downstream see only ordered numbers
      case Some(S(v)) => v.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite)
        .toRight(s"$k: invalid number '$v'")
      case Some(other) => Left(s"$k: expected number, got $other")
    }
  }

  private def build(kvs: Seq[(String, Value)]): Either[String, PipelineConfig] = {
    val lk = new Lookup(kvs)
    for {
      include <- lk.arr("collector.include")
      exclude <- lk.arr("collector.exclude")
      lineageParts <- lk.int("collector.lineage-partitions", 32)
      fpStrategy <- lk.str("collector.fingerprint-strategy", "checksum")
      fpSize <- lk.int("collector.fingerprint-size", 64 * 1024)
      _ <- parityChecks(lk)
      promAddr <- prometheusChecks(lk)
      batch <- batchSettings(lk)
      ml <- multiline(lk)
      dd <- dedupStage(lk)
      sinks <- sinkRules(kvs, lk)
      labels <- Right(kvs.collect {
        case (k, S(v)) if k.startsWith("sink.labels.") =>
          k.stripPrefix("sink.labels.") -> v
      }.toMap)
    } yield PipelineConfig(
      multiline = ml,
      sinks = sinks,
      lineagePartitions = lineageParts,
      include = include,
      exclude = exclude,
      fingerprintStrategy = fpStrategy,
      fingerprintSize = fpSize,
      labels = labels,
      dedup = dd,
      prometheusAddr = promAddr,
      batchSize = batch._1,
      batchIntervalMs = batch._2,
      batchRetries = batch._3)
  }

  /** The `[collector.dedup]` sub-section — an engine-side extension (no
    * reference analogue: freader re-delivers duplicate content by design;
    * a training-data pipeline must not). Section present at all ⇒ mode and
    * store-dir are required; the spec re-validates via
    * [[graft.model.DedupStageSpec.validate]] (mode whitelist, threshold
    * range) from PipelineConfig.validate.
    */
  private def dedupStage(lk: Lookup): Either[String, Option[graft.model.DedupStageSpec]] = {
    val present = lk.map.keys.exists(_.startsWith("collector.dedup."))
    if (!present) return Right(None)
    for {
      mode <- lk.str("collector.dedup.mode", "")
      dir <- lk.str("collector.dedup.store-dir", "")
      thr <- lk.dbl("collector.dedup.threshold", 0.8)
      ngram <- lk.int("collector.dedup.ngram", graft.operators.Dedup.StoreNgram)
      bands <- lk.int("collector.dedup.bands", graft.operators.Dedup.StoreBands)
      rpb <- lk.int("collector.dedup.rows-per-band", graft.operators.Dedup.StoreRowsPerBand)
    } yield Some(graft.model.DedupStageSpec(mode, dir, thr, ngram, bands, rpb))
  }

  /** separator non-empty, poll-interval > 0 and workers >= 1 when set —
    * the reference's checks (config.go:190-237), kept because they reject
    * bad outside input; the values themselves set nothing here: delivery
    * reads rows, not separated lines, and the batch engine's scheduler
    * (snapshot poll cadence, task parallelism) absorbs the other two.
    */
  private def parityChecks(lk: Lookup): Either[String, Unit] = for {
    sep <- lk.str("collector.separator", "\n")
    _ <- if (sep.nonEmpty) Right(()) else Left("separator must be non-empty")
    pi <- lk.str("collector.poll-interval", "2s")
    ms <- parseDuration(pi).left.map(e => s"collector.poll-interval: $e")
    _ <- if (ms > 0) Right(()) else Left("collector.poll-interval must be > 0")
    w <- lk.int("collector.workers", 1)
    _ <- if (w >= 1) Right(()) else Left("collector.workers must be >= 1")
  } yield ()

  /** prometheus.addr must be set when prometheus.enable (config.go:227-229)
    * and must be a listenable host:port — Go's net.Listen rejects a
    * port-less address at startup; validating here surfaces it at config
    * time instead of as a bind failure mid-run. Yields the endpoint
    * address when enabled.
    */
  private def prometheusChecks(lk: Lookup): Either[String, Option[String]] = for {
    en <- lk.bool("prometheus.enable", dflt = false)
    addr <- lk.str("prometheus.addr", "")
    _ <- if (!en) Right(())
      else if (addr.isEmpty)
        Left("prometheus.addr must be set when prometheus.enable is true")
      else graft.metrics.Metrics.listenAddr(addr).left.map(e => s"prometheus.addr: $e")
  } yield if (en) Some(addr) else None

  /** sink.batch-size, sink.batch-interval (a duration) and sink.retries;
    * their ranges are the reference validations (config.go:198-204), checked
    * by [[PipelineConfig.validate]]. The values are CONSUMED by the HTTP
    * wire sinks (rows per bulk POST / max flush gap — interval is
    * best-effort, see PipelineConfig.batchIntervalMs); the parquet/file
    * flavors remain lossless-batch (COVERAGE.md §2.6). sink.retries is the
    * engine-side bounded re-POST count for transiently failed wire batches
    * (the reference drops a failed flush; 0 keeps that parity). Yields
    * (size, ms, retries).
    */
  private def batchSettings(lk: Lookup): Either[String, (Int, Long, Int)] = for {
    bs <- lk.int("sink.batch-size", 200)
    bi <- lk.str("sink.batch-interval", "2s")
    rt <- lk.int("sink.retries", 0)
    ms <- parseDuration(bi)
  } yield (bs, ms, rt)

  /** The multiline sub-unmarshal incl. the Java preset (config.go:100-131),
    * which fills unset fields from [[MultilineSpec.Java]] and
    * [[MultilineSpec.JavaTimeoutMs]], and MultilineReader.Validate
    * strictness (multline_reader.go:37-48: start-pattern,
    * condition-pattern and timeout > 0 are all required).
    * The timeout is validated only: a run's batch assembly closes every
    * record at the end of its conversation and has no idle flush to set
    * (the streaming flush takes its timeout as a parameter).
    * Returns the spec when the section is present at all.
    */
  private def multiline(lk: Lookup): Either[String, Option[MultilineSpec]] = {
    val present = lk.map.keys.exists(_.startsWith("collector.multiline."))
    if (!present) return Right(None)
    for {
      java <- lk.bool("collector.multiline.java", dflt = false)
      mode0 <- lk.str("collector.multiline.mode", "")
      start0 <- lk.str("collector.multiline.start-pattern", "")
      cond0 <- lk.str("collector.multiline.condition-pattern", "")
      tout <- lk.str("collector.multiline.timeout", "")
      m <- if (java && mode0.isEmpty) Right(MultilineSpec.Java.mode)
        else modes.get(mode0).toRight(s"invalid multiline mode: '$mode0'")
      start = if (java && start0.isEmpty) MultilineSpec.Java.startPattern.mkString else start0
      cond = if (java && cond0.isEmpty) MultilineSpec.Java.condPattern else cond0
      _ <- if (start.nonEmpty) Right(()) else Left("multiline start-pattern is required")
      _ <- if (cond.nonEmpty) Right(()) else Left("multiline condition-pattern is required")
      _ <- compile(start, "start-pattern")
      _ <- compile(cond, "condition-pattern")
      ms <- if (tout.nonEmpty) parseDuration(tout).left.map(e => s"multiline timeout: $e")
        else Right(if (java) MultilineSpec.JavaTimeoutMs else 0L)
      _ <- if (ms > 0) Right(()) else Left("multiline timeout must be > 0")
    } yield Some(MultilineSpec(m, cond, Some(start)))
  }

  private def compile(re: String, what: String): Either[String, Unit] =
    try { java.util.regex.Pattern.compile(re); Right(()) }
    catch { case e: Exception => Left(s"invalid $what regex: ${e.getMessage}") }

  /** `[sink.<name>]` sections, in first-appearance order; no section ⇒ the
    * reference default console sink (config.go DefaultConfig).
    */
  private def sinkRules(kvs: Seq[(String, Value)], lk: Lookup): Either[String, Seq[SinkRule]] = {
    val names = mutable.LinkedHashSet.empty[String]
    val re = ("^sink\\.([^.]+)\\.(type|include|exclude|reject-where|url|" +
      "index|table|database|user|password)$").r
    kvs.foreach {
      case (re(name, _), _) if name != "labels" => names += name
      case _ => ()
    }
    if (names.isEmpty) return Right(Seq(SinkRule("console", kind = "console")))
    val out = mutable.ArrayBuffer.empty[SinkRule]
    for (n <- names) {
      val rule = for {
        kind <- lk.str(s"sink.$n.type", "parquet")
        _ <- if (sinkKinds(kind)) Right(()) else Left(s"invalid sink.type: $kind")
        inc <- lk.arr(s"sink.$n.include")
        exc <- lk.arr(s"sink.$n.exclude")
        rej <- lk.arr(s"sink.$n.reject-where")
        // wire endpoint surface (opensearch.go:26 url/index/user/pass;
        // clickhouse.go:26 addr/database/table/user/pass): the OS index or
        // the CH [db.]table collapse into SinkRule.target
        url <- lk.str(s"sink.$n.url", "")
        index <- lk.str(s"sink.$n.index", "")
        table <- lk.str(s"sink.$n.table", "")
        database <- lk.str(s"sink.$n.database", "")
        user <- lk.str(s"sink.$n.user", "")
        pass <- lk.str(s"sink.$n.password", "")
      } yield {
        val target =
          if (kind == "clickhouse")
            if (table.nonEmpty && database.nonEmpty && !table.contains("."))
              s"$database.$table"
            else table
          else index
        SinkRule(n, inc, exc, rej, kind,
          url = if (url.isEmpty) None else Some(url),
          target = target, user = user, pass = pass)
      }
      rule match {
        case Left(e) => return Left(e)
        case Right(r) => out += r
      }
    }
    Right(out.toSeq)
  }

  // ------------------------------------------------------------------ toml

  /** Minimal TOML subset: `[section]` headers, `key = value` with quoted
    * strings (\\ \" \n \r \t escapes), integers, booleans, arrays of those,
    * comments. Flat dotted keys out, in file order (duplicates: last wins
    * at lookup, preserving viper's override-by-later-source shape).
    */
  def parseToml(text: String): Either[String, Seq[(String, Value)]] = {
    val out = mutable.ArrayBuffer.empty[(String, Value)]
    var section = ""
    for ((raw, i) <- text.linesIterator.zipWithIndex) {
      val line = stripComment(raw).trim
      val ln = i + 1
      if (line.isEmpty) ()
      else if (line.startsWith("[")) {
        if (!line.endsWith("]")) return Left(s"line $ln: unterminated section header")
        section = line.substring(1, line.length - 1).trim
        if (section.isEmpty) return Left(s"line $ln: empty section name")
      } else {
        val eq = line.indexOf('=')
        if (eq <= 0) return Left(s"line $ln: expected key = value")
        val key = line.substring(0, eq).trim
        parseValue(line.substring(eq + 1).trim) match {
          case Left(e) => return Left(s"line $ln: $e")
          case Right(v) =>
            out += (if (section.isEmpty) key else s"$section.$key") -> v
        }
      }
    }
    Right(out.toSeq)
  }

  private def stripComment(line: String): String = {
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '\\' && inQ) i += 1
      else if (c == '"') inQ = !inQ
      else if (c == '#' && !inQ) return line.substring(0, i)
      i += 1
    }
    line
  }

  private def parseValue(s: String): Either[String, Value] =
    if (s.startsWith("\"")) parseQuoted(s).flatMap { case (v, rest) =>
      if (rest.trim.isEmpty) Right(S(v)) else Left(s"trailing content after string: '$rest'")
    }
    else if (s.startsWith("[")) {
      if (!s.endsWith("]")) Left("unterminated array")
      else {
        val items = splitItems(s.substring(1, s.length - 1))
        val vals = mutable.ArrayBuffer.empty[String]
        for (it <- items.map(_.trim) if it.nonEmpty) parseValue(it) match {
          case Right(S(v)) => vals += v
          case Right(I(v)) => vals += v.toString
          case Right(F(v)) => vals += v.toString
          case Right(B(v)) => vals += v.toString
          case Right(A(_)) => return Left("nested arrays are not supported")
          case Left(e) => return Left(e)
        }
        Right(A(vals.toSeq))
      }
    }
    else if (s == "true") Right(B(true))
    else if (s == "false") Right(B(false))
    else s.toLongOption.map(I(_): Value)
      // bare floats (e.g. dedup threshold = 0.8) are a typed variant: only
      // keys read via Lookup.dbl accept them, so `separator = 1.5` is a
      // config error ("expected string"), not a silent string "1.5"
      .orElse(s.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite)
        .map(F(_): Value))
      .toRight(s"unparseable value '$s' (bare strings must be quoted)")

  private def parseQuoted(s: String): Either[String, (String, String)] = {
    val sb = new StringBuilder
    var i = 1
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' if i + 1 < s.length =>
          s.charAt(i + 1) match {
            case '"' => sb += '"'
            case '\\' => sb += '\\'
            case 'n' => sb += '\n'
            case 'r' => sb += '\r'
            case 't' => sb += '\t'
            case other => return Left(s"unsupported escape \\$other")
          }
          i += 2
        case '"' => return Right((sb.toString, s.substring(i + 1)))
        case c => sb += c; i += 1
      }
    }
    Left("unterminated string")
  }

  private def splitItems(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && inQ && i + 1 < s.length) { sb += c; sb += s.charAt(i + 1); i += 2 }
      else {
        if (c == '"') inQ = !inQ
        if (c == ',' && !inQ) { out += sb.toString; sb.clear() }
        else sb += c
        i += 1
      }
    }
    out += sb.toString
    out.toSeq
  }

  /** Go-style duration: compound `<float><unit>` terms (ns, us, µs, ms, s,
    * m, h), e.g. "500ms", "1.5s", "1m30s" — time.ParseDuration's grammar
    * for the cases a config uses. Returns milliseconds.
    *
    * DOCUMENTED DIVERGENCE: the engine's clocks are millisecond-grained,
    * so a POSITIVE sub-millisecond duration (legal under
    * time.ParseDuration, e.g. "400us") rounds UP to 1ms instead of
    * truncating to 0 — truncation would turn a valid config into a
    * "must be > 0" validation error.
    */
  def parseDuration(s: String): Either[String, Long] = {
    val t = s.trim
    if (t.isEmpty) return Left("empty duration")
    val re = "(\\d+(?:\\.\\d+)?)(ns|us|µs|ms|s|m|h)".r
    val matches = re.findAllMatchIn(t).toSeq
    if (matches.isEmpty || matches.map(_.matched).mkString != t)
      return Left(s"invalid duration '$s'")
    val unitMs = Map("ns" -> 1e-6, "us" -> 1e-3, "µs" -> 1e-3, "ms" -> 1.0,
      "s" -> 1000.0, "m" -> 60000.0, "h" -> 3600000.0)
    val raw = matches.map(m => m.group(1).toDouble * unitMs(m.group(2))).sum
    Right(if (raw > 0.0) math.max(1L, math.round(raw)) else math.round(raw))
  }
}
