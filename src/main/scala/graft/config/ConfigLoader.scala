package graft.config

import scala.collection.mutable

import graft.model.{DedupStageSpec, MultilineMode, MultilineSpec, PipelineConfig, SinkRule}
import graft.operators.Dedup

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
  *    `java = true` preset filling unset fields (config.go:100-131).
  *
  * The loader is a parser only. A key's type is the one its `build` call
  * site reads it as, its default is the `PipelineConfig()` /
  * `DedupStageSpec` one, and every value rule — the validation matrix of
  * config.go:190-237 and multline_reader.go:37-48 — lives in
  * [[PipelineConfig.validate]], which `load` ends with, so a loaded config
  * and a built one pass the same checks. The loader keeps only what the
  * model cannot express: the Java preset, the fields a section requires,
  * `prometheus.enable` ⇒ `prometheus.addr`, and the parity-only keys.
  *
  * Key map (reference key → engine field):
  *   collector.include / exclude → same
  *   collector.fingerprint-strategy / fingerprint-size → same
  *   collector.multiline.{mode,start-pattern,condition-pattern,java}
  *     → PipelineConfig.multiline
  *   collector.dedup.{mode,store-dir,threshold,ngram,bands,rows-per-band}
  *     → PipelineConfig.dedup (engine extension, no reference analogue)
  *   collector.separator / poll-interval / workers, multiline.timeout →
  *     parity-only, checked here: the batch engine has no line separator,
  *     poll loop, worker pool or idle flush for them to set
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
  /** An env or flag value: a string that [[Lookup]] parses for the type
    * its key is read as. The TOML parser never yields it, so a quoted file
    * string stays a string.
    */
  final case class Raw(v: String) extends Value

  /** Known scalar keys and their env-override names; sink.<name>.* keys are
    * dynamic and file/flag-only (the reference configures sink backends via
    * file or FREADER_SINK__* double-underscore forms; single-level env
    * parity covers the fixed surface).
    */
  private[graft] val knownKeys: Seq[String] = Seq(
    "collector.separator", "collector.include", "collector.exclude",
    "collector.poll-interval", "collector.workers",
    "collector.fingerprint-strategy", "collector.fingerprint-size",
    "collector.multiline.mode", "collector.multiline.start-pattern",
    "collector.multiline.condition-pattern", "collector.multiline.timeout",
    "collector.multiline.java",
    "collector.dedup.mode", "collector.dedup.store-dir",
    "collector.dedup.threshold", "collector.dedup.ngram",
    "collector.dedup.bands", "collector.dedup.rows-per-band",
    "sink.batch-size", "sink.batch-interval", "sink.retries",
    "prometheus.enable", "prometheus.addr")

  /** The keys of a `[sink.<name>]` section. */
  private[graft] val sinkKeys: Seq[String] = Seq("type", "include", "exclude",
    "reject-where", "url", "index", "table", "database", "user", "password")

  def envName(key: String): String =
    "GRAFT_" + key.toUpperCase.replace('.', '_').replace('-', '_')

  private val modes: Map[String, MultilineMode] = Map(
    "continuePast" -> MultilineMode.ContinuePast,
    "continueThrough" -> MultilineMode.ContinueThrough,
    "haltBefore" -> MultilineMode.HaltBefore,
    "haltWith" -> MultilineMode.HaltWith)

  private val Defaults = PipelineConfig()

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
      envKv = knownKeys.flatMap(k => env.get(envName(k)).map(k -> Raw(_)))
      flagKv = flags.toSeq.map { case (k, v) => flagKey(k) -> Raw(v) }
      cfg <- build(fileKv ++ envKv ++ flagKv)
      validated <- cfg.validate()
    } yield validated
  }

  /** Reference top-level flags bind to nested collector keys
    * (config.go:80-83,158-170); dotted keys pass through.
    */
  private def flagKey(k: String): String =
    if (k.contains(".")) k else s"collector.$k"

  // ------------------------------------------------------------------ build

  /** The merged sources, each key's values in precedence order. A getter
    * reads its key as one type: a file value must already be of it, and
    * every env or flag string of the key must parse as it — also one a
    * later source overrides — then the highest-precedence value wins.
    * An absent key reads as None, so the caller's default applies.
    */
  private final class Lookup(kvs: Seq[(String, Value)]) {
    private val values: Map[String, Seq[Value]] = kvs.groupMap(_._1)(_._2)

    def present(prefix: String): Boolean = values.keys.exists(_.startsWith(prefix))

    private def get[T](k: String, what: String)(raw: String => Either[String, Value])(
        read: PartialFunction[Value, Either[String, T]]): Either[String, Option[T]] =
      values.get(k) match {
        case None => Right(None)
        case Some(vs) =>
          vs.map { case Raw(v) => raw(v); case v => Right(v) }
            .reduceLeft((earlier, later) => earlier.flatMap(_ => later)) // first fault, or the last value
            .flatMap(read.applyOrElse(_, (v: Value) => Left(s"$k: expected $what, got $v")))
            .map(Some(_))
      }

    def str(k: String): Either[String, Option[String]] =
      get(k, "string")(v => Right(S(v))) {
        case S(v) => Right(v)
        case I(v) => Right(v.toString)
      }
    def arr(k: String): Either[String, Option[Seq[String]]] =
      get(k, "array")(v => Right(A(v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)))) {
        case A(v) => Right(v)
        case S(v) => Right(Seq(v))
      }
    def int(k: String): Either[String, Option[Int]] =
      get(k, "integer")(v => v.trim.toLongOption.map(I(_)).toRight(s"$k: invalid integer '$v'")) {
        // no silent Long→Int wrap: 2^32+1 must not become 1 (a 1-byte
        // fingerprint prefix would alias distinct files as unchanged)
        case I(v) =>
          if (v < Int.MinValue || v > Int.MaxValue)
            Left(s"$k: $v out of 32-bit integer range")
          else Right(v.toInt)
      }
    def bool(k: String): Either[String, Option[Boolean]] =
      get(k, "bool")(_.trim.toLowerCase match {
        case "true" | "1" => Right(B(true))
        case "false" | "0" => Right(B(false))
        case other => Left(s"$k: invalid bool '$other'")
      }) { case B(v) => Right(v) }
    def dbl(k: String): Either[String, Option[Double]] =
      get(k, "number")(v => Right(S(v))) {
        case F(v) => Right(v)
        case I(v) => Right(v.toDouble)
        // a string (an env/flag value, or quoted in the file) parses,
        // rejecting NaN/Inf here so range validators downstream see only
        // ordered numbers
        case S(v) => v.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite)
          .toRight(s"$k: invalid number '$v'")
      }
  }

  private implicit final class OrDefault[T](private val got: Either[String, Option[T]])
      extends AnyVal {
    def or(dflt: => T): Either[String, T] = got.map(_.getOrElse(dflt))
  }

  private def build(kvs: Seq[(String, Value)]): Either[String, PipelineConfig] = {
    val lk = new Lookup(kvs)
    for {
      include <- lk.arr("collector.include").or(Defaults.include)
      exclude <- lk.arr("collector.exclude").or(Defaults.exclude)
      fpStrategy <- lk.str("collector.fingerprint-strategy").or(Defaults.fingerprintStrategy)
      fpSize <- lk.int("collector.fingerprint-size").or(Defaults.fingerprintSize)
      _ <- parityChecks(lk)
      promAddr <- prometheus(lk)
      batchSize <- lk.int("sink.batch-size").or(Defaults.batchSize)
      interval <- lk.str("sink.batch-interval")
      retries <- lk.int("sink.retries").or(Defaults.batchRetries)
      intervalMs <- interval.fold[Either[String, Long]](Right(Defaults.batchIntervalMs))(parseDuration)
      ml <- multiline(lk)
      dd <- dedupStage(lk)
      sinks <- sinkRules(kvs, lk)
    } yield PipelineConfig(
      multiline = ml,
      sinks = sinks,
      include = include,
      exclude = exclude,
      fingerprintStrategy = fpStrategy,
      fingerprintSize = fpSize,
      labels = kvs.collect {
        case (k, S(v)) if k.startsWith("sink.labels.") => k.stripPrefix("sink.labels.") -> v
        case (k, Raw(v)) if k.startsWith("sink.labels.") => k.stripPrefix("sink.labels.") -> v
      }.toMap,
      dedup = dd,
      prometheusAddr = promAddr,
      batchSize = batchSize,
      batchIntervalMs = intervalMs,
      batchRetries = retries)
  }

  /** The `[collector.dedup]` sub-section — an engine-side extension (no
    * reference analogue: freader re-delivers duplicate content by design;
    * a training-data pipeline must not). Section present at all ⇒ a
    * stage; an unset mode or store-dir reaches
    * [[graft.model.DedupStageSpec.validate]] empty, which refuses it.
    */
  private def dedupStage(lk: Lookup): Either[String, Option[DedupStageSpec]] =
    if (!lk.present("collector.dedup.")) Right(None)
    else for {
      mode <- lk.str("collector.dedup.mode")
      dir <- lk.str("collector.dedup.store-dir")
      thr <- lk.dbl("collector.dedup.threshold").or(Dedup.StoreThreshold)
      ngram <- lk.int("collector.dedup.ngram").or(Dedup.StoreNgram)
      bands <- lk.int("collector.dedup.bands").or(Dedup.StoreBands)
      rpb <- lk.int("collector.dedup.rows-per-band").or(Dedup.StoreRowsPerBand)
    } yield Some(DedupStageSpec(mode.getOrElse(""), dir.getOrElse(""), thr, ngram, bands, rpb))

  /** separator non-empty, poll-interval > 0 and workers >= 1 when set —
    * the reference's checks (config.go:190-237), kept because they reject
    * bad outside input; the values themselves set nothing here: delivery
    * reads rows, not separated lines, and the batch engine's scheduler
    * (snapshot poll cadence, task parallelism) absorbs the other two.
    */
  private def parityChecks(lk: Lookup): Either[String, Unit] = for {
    sep <- lk.str("collector.separator").or("\n")
    _ <- if (sep.nonEmpty) Right(()) else Left("separator must be non-empty")
    pi <- lk.str("collector.poll-interval").or("2s")
    ms <- parseDuration(pi).left.map(e => s"collector.poll-interval: $e")
    _ <- if (ms > 0) Right(()) else Left("collector.poll-interval must be > 0")
    w <- lk.int("collector.workers").or(1)
    _ <- if (w >= 1) Right(()) else Left("collector.workers must be >= 1")
  } yield ()

  /** prometheus.addr must be set when prometheus.enable
    * (config.go:227-229). Yields the endpoint address when enabled;
    * [[PipelineConfig.validate]] checks it is listenable.
    */
  private def prometheus(lk: Lookup): Either[String, Option[String]] = for {
    en <- lk.bool("prometheus.enable").or(false)
    addr <- lk.str("prometheus.addr")
    _ <- if (en && addr.forall(_.isEmpty))
        Left("prometheus.addr must be set when prometheus.enable is true")
      else Right(())
  } yield addr.filter(_ => en)

  /** The multiline sub-unmarshal incl. the Java preset (config.go:100-131),
    * which fills unset fields from [[MultilineSpec.Java]] and
    * [[MultilineSpec.JavaTimeoutMs]], and MultilineReader.Validate
    * strictness (multline_reader.go:37-48: start-pattern,
    * condition-pattern and timeout > 0 are all required).
    * The timeout is checked only: a run's batch assembly closes every
    * record at the end of its conversation and has no idle flush to set
    * (the streaming flush takes its timeout as a parameter).
    * Returns the spec when the section is present at all.
    */
  private def multiline(lk: Lookup): Either[String, Option[MultilineSpec]] =
    if (!lk.present("collector.multiline.")) Right(None)
    else for {
      java <- lk.bool("collector.multiline.java").or(false)
      preset = Option.when(java)(MultilineSpec.Java)
      mode0 <- lk.str("collector.multiline.mode")
      start0 <- lk.str("collector.multiline.start-pattern")
      cond0 <- lk.str("collector.multiline.condition-pattern")
      tout <- lk.str("collector.multiline.timeout")
      mode <- mode0.filter(_.nonEmpty).fold(preset.map(_.mode))(modes.get)
        .toRight(s"invalid multiline mode: '${mode0.getOrElse("")}'")
      start <- start0.filter(_.nonEmpty).orElse(preset.flatMap(_.startPattern))
        .toRight("multiline start-pattern is required")
      cond <- cond0.filter(_.nonEmpty).orElse(preset.map(_.condPattern))
        .toRight("multiline condition-pattern is required")
      ms <- tout.filter(_.nonEmpty) match {
        case Some(t) => parseDuration(t).left.map(e => s"multiline timeout: $e")
        case None => Right(if (java) MultilineSpec.JavaTimeoutMs else 0L)
      }
      _ <- if (ms > 0) Right(()) else Left("multiline timeout must be > 0")
    } yield Some(MultilineSpec(mode, cond, Some(start)))

  private val sinkKey = ("^sink\\.([^.]+)\\.(" + sinkKeys.mkString("|") + ")$").r

  /** `[sink.<name>]` sections, in first-appearance order; no section ⇒ the
    * default console sink (config.go DefaultConfig).
    */
  private def sinkRules(kvs: Seq[(String, Value)], lk: Lookup): Either[String, Seq[SinkRule]] = {
    val names = kvs.collect { case (sinkKey(name, _), _) if name != "labels" => name }.distinct
    if (names.isEmpty) return Right(Defaults.sinks)
    val out = mutable.ArrayBuffer.empty[SinkRule]
    for (n <- names) {
      val base = SinkRule(n)
      val rule = for {
        kind <- lk.str(s"sink.$n.type").or(base.kind)
        inc <- lk.arr(s"sink.$n.include").or(base.include)
        exc <- lk.arr(s"sink.$n.exclude").or(base.exclude)
        rej <- lk.arr(s"sink.$n.reject-where").or(base.rejectWhere)
        // wire endpoint surface (opensearch.go:26 url/index/user/pass;
        // clickhouse.go:26 addr/database/table/user/pass): the OS index or
        // the CH [db.]table collapse into SinkRule.target
        url <- lk.str(s"sink.$n.url")
        index <- lk.str(s"sink.$n.index")
        table <- lk.str(s"sink.$n.table")
        database <- lk.str(s"sink.$n.database")
        user <- lk.str(s"sink.$n.user").or(base.user)
        pass <- lk.str(s"sink.$n.password").or(base.pass)
      } yield {
        val target =
          if (kind != "clickhouse") index.getOrElse(base.target)
          else (table, database) match {
            case (Some(t), Some(db)) if t.nonEmpty && db.nonEmpty && !t.contains(".") =>
              s"$db.$t"
            case _ => table.getOrElse(base.target)
          }
        SinkRule(n, inc, exc, rej, kind, url.filter(_.nonEmpty), target, user, pass)
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
          case Right(_) => return Left("nested arrays are not supported") // an A
          case Left(e) => return Left(e)
        }
        Right(A(vals.toSeq))
      }
    }
    else if (s == "true") Right(B(true))
    else if (s == "false") Right(B(false))
    else s.toLongOption.map(I(_): Value)
      // bare floats (e.g. dedup threshold = 0.7) are a typed variant: only
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
