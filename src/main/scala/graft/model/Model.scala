package graft.model

import java.sql.Timestamp

/** Core data model for the graft engine.
  *
  * The primary input is a table of multi-turn agent transcripts with exactly
  * the shape of BASELINE.json `input_hint`:
  * `(conv_id string, turn_idx int, role string, text string, tool string, ts timestamp)`.
  *
  * A `Turn` plays the role of the reference's `LineEvent`
  * (reference: internal/collector/config.go:11-15 — {Line, File, Ts}):
  * `text` is the line, `conv_id` is the provenance (file), `ts` the event time,
  * and `turn_idx` is the in-file byte-order position (offset analogue).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** Routing rule: a named sink with include/exclude substring predicates,
  * the reference's sink filter semantics verbatim
  * (cmd/freader/sink/common/filter.go:11-30):
  * include = OR of contains (empty ⇒ allow all); exclude = AND of NOT contains.
  */
final case class SinkRule(
    name: String,
    include: Seq[String] = Nil,
    exclude: Seq[String] = Nil,
    /** Rows the remote REJECTS after the filter admitted them — the batch
      * model of per-item bulk errors (opensearch.go:123-138). Substring
      * predicates (OR) keep the outcome deterministic and reproducible;
      * a real remote adapter would substitute actual per-item responses.
      * Rejected rows are attempted, counted as failed, and not delivered.
      */
    rejectWhere: Seq[String] = Nil,
    /** Sink flavor, the reference's sink.type (cmd/freader/config.go:192-196
      * validation set + this engine's native "parquet"). Delivery always
      * writes the row shape the flavor models (K5/K6 shapes live in
      * Pipeline/Route); the kind is validated config surface.
      */
    kind: String = "parquet",
    /** Wire endpoint base URL. When set on an `opensearch` or `clickhouse`
      * sink, delivery additionally POSTs the committed rows over HTTP —
      * OpenSearch `_bulk` NDJSON (opensearch.go:91-138) or the ClickHouse
      * HTTP interface `INSERT ... FORMAT JSONEachRow` (clickhouse.go:36-44
      * HTTP protocol branch) — with per-item NumFailed accounting feeding
      * the lineage rows. Unset ⇒ the modeled row-shape delivery only.
      */
    url: Option[String] = None,
    /** Wire target: the OpenSearch index, or the ClickHouse `[db.]table`. */
    target: String = "",
    /** Basic-auth credentials for the wire endpoint (osclient.Config
      * Username/Password; ClickHouse HTTP accepts basic auth).
      */
    user: String = "",
    pass: String = ""
)

/** Multiline assembly mode — the reference's four modes
  * (internal/tailer/multline_reader.go:10-15, README.md:147-151).
  */
sealed trait MultilineMode
object MultilineMode {
  /** Non-matching line is included in the record, then the record is emitted. */
  case object ContinuePast    extends MultilineMode
  /** Matching lines continue the record; a non-matching line closes it. */
  case object ContinueThrough extends MultilineMode
  /** A matching line closes the previous record and starts a new one. */
  case object HaltBefore      extends MultilineMode
  /** A matching line is included in the record and emits it immediately. */
  case object HaltWith        extends MultilineMode
}

/** Multiline spec (reference: internal/tailer/multline_reader.go:17-35). */
final case class MultilineSpec(
    mode: MultilineMode,
    condPattern: String,
    startPattern: Option[String] = None
)

object MultilineSpec {
  /** The Java stack-trace preset, patterns verbatim from the reference's
    * config loader (cmd/freader/config.go:105-120: mode continueThrough,
    * start `^(ERROR|WARN|INFO|Exception)`, cond `^(\s|at\s|Caused by:)`,
    * timeout 500ms).
    */
  val Java: MultilineSpec = MultilineSpec(
    MultilineMode.ContinueThrough,
    "^(\\s|at\\s|Caused by:)",
    Some("^(ERROR|WARN|INFO|Exception)"))

  /** The preset's timeout (config.go:117-119): the config loader's
    * `collector.multiline.timeout` when `java = true` leaves it unset.
    */
  val JavaTimeoutMs: Long = 500L
}

/** Engine configuration, the analogue of the reference's nested Config
  * (internal/collector/config.go:17-32 + cmd/freader/config.go:41-52).
  * `validate()` mirrors Config.Validate strictness (config.go:190-237).
  */
final case class PipelineConfig(
    multiline: Option[MultilineSpec] = None,
    /** Default: the reference's one console sink (config.go DefaultConfig). */
    sinks: Seq[SinkRule] = Seq(SinkRule("console", kind = "console")),
    /** Path include patterns over manifest/data-file paths — S3 semantics
      * of internal/watcher/watcher.go:213-275 (Go filepath.Match globs,
      * broad-dir vs specific includes). Empty ⇒ admit all.
      */
    include: Seq[String] = Nil,
    /** Path exclude patterns (basename or full path, watcher.go:267-275). */
    exclude: Seq[String] = Nil,
    /** File fingerprint strategy (internal/watcher/config.go:21-42 matrix:
      * checksum | deviceAndInode | checksumSeparator). `checksum` hashes the
      * first `fingerprintSize` bytes + length; `deviceAndInode` is storage
      * identity — here the file path, so content rewritten in place is NOT
      * detected (exactly the dev:ino trade-off). `checksumSeparator` frames
      * by separator, which applies to text rows (FingerprintStrategy
      * Column form); at the snapshot-file layer (parquet, binary) it maps
      * to `checksum` — documented divergence.
      */
    fingerprintStrategy: String = "checksum",
    /** Prefix bytes for checksum strategies. The reference default is 64
      * (suits log lines, config.go DefaultConfig); data files here are
      * parquet, whose first bytes are format-similar across files, so the
      * engine default is 64 KiB (+ length always mixed in).
      */
    fingerprintSize: Int = graft.checkpoint.Fingerprint.DefaultPrefixBytes,
    /** Constant labels stamped on every delivered row (SinkConfig.Labels,
      * cmd/freader/config.go DefaultConfig; applied at delivery like the
      * ClickHouse/OpenSearch label maps).
      */
    labels: Map[String, String] = Map.empty,
    /** Optional incremental content-dedup stage between assembly and
      * delivery: rows whose content any earlier run delivered are dropped
      * before routing, against the persisted store at
      * [[DedupStageSpec.storeDir]]. An engine-side extension (the reference
      * delivers duplicates; a training-data pipeline must not) — the
      * campaign-loop product face of
      * [[graft.operators.Dedup.incrementalExactStaged]] /
      * `incrementalMinhashStaged`.
      */
    dedup: Option[DedupStageSpec] = None,
    /** `/metrics` endpoint address when `prometheus.enable` is set
      * (cmd/freader/main.go:69-84; prometheus.addr required by the
      * validation matrix, config.go:227-229). None ⇒ no endpoint.
      */
    prometheusAddr: Option[String] = None,
    /** Wire-sink flush size (sink.batch-size, config.go:198-200) — CONSUMED
      * by the HTTP bulk delivery (rows per `_bulk` / INSERT POST); the
      * parquet/file flavors remain lossless-batch (COVERAGE.md §2.6).
      */
    batchSize: Int = 200,
    /** Wire-sink flush interval (sink.batch-interval) — BEST-EFFORT: an
      * open partial batch flushes when this much time passed since the
      * last flush, evaluated as rows arrive and at partition end. Unlike
      * the reference Batcher's timer goroutine (sink/common/batch.go),
      * there is no wall-clock timer thread, so a partial batch behind a
      * stalled upstream iterator sits until the next row or the iterator
      * ends — in a batch engine the iterator always ends, so the bound
      * that matters (no partial batch survives the task) holds; under
      * saturation the size trigger dominates in both systems.
      */
    batchIntervalMs: Long = 2000L,
    /** Bounded re-POSTs of a wire batch whose whole delivery failed
      * transiently (transport error / 5xx / 429) before its rows count as
      * failed. 0 = the reference's log-and-drop (opensearch.go:62-66).
      * Never re-POSTs a batch the remote answered 2xx.
      */
    batchRetries: Int = 0
) {
  /** The one check of a config, whether it was loaded or built: the
    * reference's Config.Validate matrix (config.go:190-237 +
    * multline_reader.go:37-48) and the collector-side checks. Yields the
    * first fault in rule order.
    */
  def validate(
      isDir: String => Boolean =
        graft.operators.PathFilter.isDir(new org.apache.hadoop.conf.Configuration())
  ): Either[String, PipelineConfig] = Seq(
    Option.when(sinks.isEmpty)("at least one sink is required"),
    Option.when(sinks.map(_.name).distinct.size != sinks.size)("sink names must be unique"),
    // Go's net.Listen rejects a port-less address at startup; checking it
    // here surfaces it at config time instead of as a bind failure mid-run
    prometheusAddr.flatMap(graft.metrics.Metrics.listenAddr(_).left.toOption)
      .map(e => s"prometheus.addr: $e"),
    // a bad pattern fails here, not inside a Spark task mid-run
    multiline.flatMap(m => (m.startPattern.map("start-pattern" -> _) ++
      Seq("condition-pattern" -> m.condPattern)).flatMap { case (what, re) =>
        scala.util.Try(java.util.regex.Pattern.compile(re)).failed.toOption
          .map(e => s"invalid $what regex: ${e.getMessage}")
      }.headOption),
    // the sink.type whitelist (config.go:192-196) + the native "parquet"
    sinks.map(_.kind).find(!Set("console", "file", "clickhouse", "opensearch", "parquet")
      .contains(_)).map(k => s"invalid sink.type: $k"),
    // the watcher fingerprint matrix (internal/watcher/config.go:21-42)
    Option.when(!Set("checksum", "deviceAndInode", "checksumSeparator")
      .contains(fingerprintStrategy))(s"unsupported fingerprint strategy: $fingerprintStrategy"),
    Option.when(fingerprintStrategy != "deviceAndInode" && fingerprintSize <= 0)(
      "fingerprint size must be greater than 0"),
    graft.operators.PathFilter.validateRoots(include, isDir).left.toOption,
    // wire-config completeness: the reference's New() preconditions
    // (opensearch.go:26-28, clickhouse.go:27-29) — a half-configured wire
    // sink is a config error, not a silent fallback to modeled delivery
    Option.when(sinks.exists(s => s.kind == "opensearch" &&
      (s.url.isDefined != s.target.nonEmpty)))("opensearch url and index are required"),
    Option.when(sinks.exists(s => s.kind == "clickhouse" && s.url.isDefined &&
      s.target.isEmpty))("clickhouse addr and table are required"),
    Option.when(sinks.exists(s => s.url.isDefined &&
      !Set("opensearch", "clickhouse").contains(s.kind)))(
      "sink url is only supported for opensearch/clickhouse kinds"),
    // the ClickHouse target is interpolated into an INSERT statement —
    // reject anything that isn't a plain [db.]table identifier so a
    // malformed or hostile config value can't smuggle SQL to the endpoint
    // (HttpSink additionally backtick-quotes the parts)
    Option.when(sinks.exists(s => s.kind == "clickhouse" && s.url.isDefined &&
      !s.target.matches("[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)?")))(
      "clickhouse table must be a [db.]table identifier ([A-Za-z0-9_] parts)"),
    Option.when(batchSize < 1)("sink.batch-size must be > 0"),
    Option.when(batchIntervalMs < 1)("sink.batch-interval must be > 0"),
    Option.when(batchRetries < 0)("sink.retries must be >= 0"),
    dedup.flatMap(_.validate().left.toOption)
  ).flatten.headOption.toLeft(this)
}

/** Configuration of the optional incremental dedup stage
  * ([[PipelineConfig.dedup]]): `exact` drops rows whose exact content an
  * earlier run delivered (8-byte hash store); `minhash` additionally drops
  * near-duplicates via banded MinHash-LSH signatures (candidates-only
  * verification — the 100 TB path).
  */
final case class DedupStageSpec(
    mode: String,
    storeDir: String,
    threshold: Double = graft.operators.Dedup.StoreThreshold,
    ngram: Int = graft.operators.Dedup.StoreNgram,
    bands: Int = graft.operators.Dedup.StoreBands,
    rowsPerBand: Int = graft.operators.Dedup.StoreRowsPerBand) {
  def validate(): Either[String, DedupStageSpec] =
    if (!Set("exact", "minhash").contains(mode))
      Left(s"unsupported dedup mode: $mode (exact | minhash)")
    else if (storeDir.isEmpty) Left("dedup store-dir is required")
    // NaN fails BOTH ordered comparisons below, so it must be rejected
    // explicitly — a NaN threshold would make the minhash Jaccard filter
    // always-false and silently disable near-dup removal
    else if (threshold.isNaN || threshold <= 0.0 || threshold > 1.0)
      Left("dedup threshold must be in (0, 1]")
    else if (ngram < 1 || bands < 1 || rowsPerBand < 1)
      Left("dedup ngram/bands/rows-per-band must be >= 1")
    else Right(this)
}
