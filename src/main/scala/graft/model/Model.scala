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

/** A turn after the grok/regex parse stage (reference parser outputs:
  * pkg/parser/audit/audit.go:23-30 shape, generalized).
  */
final case class ParsedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp,
    verb: String,              // leading verb: CALL | INFO | ask | ""
    dur_ms: Option[Long],      // CALL ... dur=<n>ms
    status: Option[String],    // CALL ... status=<ok|err>
    kv: Map[String, String]    // quoted key=value fields (audit.go:82-147 semantics)
)

/** One lineage checkpoint row. Plays the role of freader's SQLite offsets row
  * (reference: internal/store/migrations/00001_create_table_offsets.sql —
  * offsets(id, strategy, path, offset, created_at, updated_at)).
  *
  * - `partition_id`  ≈ file id (here: a conversation bucket)
  * - `watermark`     ≈ byte offset (here: max committed turn_seq in the bucket)
  * - `content_hash`  ≈ file fingerprint (internal/file_tracker/fingerprint.go:27-53):
  *                     recomputed at resume; mismatch → reprocess from scratch,
  *                     mirroring the fingerprint-mismatch reopen
  *                     (internal/tailer/tail_reader.go:95-106).
  */
final case class LineageRow(
    run_id: String,
    snapshot_id: Long,
    partition_id: Int,
    sink: String,
    rows_delivered: Long,
    content_hash: String,
    committed_at: Timestamp
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
    * timeout 500ms — the timeout pairs with the streaming idle flush).
    */
  val Java: MultilineSpec = MultilineSpec(
    MultilineMode.ContinueThrough,
    "^(\\s|at\\s|Caused by:)",
    Some("^(ERROR|WARN|INFO|Exception)"))

  /** The preset's timeout (config.go:117-119), for the streaming flush. */
  val JavaTimeoutMs: Long = 500L
}

/** Engine configuration, the analogue of the reference's nested Config
  * (internal/collector/config.go:17-32 + cmd/freader/config.go:41-52).
  * `validate()` mirrors Config.Validate strictness (config.go:190-237).
  */
final case class PipelineConfig(
    separator: String = "\n",
    multiline: Option[MultilineSpec] = None,
    sinks: Seq[SinkRule] = Seq(SinkRule("console")),
    saltBuckets: Int = 16,
    lineagePartitions: Int = 32,
    checkpointDir: Option[String] = None,
    /** Path include patterns over manifest/data-file paths — S3 semantics
      * of internal/watcher/watcher.go:213-275 (Go filepath.Match globs,
      * broad-dir vs specific includes). Empty ⇒ admit all.
      */
    include: Seq[String] = Nil,
    /** Path exclude patterns (basename or full path, watcher.go:267-275). */
    exclude: Seq[String] = Nil,
    /** Multiline idle-flush timeout (multline_reader.go:21,97) — consumed
      * by the streaming flavor; carried from config for validation parity.
      */
    multilineTimeoutMs: Option[Long] = None,
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
    fingerprintSize: Int = 64 * 1024,
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
    /** Optional sizing surface for the sketch operators
      * ([[graft.operators.Frequency]] d×w count-min,
      * [[graft.operators.Cardinality]] 2^p-register HLL) — an engine-side
      * extension: the operators take parameters, this is where a campaign
      * configures them, with saturation validation (a 4×1024 CMS drowns on
      * a 100 TB vocabulary — see [[SketchSpec.validate]]).
      */
    sketch: Option[SketchSpec] = None,
    /** Optional parameter surface for the curation-analytics operators
      * ([[graft.operators.Quantile]] sampling + MAD gate,
      * [[graft.operators.Dedup]] winnowing/CDC knobs,
      * [[graft.operators.Search]] BM25,
      * [[graft.operators.Conversations]] salted-fingerprint bucketing) —
      * engine-side extension; the operators take parameters, this is
      * where a campaign pins them once with range validation
      * ([[CurationSpec.validate]]).
      */
    curation: Option[CurationSpec] = None,
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
  def validate(
      isDir: String => Boolean = graft.operators.PathFilter.localIsDir
  ): Either[String, PipelineConfig] =
    if (separator.isEmpty) Left("separator must be non-empty")
    else if (sinks.isEmpty) Left("at least one sink is required")
    else if (sinks.map(_.name).distinct.size != sinks.size)
      Left("sink names must be unique")
    else if (saltBuckets < 1) Left("saltBuckets must be >= 1")
    else if (lineagePartitions < 1) Left("lineagePartitions must be >= 1")
    // the watcher fingerprint matrix (internal/watcher/config.go:21-42)
    else if (!Set("checksum", "deviceAndInode", "checksumSeparator")
      .contains(fingerprintStrategy))
      Left(s"unsupported fingerprint strategy: $fingerprintStrategy")
    else if (fingerprintStrategy != "deviceAndInode" && fingerprintSize <= 0)
      Left("fingerprint size must be greater than 0")
    else if (include.nonEmpty &&
      graft.operators.PathFilter.validateRoots(include, isDir).isLeft)
      Left(graft.operators.PathFilter.validateRoots(include, isDir)
        .left.getOrElse(""))
    // wire-config completeness: the reference's New() preconditions
    // (opensearch.go:26-28, clickhouse.go:27-29) — a half-configured wire
    // sink is a config error, not a silent fallback to modeled delivery
    else if (sinks.exists(s => s.kind == "opensearch" &&
      (s.url.isDefined != s.target.nonEmpty)))
      Left("opensearch url and index are required")
    else if (sinks.exists(s => s.kind == "clickhouse" &&
      s.url.isDefined && s.target.isEmpty))
      Left("clickhouse addr and table are required")
    else if (sinks.exists(s => s.url.isDefined &&
      !Set("opensearch", "clickhouse").contains(s.kind)))
      Left("sink url is only supported for opensearch/clickhouse kinds")
    // the ClickHouse target is interpolated into an INSERT statement —
    // reject anything that isn't a plain [db.]table identifier so a
    // malformed or hostile config value can't smuggle SQL to the endpoint
    // (HttpSink additionally backtick-quotes the parts)
    else if (sinks.exists(s => s.kind == "clickhouse" && s.url.isDefined &&
      !s.target.matches("[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)?")))
      Left("clickhouse table must be a [db.]table identifier " +
        "([A-Za-z0-9_] parts)")
    else if (batchSize < 1) Left("sink.batch-size must be > 0")
    else if (batchIntervalMs < 1) Left("sink.batch-interval must be > 0")
    else if (batchRetries < 0) Left("sink.retries must be >= 0")
    else {
      val dv = dedup.map(_.validate().map(_ => ())).getOrElse(Right(()))
      val sv = sketch.map(_.validate().map(_ => ())).getOrElse(Right(()))
      val cv = curation.map(_.validate().map(_ => ())).getOrElse(Right(()))
      dv.flatMap(_ => sv).flatMap(_ => cv).map(_ => this)
    }
}

/** Sizing of the sketch operators ([[PipelineConfig.sketch]]): count-min
  * depth×width and HLL precision, with the saturation check a 100 TB
  * campaign needs BEFORE burning a pass. Sizing rules (documented in
  * COVERAGE.md):
  *
  *  - CMS point estimates over-count by ≈ the collision mass landing in a
  *    counter; with n distinct keys the average load is n/w keys per
  *    counter, and past ~64 the min-over-d rows is dominated by collision
  *    mass rather than the item — so when `expectedDistinct` is declared,
  *    `cmsWidth >= expectedDistinct / 64` is REQUIRED (choose w ≈ e/ε for
  *    a target additive error of ε·N to be safe).
  *  - HLL standard error is 1.04/√(2^p) regardless of n (no n-dependent
  *    saturation); p ∈ [7, 16] spans 2.9% down to 0.4%.
  */
final case class SketchSpec(
    cmsDepth: Int = 4,
    cmsWidth: Int = 1024,
    hllP: Int = 8,
    /** Declared scale of the keyed domain (distinct shingles / urls /
      * tokens expected). None skips the saturation check.
      */
    expectedDistinct: Option[Long] = None) {
  def validate(): Either[String, SketchSpec] =
    if (cmsDepth < 1 || cmsDepth > 16)
      Left("sketch cms-depth must be in [1, 16]")
    else if (cmsWidth < 2) Left("sketch cms-width must be >= 2")
    else if (hllP < 7 || hllP > 16) Left("sketch hll-p must be in [7, 16]")
    else if (expectedDistinct.exists(_ < 1))
      Left("sketch expected-distinct must be >= 1")
    else expectedDistinct match {
      case Some(n) if n > cmsWidth.toLong * 64 =>
        Left(s"sketch cms-width $cmsWidth saturates at $n expected distinct " +
          s"keys (~${n / cmsWidth} keys per counter; bound is 64): " +
          "size cms-width >= expected-distinct / 64")
      case _ => Right(this)
    }
}

/** Parameters of the curation-analytics operators
  * ([[PipelineConfig.curation]]), each with its sizing rule:
  *
  *  - `quantileRate`: hash-sample rate for the quantile sketch — by DKW,
  *    m sampled rows bound the CDF error by ε ≈ √(ln(2/δ)/2m); pick
  *    rate = m/N for the N at hand (rate 1.0 = exact order statistics,
  *    and the sampling predicate short-circuits away).
  *  - `outlierK`: the MAD multiplier of the robust gate (3 ≈ the classic
  *    "3 sigma" under normality, where MAD·1.4826 ≈ σ).
  *  - `winnowK`/`winnowW`: detection floor is any shared span of
  *    `w + k − 1` tokens; expected index density 2/(w+1) of the full
  *    k-gram index — larger w = smaller index, longer guaranteed span.
  *  - `cdcWindow`/`cdcDivisor`: boundary when the window hash ≡ 0 mod
  *    divisor ⇒ expected chunk length ≈ divisor tokens.
  *  - `bm25K1`/`bm25B`: Robertson–Zaragoza saturation / length
  *    normalization (Lucene defaults 1.2 / 0.75).
  *  - `convBucketWidth`: salted-fingerprint range width — a conversation
  *    spreads over ceil(turns/width) tasks; width 4096 keeps per-bucket
  *    arrays comfortably in task memory while a 10M-turn conversation
  *    still fans out over ~2400 tasks.
  */
final case class CurationSpec(
    quantileRate: Double = 0.25,
    outlierK: Int = 3,
    winnowK: Int = 4,
    winnowW: Int = 4,
    cdcWindow: Int = 3,
    cdcDivisor: Long = 4L,
    bm25K1: Double = 1.2,
    bm25B: Double = 0.75,
    convBucketWidth: Int = 4096,
    /** Span-scrub block size (tokens): the duplicated-span removal grain
      * AND the short-span floor — spans shorter than `spanK` are never
      * treated as duplication evidence (Lee et al.'s minimum match
      * length), so 1 would scrub every repeated single token.
      */
    spanK: Int = 8,
    /** Temperature-mix token budget as a permille of the corpus. */
    mixBudgetPermille: Int = 500,
    /** Add-α for the CCNet bigram model; NaN fails the > 0 check. */
    lmAlpha: Double = 0.1,
    /** DSIR hashed-feature buckets — sizes the count tables; too few
      * buckets alias unrelated tokens into one importance estimate.
      */
    dsirBuckets: Int = 8192,
    /** Add-α for the DSIR bucket counts. */
    dsirAlpha: Double = 0.5,
    /** PMI min pair count: below it, PMI is noise (Church & Hanks). */
    pmiMinCount: Long = 5L,
    /** Zipf-fit rank depth. */
    zipfK: Int = 100) {
  def validate(): Either[String, CurationSpec] =
    if (quantileRate <= 0.0 || quantileRate > 1.0)
      Left("curation quantile-rate must be in (0, 1]")
    else if (outlierK < 1) Left("curation outlier-k must be >= 1")
    else if (winnowK < 1) Left("curation winnow-k must be >= 1")
    else if (winnowW < 1) Left("curation winnow-w must be >= 1")
    else if (cdcWindow < 1) Left("curation cdc-window must be >= 1")
    else if (cdcDivisor < 2) Left("curation cdc-divisor must be >= 2")
    else if (!(bm25K1 > 0.0)) Left("curation bm25-k1 must be > 0")
    else if (bm25B < 0.0 || bm25B > 1.0)
      Left("curation bm25-b must be in [0, 1]")
    else if (convBucketWidth < 1)
      Left("curation conv-bucket-width must be >= 1")
    else if (spanK < 2) Left("curation span-k must be >= 2")
    else if (mixBudgetPermille < 0 || mixBudgetPermille > 1000)
      Left("curation mix-budget-permille must be in [0, 1000]")
    else if (!(lmAlpha > 0.0)) Left("curation lm-alpha must be > 0")
    else if (dsirBuckets < 16)
      Left("curation dsir-buckets must be >= 16")
    else if (!(dsirAlpha > 0.0)) Left("curation dsir-alpha must be > 0")
    else if (pmiMinCount < 1) Left("curation pmi-min-count must be >= 1")
    else if (zipfK < 2) Left("curation zipf-k must be >= 2")
    else Right(this)
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
    threshold: Double = 0.8,
    ngram: Int = graft.operators.Dedup.StoreNgram,
    bands: Int = graft.operators.Dedup.StoreBands,
    rowsPerBand: Int = graft.operators.Dedup.StoreRowsPerBand,
    /** Rewrite the store on file invalidation, dropping hashes whose only
      * provenance was the invalidated file's old content — the analogue of
      * freader's offset Delete on source removal (collector.go:206-214):
      * content no sink holds any more must become deliverable again.
      */
    retractOnInvalidate: Boolean = true) {
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
