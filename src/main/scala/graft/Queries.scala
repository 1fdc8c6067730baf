package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checkpoint.FingerprintStrategy
import graft.functions.Hashing
import graft.model.{MultilineMode, SinkRule}
import graft.operators.{AsOf, Cardinality, Conversations, CorpusLm, Dedup, Drift, Enrich, Frequency, Mixing, Multimodal, Parse, Quantile, Route, Segments, Similarity, TextAnalysis}
import graft.sources.Transcripts

/** The operator-level query inventory (SURVEY.md §2) with DuckDB oracles.
  *
  * Each entry is one operator exercised end-to-end over the driver's sf
  * parquet tables; the paired SQL in [[oracleSql]] derives the expected
  * result independently (usually analytically from `event_id`, not by
  * re-running the same expressions), so a hash match is meaningful.
  */
object Queries {

  private val cte = Transcripts.eventsCte

  /** Router rules used by the routing/accounting queries and tests. */
  val demoRules: Seq[SinkRule] = Seq(
    SinkRule("all"),
    SinkRule("errors", include = Seq("status=err")),
    SinkRule("clean", exclude = Seq("status=err", "INFO")))

  // ------------------------------------------------------------------ spark side

  private def tx(s: SparkSession, dir: String): DataFrame = Transcripts.fromEvents(s, dir)
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Shared decontamination fixture (q_decontaminate{,_score,_bloom}):
    * docs with doc_id % 97 == 0 play the benchmark; planted near-copies
    * (+300000, "prefix words " prefix) guarantee hits at every sf.
    * Returns (bench = distinct 8-gram hashes as `h`,
    * trainSets = (id, hs) hashed-shingle sets of the non-benchmark corpus).
    * The DuckDB twin of this plant lives in the corresponding oracle CTEs —
    * change BOTH or the oracle gate fails.
    */
  private def decontFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = documents(s, dir).select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") % 97 === 0 && col("doc_id") < 300)
      .select((col("doc_id") + 300000).as("doc_id"),
        concat(lit("prefix words "), col("text")).as("text"))
    val corpus = d.unionByName(planted)
    // hashed shingles end to end: tokens sha60-hashed once, 8-grams are
    // integer folds, the join key is 8 bytes — no n-gram string is ever
    // materialized (collision odds ~n²/2^31; the oracle hashes
    // identically, so decisions cannot diverge)
    val bench = Dedup.shingleHashSets(
        corpus.filter(col("doc_id") % 97 === 0), "doc_id", "text", 8)
      .select(explode(col("hs")).as("h")).distinct()
    val trainSets = Dedup.shingleHashSets(
        corpus.filter(col("doc_id") % 97 =!= 0), "doc_id", "text", 8)
    (bench, trainSets)
  }

  /** Synthetic auditd line per event — exercises the audit header parse. */
  private def auditLines(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    events(s, dir).select(id, concat(
      lit("type=SYSCALL msg=audit("),
      (lit(1700000000L) + id % 100000).cast("string"),
      lit("."), (id % 1000).cast("string"),
      lit(":"), id.cast("string"),
      lit("): arch=c000003e syscall=59 success="),
      when(id % 2 === 0, lit("yes")).otherwise(lit("no")),
      lit(" exe=\"/usr/bin/app with space\"")).as("line"))
  }

  /** Synthetic dmesg line per event — exercises the dmesg parse heuristics. */
  private def dmesgLines(s: SparkSession, dir: String): DataFrame = {
    val id = col("event_id")
    val msg = when(id % 5 === 0, lit("usb 1-1: new high-speed USB device"))
      .when(id % 5 === 1, lit("Linux version 6.1.0-generic build"))
      .when(id % 5 === 2, lit("systemd[1]: Started Session"))
      .when(id % 5 === 3, lit("docker daemon started"))
      .otherwise(lit("zzz unknown message"))
    events(s, dir).select(id, concat(
      lit("<"), (id % 64).cast("string"), lit(">["),
      (id % 100000).cast("string"), lit("."),
      lpad((id % 1000000).cast("string"), 6, "0"),
      lit("] "), msg).as("line"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_transcripts" -> ((s, dir) => tx(s, dir)),

    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag").agg(sum("l_quantity").as("sum_qty"))),

    // P4-shaped grok over the transcript text column: the native
    // parse_turn every run executes, against the oracle's regex grok
    "q_parse_grok" -> ((s, dir) =>
      Parse.parseTurns(tx(s, dir)).select(col("conv_id"), col("turn_idx"),
        col("verb"), col("tool_x"), col("dur_ms"), col("status"),
        try_element_at(col("kv"), lit("note")).as("note"))),

    // P5: quoted key=value tokenizer (custom Catalyst expression), exploded
    "q_parse_kv" -> ((s, dir) =>
      Parse.parseTurns(tx(s, dir))
        .where(col("verb") === "CALL")
        .select(col("conv_id"), col("turn_idx"), explode(col("kv")).as(Seq("kv_key", "kv_value")))),

    // P4 proper: auditd header + fields
    "q_audit_parse" -> ((s, dir) =>
      Parse.auditParse(auditLines(s, dir), "line")
        .select(col("event_id"), col("a_type"), col("epoch_sec"), col("epoch_nsec"),
          col("serial"),
          try_element_at(col("fields"), lit("success")).as("success"),
          try_element_at(col("fields"), lit("exe")).as("exe"))),

    // P7: dmesg bit-split + subsystem heuristics
    "q_dmesg_parse" -> ((s, dir) =>
      Parse.dmesgParse(dmesgLines(s, dir), "line")
        .select(col("event_id"), col("priority"), col("facility"), col("subsystem"),
          col("priority_name"), col("facility_name"), col("ts_rel"), col("message"))),

    // P9: Go-order dynamic type detection
    "q_csv_typedetect" -> ((s, dir) => {
      val id = col("event_id")
      val v = when(id % 10 === 0, lit("1"))
        .when(id % 10 === 1, lit("true"))
        .when(id % 10 === 2, lit("off"))
        .when(id % 10 === 3, lit("42"))
        .when(id % 10 === 4, lit("-7"))
        .when(id % 10 === 5, lit("3.14"))
        .when(id % 10 === 6, lit("1e3"))
        .when(id % 10 === 7, lit("2024-01-02 03:04:05"))
        .when(id % 10 === 8, lit("hello"))
        .otherwise(lit(""))
      events(s, dir).select(id, v.as("value"), Parse.detectTypeKind(v).as("kind"))
    }),

    // P6: proper quoted-CSV single-line split
    "q_csv_fields" -> ((s, dir) => {
      val id = col("event_id")
      val line = concat(lit("v"), id.cast("string"), lit(",\"x, y\",z"))
      val f = Parse.csvFields(line, 3)
      events(s, dir).select(id,
        f.getField("field_1").as("field_1"),
        f.getField("field_2").as("field_2"),
        f.getField("field_3").as("field_3"))
    }),

    // P6+P9: typed CSV table — per-column typed structs (Go precedence,
    // "1"→bool) + the configured `<field>_parsed` timestamp companion
    "q_csv_typed" -> ((s, dir) => {
      val id = col("event_id")
      val flag = when(id % 7 === 0, lit("true")).when(id % 7 === 1, lit("off"))
        .when(id % 7 === 2, lit("1")).when(id % 7 === 3, lit("42"))
        .when(id % 7 === 4, lit("-7")).when(id % 7 === 5, lit("3.9"))
        .otherwise(lit("hello"))
      // %3==0 parses ONLY via the configured (non-autodetect) layout →
      // string kind + _parsed set; %3==1 autodetects as timestamp → ts_v
      // set, _parsed GATED OFF (the csv.go:119-127 type-assert quirk)
      val tsv = when(id % 3 === 0, lit("02.01.2024 03:04"))
        .when(id % 3 === 1, lit("2024/01/02 03:04:05")).otherwise(lit("n/a"))
      val data = events(s, dir).select(id.as("ord"),
        concat(id.cast("string"), lit(","), flag, lit(","), tsv, lit(",\"x, y\"")).as("line"))
      val header = s.range(1).select(lit(-1L).as("ord"), lit("id,flag,ts,note").as("line"))
      val t = Parse.csvTableTyped(header.unionByName(data), "line", "ord",
        timestampField = "ts", timestampFormat = "dd.MM.yyyy HH:mm")
      t.select(col("ord").as("event_id"), col("id"),
        col("flag_typed.kind").as("flag_kind"),
        col("flag_typed.bool_v").as("flag_bool"),
        col("flag_typed.int_v").as("flag_int"),
        col("flag_typed.float_v").as("flag_float"),
        col("flag_typed.str_v").as("flag_str"),
        col("ts_typed.kind").as("ts_kind"),
        col("ts_typed.ts_v").as("ts_value"),
        col("ts_parsed"), col("note"))
    }),

    // A1 haltBefore — header lines start records. The oracle derives the
    // records through a boundary window, independently of the FSM
    "q_multiline_haltbefore" -> ((s, dir) =>
      Segments.assembleFsm(tx(s, dir),
        graft.model.MultilineSpec(MultilineMode.HaltBefore, "^(CALL|INFO|ask)"))),

    // A1 continueThrough — non-matching lines start records; the oracle is
    // the same boundary window with the condition negated
    "q_multiline_through" -> ((s, dir) =>
      Segments.assembleFsm(tx(s, dir),
        graft.model.MultilineSpec(MultilineMode.ContinueThrough, "^(CALL|INFO|ask)"))),

    // A1 FSM (repartition+sortWithinPartitions+mapPartitions) in the same
    // mode and pattern as q_multiline_haltbefore, so it shares that oracle
    "q_multiline_fsm" -> ((s, dir) =>
      Segments.assembleFsm(tx(s, dir),
        graft.model.MultilineSpec(MultilineMode.HaltBefore, "^(CALL|INFO|ask)"))),

    // A1 continuePast — the closing (non-matching) line is ABSORBED into
    // the record, and the empty-buffer branch never closes
    // (multline_reader.go:147-169,177-187), so boundaries depend on
    // run-length parity and only the FSM computes them. The fixture makes
    // cond-matches arithmetically periodic (match ⟺ turn_idx%5 ∈ {0,1}:
    // runs of 3 non-matching lines), so the parity segmentation has the
    // closed form seg = 2·(t div 5) + [t mod 5 ≥ 3], derivable in DuckDB
    // without re-running any FSM: [5k,5k+1,5k+2] then [5k+3,5k+4].
    "q_multiline_continuepast" -> ((s, dir) => {
      val t = col("turn_idx")
      val line = when(t % 5 < 2, concat(lit("CONT "), t.cast("string")))
        .otherwise(concat(lit("data "), t.cast("string")))
      Segments.assembleFsm(
        tx(s, dir).select(col("conv_id"), col("turn_idx"), line.as("text")),
        graft.model.MultilineSpec(MultilineMode.ContinuePast, "^CONT"))
    }),

    // A1 haltWith — the matching line is absorbed and emits; a run of
    // matching lines on an empty buffer pairs up (multline_reader.go:247-256).
    // match ⟺ turn_idx%5 ∈ {2,3,4} gives the same closed form as above:
    // [5k,5k+1,5k+2] (closed by the first match) then [5k+3,5k+4].
    "q_multiline_haltwith" -> ((s, dir) => {
      val t = col("turn_idx")
      val line = when(t % 5 >= 2, concat(lit("HALT "), t.cast("string")))
        .otherwise(concat(lit("data "), t.cast("string")))
      Segments.assembleFsm(
        tx(s, dir).select(col("conv_id"), col("turn_idx"), line.as("text")),
        graft.model.MultilineSpec(MultilineMode.HaltWith, "^HALT"))
    }),

    // A1 StartPattern standalone emission (multline_reader.go:146-163,
    // 196-213): continueThrough where only START lines begin accumulation
    // and non-start non-cond lines emit standalone. Period-6 fixture:
    // t%6=0 → START, t%6∈{1,2} → indented continuation, t%6∈{3,4,5} →
    // stray standalone; seg = 4·(t div 6) + max(0, t mod 6 − 2).
    "q_multiline_startpattern" -> ((s, dir) => {
      val t = col("turn_idx")
      val line = when(t % 6 === 0, concat(lit("START "), t.cast("string")))
        .when(t % 6 <= 2, concat(lit("  cont "), t.cast("string")))
        .otherwise(concat(lit("stray "), t.cast("string")))
      Segments.assembleFsm(
        tx(s, dir).select(col("conv_id"), col("turn_idx"), line.as("text")),
        graft.model.MultilineSpec(MultilineMode.ContinueThrough, "^\\s",
          startPattern = Some("^START")))
    }),

    // J2: broadcast enrich against the tool/role dimension
    "q_enrich" -> ((s, dir) =>
      Enrich.enrich(tx(s, dir).filter(col("tool") =!= ""))
        .select("conv_id", "turn_idx", "tool", "tool_family", "tool_label", "host")),

    // P2: sink include/exclude substring filter
    "q_filter_substring" -> ((s, dir) =>
      Route.forSink(tx(s, dir),
        SinkRule("f", include = Seq("status=err", "ask"), exclude = Seq("note=\"lvl 4\"")))
        .select("conv_id", "turn_idx", "text")),

    // S3 proper: path-glob include/exclude over synthetic file paths —
    // globs present, so the broad "/data/logs/" include is ignored as a
    // filter (the specific-overrides-broad rule); oracle derives the
    // decision analytically from event_id, not from the glob machinery
    "q_path_filter" -> ((s, dir) => {
      val id = col("event_id")
      val path = concat(lit("/data/logs/app"), (id % 5).cast("string"),
        lit("/file_"), id.cast("string"),
        when(id % 4 === 0, lit(".log")).when(id % 4 === 1, lit(".txt"))
          .when(id % 4 === 2, lit(".json")).otherwise(lit(".tmp")))
      val spec = operators.PathFilter.compile(
        include = Seq("/data/logs/", "*.log", "file_1*.txt"),
        exclude = Seq("*3.log"),
        isDir = p => p == "/data/logs")
      events(s, dir).select(id, path.as("path"))
        .filter(operators.PathFilter.column(spec, col("path")))
    }),

    // K7: fan-out router — per-sink per-route-key delivered accounting
    "q_sink_counts" -> ((s, dir) =>
      Route.sinkCounts(Route.routed(tx(s, dir)), demoRules)),

    // A5/A7: accounting invariant inputs
    "q_blank_accounting" -> ((s, dir) => Route.accounting(tx(s, dir))),

    // O1: per-conversation turn counts (collector per-file accounting)
    "q_conv_turn_counts" -> ((s, dir) =>
      tx(s, dir).groupBy("conv_id")
        .agg(count(lit(1)).as("n_turns"), max("turn_idx").as("last_turn"))),

    // per-tool usage tallies (north-star aggregate)
    "q_tool_usage" -> ((s, dir) =>
      Enrich.enrich(Parse.parseTurns(tx(s, dir).filter(col("tool") =!= "")))
        .groupBy("tool_family")
        .agg(count(lit(1)).as("n_calls"), sum("dur_ms").as("total_dur_ms"),
          sum(when(col("status") === "err", 1L).otherwise(0L)).as("n_err"))),

    // S4: fingerprint strategies (checksum + checksumSeparator)
    "q_fingerprint" -> ((s, dir) =>
      documents(s, dir)
        .filter(length(col("text")) >= 64 && size(split(col("text"), " ")) > 3)
        .select(col("doc_id"),
          FingerprintStrategy.Checksum(64).column(col("text")).as("fp_checksum"),
          FingerprintStrategy.ChecksumSeparator(" ", 3).column(col("text")).as("fp_sep"))),

    // S8: separator split + explode (blob-ingestion parity)
    "q_split_explode" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))),

    // ------------------------------------------------ training-data operators

    // exact dedup: hash-groupBy, keep lowest id
    "q_dedup_exact" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val withCopies = d.unionByName(
        d.filter(col("doc_id") < 30)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      Dedup.exact(withCopies, "doc_id", "text")
    }),

    // n-gram Jaccard near-dup (exact all-pairs via inverted index)
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccard(nearDupFixture(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6)
        .select(col("a"), col("b"), TextAnalysis.r6(col("jaccard")).as("jaccard"))),

    // MinHash + banded LSH near-dup. This IS the engine path: one sha256
    // per shingle + affine integer mixes per permutation (Hashing), which
    // DuckDB reproduces exactly — no separate oracle variant any more.
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(nearDupFixture(s, dir), "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 2, threshold = 0.6)
        .select(col("a"), col("b"), TextAnalysis.r6(col("jaccard")).as("jaccard"))),

    // near-dup CLUSTERS: connected components over the verified LSH pair
    // graph — chains of copies collapse to one canonical minimum id (the
    // pairwise output under-removes A≈B≈C chains); converged min-labels
    // are unique, so the iterative Spark loop and DuckDB's recursive CTE
    // must agree exactly
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(nearDupFixture(s, dir), "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 2, threshold = 0.6)
        .select(col("id").as("doc_id"), col("cluster"), col("n_members"))),

    // kept as a query name: the same label-propagation clusters as
    // q_dedup_clusters, checked against the same recursive-CTE oracle
    "q_dedup_clusters_star" -> ((s, dir) =>
      Dedup.nearDupClusters(nearDupFixture(s, dir), "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 2, threshold = 0.6)
        .select(col("id").as("doc_id"), col("cluster"), col("n_members"))),

    // canonical-representative selection over the same clusters: keep the
    // LONGEST member of each near-dup family (tie → lowest id), mark the
    // rest for removal — the curation policy a bare min-id dedup gets
    // wrong (the arbitrary survivor may be the truncated copy). The
    // oracle closes the same pair graph recursively, then re-derives the
    // argmax pick per cluster independently.
    "q_dedup_canonical" -> ((s, dir) =>
      Dedup.canonicalRepresentatives(nearDupFixture(s, dir), "doc_id",
        "text", n = 3, bands = 4, rowsPerBand = 2, threshold = 0.6)
        .select(col("id").as("doc_id"), col("cluster"), col("text_len"),
          col("keep"))),

    // SimHash near-dup pairs (native expression, sha256-derived token hash
    // — the DuckDB oracle recomputes the identical 60-bit fingerprints)
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(nearDupFixture(s, dir), "doc_id", "text", maxHamming = 3)),

    // content-defined chunking: word-grain LBFS/rsync boundaries from a
    // window-hash mask (native cdc_chunks expression). The fixture plants
    // prefix-shifted copies — exactly the input fixed-width blocking
    // fails on — and the chunk hashes realign past the insertion.
    "q_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcChunks(cdcFixture(s, dir), "doc_id", "text", w = 3, d = 8L)),

    // chunk-level dedup accounting: per doc, chunks/tokens duplicated
    // under keep-first semantics — one shuffle on the 8-byte chunk hash
    "q_cdc_dedup" -> ((s, dir) =>
      Dedup.cdcDedup(cdcFixture(s, dir), "doc_id", "text", w = 3, d = 8L)),

    // exact duplicated-span REMOVAL (C4 span rule / ExactSubstr at fixed
    // 8-token block grain): corpus-wide keep-first on block content, the
    // losing occurrences deleted from their documents, text rebuilt from
    // the surviving blocks — the rewrite face of dedup (q_cdc_dedup only
    // accounts; this scrubs)
    "q_span_scrub" -> ((s, dir) =>
      Dedup.spanScrub(spanFixture(s, dir), "doc_id", "text", k = 8)),

    // cross-source duplication matrix: verified LSH near-dup pairs folded
    // over the source dimension — which corpora duplicate which, the
    // data-card facet a mixing recipe down-weights on. Planted copies map
    // back to their original doc's source.
    "q_source_dup_matrix" -> ((s, dir) => {
      val pairs = Dedup.minhashLsh(nearDupFixture(s, dir), "doc_id", "text",
          n = 3, bands = 4, rowsPerBand = 2, threshold = 0.6)
        .withColumn("a", when(col("a") >= 100000, col("a") - 100000).otherwise(col("a")))
        .withColumn("b", when(col("b") >= 100000, col("b") - 100000).otherwise(col("b")))
      Dedup.sourceDupMatrix(pairs,
        documents(s, dir).select(col("doc_id").as("id"), col("source")))
    }),

    // embedding cosine near-dup, LSH-band-blocked (no all-pairs join);
    // planted duplicates guarantee non-trivial pairs at every sf
    "q_emb_neardup" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val withDup = e.select(col("vec_id"), col("embedding")).unionByName(
        e.filter(col("vec_id") < 5)
          .select((col("vec_id") + 500000).as("vec_id"), col("embedding")))
      Dedup.embeddingNearDup(withDup, "vec_id", "embedding", minCosine = 0.9)
        .select(col("a"), col("b"), TextAnalysis.r6(col("cosine")).as("cosine"))
    }),

    // brute-force cosine top-k (exact ANN baseline)
    "q_knn_brute" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5)
    }),

    // LSH-bucketed ANN (scale path; recall vs brute force asserted in tests)
    "q_knn_lsh" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.lshKnn(e, e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, bands = 24, planesPerBand = 4)
    }),

    // IVF-bucketed ANN (deterministic seed quantizer; full DuckDB replica)
    "q_knn_ivf" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfKnn(e, e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, nCentroids = 8, nProbe = 4)
    }),

    // SemDeDup (Abbas et al. 2023): k-means clusters + within-cluster
    // ε-cosine pruning keeping each clique's least-central member — the
    // DECIDING twin of q_emb_neardup's pair report. Planted exact copies
    // (cosine 1.0, same cluster as their original) guarantee drops at
    // every sf; the original always survives its copy (equal centroid
    // cosine, lower id)
    "q_semdedup" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val withDup = e.select(col("vec_id"), col("embedding")).unionByName(
        e.filter(col("vec_id") < 5)
          .select((col("vec_id") + 500000).as("vec_id"), col("embedding")))
      Dedup.semDedup(withDup, "vec_id", "embedding", k = 8, iters = 2, eps = 0.92)
    }),

    // IVF over a Lloyd-refined quantizer (2 distributed k-means steps,
    // r6-rounded means) — the production fit, oracle = unrolled iterations
    "q_knn_ivf_kmeans" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfKnnKmeans(e, e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, nCentroids = 8, nProbe = 4, iters = 2)
    }),

    // ANN recall accounting: each approximate method's top-5 scored
    // against the brute-force top-5 — recall@k, the eval artifact an ANN
    // deployment is judged by; the brute side is 3 query rows so the
    // membership join broadcasts
    "q_knn_recall" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 3)
      val brute = Similarity.bruteForceKnn(e, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__in"))
      def tag(m: String, df: DataFrame): DataFrame =
        df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
      // ONE seed-quantizer collect shared by the ivf leg and the k-means
      // fit (both derive from the same deterministic first-8-rows seeds;
      // ivfKnn/ivfKnnKmeans would each re-collect them)
      val seeds = Similarity.seedCentroids(e, "vec_id", "embedding", 8)
      val ap = tag("lsh", Similarity.lshKnn(e, q, "vec_id", "embedding",
          k = 5, bands = 24, planesPerBand = 4))
        .unionByName(tag("ivf", Similarity.ivfKnnWith(seeds, e, q,
          "vec_id", "embedding", k = 5, nProbe = 4)))
        .unionByName(tag("ivf_kmeans", Similarity.ivfKnnWith(
          Similarity.kmeansFitFrom(seeds, e, "vec_id", "embedding", iters = 2),
          e, q, "vec_id", "embedding", k = 5, nProbe = 4)))
      ap.join(broadcast(brute), Seq("query_id", "neighbor_id"), "left")
        .groupBy("method", "query_id")
        .agg(count(lit(1)).as("n_returned"),
          sum(coalesce(col("__in"), lit(0))).cast("long").as("n_hit"))
        .select(col("method"), col("query_id"), col("n_returned"), col("n_hit"),
          TextAnalysis.r6(col("n_hit").cast("double") / 5.0).as("recall_at_5"))
    }),

    // packing efficiency report: q_pack_sequences aggregated per shard —
    // bins = ceil(total/2048) because the cumsum layout is gap-free; the
    // dataloader-facing waste accounting (fill_frac) a budget choice is
    // evaluated by
    "q_pack_report" -> ((s, dir) => {
      val budget = 2048L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      TextAnalysis.tokenCounts(documents(s, dir))
        .select(col("doc_id"), (col("doc_id") % 16).cast("int").as("shard"),
          col("bpe_est_tokens").cast("long").as("n"))
        .withColumn("start_tok", coalesce(sum("n").over(w), lit(0L)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
          sum(when(col("n") > 0 &&
              floor((col("start_tok") + col("n") - 1) / budget) >
                floor(col("start_tok") / budget), 1L).otherwise(0L))
            .as("n_straddles"))
        .withColumn("n_bins", expr(s"(n_tokens + ${budget - 1}) div $budget"))
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_bins"),
          col("n_straddles"),
          when(col("n_tokens") === 0L, lit(0.0))
            .otherwise(TextAnalysis.r6(col("n_tokens").cast("double")
              / (col("n_bins") * lit(budget.toDouble)))).as("fill_frac"))
    }),

    // BM25 lexical retrieval (Robertson–Zaragoza; the Lucene default):
    // top-10 docs for a 3-term query — the search face next to the ANN
    // family; every float step shares its operation order with the
    // oracle, and the only data-dependent float sum is the per-doc fold
    // over ≤3 term scores in alphabetical term order
    "q_bm25_search" -> ((s, dir) =>
      graft.operators.Search.bm25(documents(s, dir),
        Seq("table", "join", "window"), k1 = 1.2, b = 0.75, topK = 10)),

    // CCNet-style LM quality terciles (Wenzek et al. 2020): per-doc bits
    // under the corpus's own add-α bigram model, head/middle/tail per
    // language — the perplexity-bucketing stage of a curation pipeline
    "q_lm_bits" -> ((s, dir) =>
      CorpusLm.bigramBits(documents(s, dir), alpha = 0.1)),

    // DSIR importance resampling (Xie et al. 2023): hashed-unigram
    // log-likelihood ratio vs a curated target slice (sources src0-src3),
    // top-100 most target-like docs
    "q_dsir_select" -> ((s, dir) =>
      CorpusLm.dsirWeights(documents(s, dir),
        isTarget = col("source").isin("src0", "src1", "src2", "src3"),
        buckets = 8192, alpha = 0.5, topK = 100)),

    // per-doc unigram entropy (lexical diversity gate): micro-truncated
    // p·ln p terms summed order-free — exact integers, map-side combine
    "q_token_entropy" -> ((s, dir) =>
      CorpusLm.tokenEntropy(documents(s, dir))),

    // per-source KL from the corpus mix — the log-scale sibling of
    // q_corpus_drift's TVD (surprise, not mass), same micro-integer
    // discipline so the sum is partition-order-immune
    "q_source_kl" -> ((s, dir) =>
      graft.operators.Drift.klVsCorpus(documents(s, dir))),

    // PMI collocations (Church & Hanks 1990): top-50 adjacent-token pairs
    // by pointwise mutual information with a min-count floor — the
    // template/boilerplate phrase detector next to q_freq_sketch
    "q_pmi_collocations" -> ((s, dir) =>
      CorpusLm.pmiCollocations(documents(s, dir), minCount = 5, topK = 50)),

    // Zipf power-law fit + hapax accounting — the corpus-health row of a
    // data card: ln-ln least squares over the top-100 token ranks, exact
    // vocabulary/hapax counts
    "q_zipf_fit" -> ((s, dir) =>
      CorpusLm.zipfFit(documents(s, dir), k = 100)),

    // language ID (stopword-hit heuristic)
    "q_lang_id" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("pred_lang"))),

    // quality scoring
    "q_quality" -> ((s, dir) =>
      TextAnalysis.quality(documents(s, dir))
        .select("doc_id", "n_tokens", "mean_token_len", "punct_ratio",
          "stopword_ratio", "quality_score")),

    // token counting (whitespace + BPE-ish estimate)
    "q_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCounts(documents(s, dir))
        .select("doc_id", "ws_tokens", "bpe_est_tokens")),

    // document fingerprint (min-hash-of-shingles content signature)
    "q_doc_fingerprint" -> ((s, dir) =>
      documents(s, dir)
        .filter(size(split(lower(trim(col("text"))), "\\s+")) >= 5)
        .select(col("doc_id"), TextAnalysis.docFingerprint(col("text"), 5).as("fp"))),

    // multimodal: binary column features (SQL-expressible projection)
    "q_binary_features" -> ((s, dir) =>
      Multimodal.binaryFeatures(Multimodal.mediaFromDocuments(documents(s, dir)))),

    // deterministic hash-based train/val/test split: no RNG, stable under
    // reshuffles and re-runs — the only split discipline that survives a
    // 100 TB re-partition (sha60 of a salted id, cross-engine exact)
    "q_sample_split" -> ((s, dir) => {
      val h = graft.functions.Hashing.sha60(
        concat(lit("split:"), col("doc_id").cast("string"))) % 1000
      documents(s, dir).select(col("doc_id"),
        when(h < 980, "train").when(h < 990, "val").otherwise("test").as("split"))
    }),

    // deterministic source-mixing sampler: blend the corpus to a target
    // recipe — source srcN survives at (1000 − 47·N) permille, membership
    // = sha60("mix:" || doc_id) % 1000 under the rate. The engine joins a
    // BROADCAST rate dimension (the realistic shape: rates come from a
    // config table, not the source name); the oracle derives the same
    // rates analytically from the name — an independent path to the same
    // blend. Zero shuffles: one codegen'd hash-compare behind a broadcast
    // join.
    "q_mix_sources" -> ((s, dir) => {
      val rates = (0 until 20).map(i => s"src$i" -> (1000 - 47 * i)).toMap
      Mixing.mixBySource(documents(s, dir), col("doc_id"), col("source"),
          rates)
        .select(col("doc_id"), col("source"))
    }),

    // per-source corpus report (the "data card" face): docs, languages,
    // token totals and mean quality per source — the composition summary
    // a mixing recipe is written against. Quality is aggregated in exact
    // integer MICROS (per-doc scores are r6-rounded rationals, so micros
    // are exact longs; float SUMS are never hash-comparable cross-engine
    // because addition order differs) and the mean re-rounds the micro
    // ratio. One map-side-combined aggregate; 20 rows out.
    "q_source_report" -> ((s, dir) => {
      val q = TextAnalysis.quality(documents(s, dir))
      q.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("lang")).as("n_langs"),
          sum(col("n_tokens").cast("long")).as("total_tokens"),
          sum(floor(col("quality_score") * 1000000 + 0.5)).as("quality_micros"))
        .withColumn("mean_quality",
          floor(col("quality_micros") / col("n_docs") + 0.5) / 1000000.0)
        .select("source", "n_docs", "n_langs", "total_tokens",
          "quality_micros", "mean_quality")
    }),

    // epoch-upsampled blend: rates above 1000 permille REPEAT a source
    // (srcN at 2000 − 83·N permille: src0 = 2 full epochs, src12 ≈ 1.004,
    // src19 ≈ 0.42 — mixed up- and down-sampling in one recipe); each row
    // carries floor(r/1000) copies plus one more iff its ring falls under
    // r mod 1000, tagged with a 0-based epoch index. Still zero shuffles:
    // the duplication explodes after the broadcast join.
    "q_mix_epochs" -> ((s, dir) => {
      val rates = (0 until 20).map(i => s"src$i" -> (2000 - 83 * i)).toMap
      Mixing.mixWithEpochs(documents(s, dir), col("doc_id"), col("source"),
          rates)
        .select(col("doc_id"), col("source"), col("epoch"))
    }),

    // the per-source DATA CARD capstone: quality report ⋈ TVD ⋈ KL ⋈
    // temperature recipe — the one row per source a mixing decision reads.
    // Re-runs the verified component queries and joins on source (20-row
    // joins); the oracle embeds the component oracles as derived tables,
    // so the capstone can never drift from its parts (the q_knn_recall
    // pattern).
    "q_data_card" -> ((s, dir) => {
      val rep = queries("q_source_report")(s, dir)
        .select("source", "n_docs", "n_langs", "total_tokens", "mean_quality")
      val drift = queries("q_corpus_drift")(s, dir)
        .select(col("source"), col("n_vocab"), col("tvd"))
      val kl = queries("q_source_kl")(s, dir).select(col("source"), col("kl"))
      val tmix = queries("q_mix_temperature")(s, dir)
        .select(col("source"), col("rate_permille"), col("sampled_docs"),
          col("sampled_tokens"))
      rep.join(drift, "source").join(kl, "source").join(tmix, "source")
    }),

    // temperature-sampled blend (T = 2, α = 1/2 via IEEE-exact sqrt):
    // per-source acceptance rates FIT from the corpus's own token counts
    // (q_s ∝ √p_s — up-weights small sources), then the deterministic mix
    // ring; returns the recipe + outcome per source. The oracle re-fits
    // the rates independently with the same ordered-fold float discipline.
    "q_mix_temperature" -> ((s, dir) =>
      Mixing.temperatureMix(documents(s, dir), col("doc_id"), col("source"),
        col("text"), budgetPermille = 500)),

    // deterministic training-shard assignment + within-shard order: the
    // dataloader-facing global pseudo-shuffle — shard = hash ring A,
    // position = rank on hash ring B within the shard (decorrelated salts,
    // ties impossible short of a sha collision but doc_id still breaks
    // them). RNG-free, so the training order is reproducible across reruns
    // and engines; one exchange on the shard key, windows per shard.
    "q_shard_order" -> ((s, dir) => {
      val hs = Hashing.sha60(concat(lit("shard:"), col("doc_id").cast("string")))
      val ho = Hashing.sha60(concat(lit("ord:"), col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy(col("ho"), col("doc_id"))
      documents(s, dir)
        .select(col("doc_id"), (hs % 16).cast("int").as("shard"), ho.as("ho"))
        .withColumn("pos", row_number().over(w))
        .select("doc_id", "shard", "pos")
    }),

    // shard MANIFEST — the publish-integrity artifact next to
    // q_shard_order: per shard, doc/token counts and an order-sensitive
    // content fingerprint (polynomial fold of per-doc sha60 in the
    // shard's training order), so a dataloader can validate both WHAT it
    // received and the ORDER it replays — the corpus-grain analogue of
    // the reference's per-file fingerprint identity. One exchange on the
    // shard key; the fold runs inside the aggregate over 8-byte hashes.
    "q_shard_manifest" -> ((s, dir) => {
      val hs = Hashing.sha60(concat(lit("shard:"), col("doc_id").cast("string")))
      val ho = Hashing.sha60(concat(lit("ord:"), col("doc_id").cast("string")))
      val ht = Hashing.sha60(col("text")) % Hashing.P
      documents(s, dir)
        .select((hs % 16).cast("int").as("shard"),
          struct(ho.as("ho"), col("doc_id"), ht.as("h")).as("__e"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          sort_array(collect_list("__e")).as("__es"))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          aggregate(transform(col("__es"), e => e.getField("h")), lit(0L),
            (a, x) => (a * 8191L + x) % Hashing.P).as("content_fp"))
    }),

    // benchmark decontamination: flag corpus docs sharing any 8-gram with
    // the benchmark set (doc_id % 97 == 0 plays the benchmark; planted
    // copies guarantee hits at every sf). Inverted-index semi-join — the
    // benchmark side is small and broadcast, one pass over the corpus.
    "q_decontaminate" -> ((s, dir) => {
      val (bench, trainSets) = decontFixture(s, dir)
      trainSets.select(col("id").as("doc_id"), explode(col("hs")).as("h"))
        .join(broadcast(bench), Seq("h"), "left_semi")
        .select("doc_id").distinct()
    }),

    // sequence packing (concat-then-chunk): the pretraining packing
    // discipline — shard-ordered documents' tokens are concatenated and
    // split every `budget` tokens; each doc records its shard, start
    // offset, bin, and whether it straddles a bin boundary. Shards make
    // packing embarrassingly parallel (one window per shard, never a
    // global sort) — the 100 TB shape.
    "q_pack_sequences" -> ((s, dir) => {
      val budget = 2048
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      TextAnalysis.tokenCounts(documents(s, dir))
        .select(col("doc_id"), (col("doc_id") % 16).cast("int").as("shard"),
          col("bpe_est_tokens").cast("long").as("n"))
        .withColumn("start_tok", coalesce(sum("n").over(w), lit(0L)))
        .withColumn("bin_id", floor(col("start_tok") / budget).cast("long"))
        .withColumn("straddles", when(col("n") > 0,
          floor((col("start_tok") + col("n") - 1) / budget).cast("long") > col("bin_id"))
          .otherwise(lit(false)))
        .select("doc_id", "shard", "start_tok", "bin_id", "straddles")
    }),

    // conversation structural QC: the gate a transcript must pass before
    // it becomes a training example (alternation, blank turns, failed tool
    // calls, loss-masked token yield). One lag window + one aggregate,
    // both keyed by conv_id — a single exchange end to end.
    "q_conv_qc" -> ((s, dir) => Conversations.qc(tx(s, dir))),

    // loss-mask span table: per turn, its half-open token span in the
    // conversation's concatenated sequence and whether it contributes loss
    // (assistant turns train; user/tool turns are context).
    "q_loss_spans" -> ((s, dir) => Conversations.lossSpans(tx(s, dir))),

    // token-budget prefix truncation: longest prefix of each conversation
    // fitting a context budget (monotone cumulative sum ⇒ provably a
    // prefix); kept rows carry the running total.
    "q_truncate_budget" -> ((s, dir) => Conversations.truncateToBudget(tx(s, dir), 64L)),

    // conversation-grain exact dedup: order-sensitive fold of per-turn
    // (role:text) hashes — whole-conversation copies with different
    // conv_ids collapse (planted '-copy' clones guarantee hits); document
    // dedup over flattened turns cannot see this unit
    "q_conv_dedup" -> ((s, dir) => {
      val t = tx(s, dir).select("conv_id", "turn_idx", "role", "text")
      val planted = t.filter(col("conv_id") < "conv-000021")
        .withColumn("conv_id", concat(col("conv_id"), lit("-copy")))
      Conversations.dedupExact(t.unionByName(planted))
    }),

    // SALTED conversation fingerprint: the mega-conversation-safe
    // two-phase fold — per-8-turn-bucket partial folds merged with the
    // pow_mod composition law fp(A‖B) = fp(A)·8191^|B| + fp(B) mod P;
    // the oracle re-derives every value through the PLAIN single fold, so
    // a hash match PROVES the composition (not just replays it). Width 8
    // forces every conversation through multiple buckets at all sf.
    "q_conv_fp_salted" -> ((s, dir) =>
      Conversations.fingerprintSalted(
        tx(s, dir).select("conv_id", "turn_idx", "role", "text"),
        bucketWidth = 8)),

    // conversation-grain NEAR-dup: the banded minhash-LSH family applied
    // at the dataloader unit — turns concatenated in turn order, then the
    // EXACT q_dedup_minhash pipeline (pure composition: no new operator);
    // planted '-nd' clones (two extra tokens on turn 0 for the first ten
    // conversations, exact copies for the rest) guarantee pairs at every sf
    "q_conv_neardup" -> ((s, dir) => {
      val t0 = tx(s, dir).select(col("conv_id"), col("turn_idx"), col("text"))
      val clones = t0.filter(col("conv_id") < "conv-000021")
        .select(concat(col("conv_id"), lit("-nd")).as("conv_id"),
          col("turn_idx"),
          when(col("conv_id") < "conv-000010" && col("turn_idx") === 0,
            concat(col("text"), lit(" zz yy"))).otherwise(col("text"))
            .as("text"))
      val conv = t0.unionByName(clones)
        .select(col("conv_id"), struct(col("turn_idx"), col("text")).as("tt"))
        .groupBy("conv_id").agg(sort_array(collect_list("tt")).as("tts"))
        .select(col("conv_id").as("doc_id"),
          concat_ws("\n", transform(col("tts"), t => t.getField("text")))
            .as("text"))
      Dedup.minhashLsh(conv, "doc_id", "text", n = 3, bands = 4,
          rowsPerBand = 2, threshold = 0.6)
        .select(col("a"), col("b"), TextAnalysis.r6(col("jaccard")).as("jaccard"))
    }),

    // decontamination with overlap SCORING: per training doc, the fraction
    // of its 8-gram hashes present in the benchmark index — the graded
    // form of q_decontaminate (flagging at a threshold is a filter on
    // this). Same broadcast inverted index, one corpus pass.
    "q_decontaminate_score" -> ((s, dir) => {
      val (bench, trainSets) = decontFixture(s, dir)
      trainSets.select(col("id").as("doc_id"), size(col("hs")).as("n_sh"),
          explode(col("hs")).as("h"))
        .join(broadcast(bench), Seq("h"), "left_semi")
        .groupBy("doc_id", "n_sh").agg(count(lit(1)).as("n_hit"))
        .select(col("doc_id"), col("n_hit"),
          TextAnalysis.r6(col("n_hit").cast("double") / col("n_sh")).as("overlap"))
    }),

    // decontamination behind a BLOOM pre-filter: when the benchmark index
    // outgrows the broadcast threshold, a sketch-sized bloom of its 8-byte
    // shingle hashes (fit by one distributed aggregate, embedded as a
    // literal — Spark's own runtime-row-filter expressions) drops ~all
    // clean shingles before the exact semi-join verify. No false
    // negatives ⇒ bit-identical to q_decontaminate (same oracle).
    "q_decontaminate_bloom" -> ((s, dir) => {
      val (bench0, trainSets) = decontFixture(s, dir)
      // the bench index is scanned by BOTH the bloom fit and the exact
      // verify join — materialize it once (at 100 TB this is "checkpoint
      // the benchmark index", a few GB, built once per campaign).
      // localCheckpoint, NOT persist: the blocks are owned by the
      // DataFrame and reclaimed by the ContextCleaner when it goes out of
      // scope, so repeated constructions (bench min-of-N reruns) cannot
      // accrete storage memory the way an unmatched persist() does
      val bench = bench0.localCheckpoint(true)
      val bf = graft.functions.Bloom.fit(bench, "h",
        expectedItems = 200000L, numBits = 1600000L)
      trainSets.select(col("id").as("doc_id"), explode(col("hs")).as("h"))
        .filter(graft.functions.Bloom.mightContain(bf, col("h")))
        .join(broadcast(bench), Seq("h"), "left_semi")
        .select("doc_id").distinct()
    }),

    // Gopher-style repetition filters: duplicate-line fraction (10-token
    // lines) + top-bigram share. Docs with doc_id % 5 == 0 get the first
    // 10-token line planted three extra times so the dup metric provably
    // fires at every sf. Line stats are pure expressions; the bigram mode
    // is one map-side-combinable (id, bigram) count — ids only on the wire.
    "q_repetition" -> ((s, dir) => {
      val w0 = split(lower(trim(col("text"))), "\\s+")
      val prefix = concat(array_join(slice(w0, 1, 10), " "), lit(" "))
      val planted = documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(repeat(prefix, 3), col("text")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.repetition(planted, "doc_id", "text")
    }),

    // PII scrubbing: typed-redaction of planted emails/IPv4s/phone tokens
    // with per-family counts. Pure per-row regex expressions — the regex
    // families are chosen to agree between Java regex and RE2.
    "q_pii_scrub" -> ((s, dir) => {
      val planted = documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com or admin@test.org from 10.1."),
          (col("doc_id") % 256).cast("string"), lit(".7 call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.piiScrub(planted, "text")
        .select("doc_id", "n_email", "n_ip", "n_phone", "scrubbed")
    }),

    // sliding-window chunking: context windows of 64 tokens advancing by
    // 48 (overlap 16) over the BPE-estimate token count — one row per
    // chunk, closed-form count, explode only, zero shuffle.
    "q_chunk_windows" -> ((s, dir) =>
      TextAnalysis.chunkWindows(
        TextAnalysis.tokenCounts(documents(s, dir))
          .select(col("doc_id"), col("bpe_est_tokens").cast("long").as("n")),
        "doc_id", "n", window = 64L, stride = 48L)),

    // top-K vocabulary: global word frequencies under a deterministic
    // (count DESC, word ASC) total order, K=25 — the tokenizer-training
    // input. The groupBy gets map-side combine; the top-K plans as
    // TakeOrderedAndProject (per-partition heap, driver merges K rows) —
    // never a global sort shuffle.
    "q_vocab_topk" -> ((s, dir) =>
      documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(25)),

    // embedding OUTLIER scoring: per-label centroid (one map-side-
    // combinable (label, dim) aggregate; r6-rounded means for cross-engine
    // bit-stability), then cosine-to-own-centroid as a PURE PROJECTION
    // over the literal centroid matrix — the IVF-assignment discipline:
    // after the fit, scoring shuffles nothing. Emits each label's 5 least
    // central vectors (the "drop far-from-centroid docs" curation gate).
    "q_emb_outlier" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("label"),
          Similarity.toDoubleVec(col("embedding")).as("v"))
      val nLabels = 10
      val fit = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos").agg(TextAnalysis.r6(avg(col("x"))).as("c"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val cents: Seq[Seq[Double]] = (0 until nLabels).map(g =>
        fit.filter(_._1 == g).sortBy(_._2).map(_._3).toSeq)
      val cv = element_at(typedlit(cents), col("label") + 1)
      val cos = TextAnalysis.r6(Similarity.cosine(col("v"), cv,
        Similarity.l2norm(col("v")), Similarity.l2norm(cv)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("label").orderBy(col("cos_centroid").asc, col("vec_id"))
      e.withColumn("cos_centroid", cos)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("vec_id", "label", "cos_centroid", "rk")
    }),

    // TF-IDF top terms: per-document top-3 terms by tf·idf with a
    // RATIONAL idf (N+1)/(df+1) — log-free because ln() is not
    // correctly-rounded-guaranteed across engines, while IEEE ·/÷ are.
    // Shape: two map-side-combinable aggregates, a broadcast join on the
    // (small) term-frequency dimension, and a WindowGroupLimit-pushdown
    // top-k per doc — the keyword-extraction stage of a curation pipeline.
    "q_tfidf_topterms" -> ((s, dir) => {
      val d = documents(s, dir)
      val nDocs = d.count() // model-sized driver scalar (like the IVF fit)
      val tf = d.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val score = TextAnalysis.r6(
        col("tf") * lit(nDocs + 1.0) / (col("df") + lit(1.0)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(broadcast(dfq), Seq("term"))
        .withColumn("score", score)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    }),

    // stratified per-language sampling: a deterministic quota of 50 docs
    // per lang stratum, ranked by a salted hash (the q_sample_split
    // discipline plus quotas) — RNG-free, reshuffle-stable, one shuffle
    // on the stratum key.
    "q_stratified_sample" -> ((s, dir) => {
      val h = Hashing.sha60(concat(lit("samp:"), col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("h"), col("doc_id"))
      documents(s, dir).select(col("doc_id"), col("lang"), h.as("h"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .select("doc_id", "lang", "rk")
    }),

    // FLAGSHIP training-data curation pipeline, end to end: exact dedup →
    // MinHash-LSH near-dup removal (drop the higher id of each verified
    // pair) → language gate → quality gate. Every stage is the scale-path
    // operator (hash-groupBy, banded LSH, pure expressions); the corpus
    // carries planted exact and near duplicates so the pipeline provably
    // removes rows at every sf.
    "q_prep_pipeline" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val copies = d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val nearDups = d.filter(col("doc_id") < 100 &&
          size(split(lower(trim(col("text"))), "\\s+")) >= 12)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" tail tail")).as("text"))
      val corpus = d.unionByName(copies).unionByName(nearDups)
      // uniq feeds three branches (both sides of the LSH self-join via
      // pairs, the anti-join, and the feature stage) — small (one row per
      // distinct doc), so caching beats three recomputes of the dedup
      // window
      val uniq = Dedup.exactDeduped(corpus, "doc_id", "text").cache()
      val pairs = Dedup.minhashLsh(uniq, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 2, threshold = 0.6)
      val keep = uniq.join(pairs.select(col("b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      TextAnalysis.quality(keep)
        .withColumn("pred_lang", TextAnalysis.langId(col("text")))
        .filter(col("pred_lang") === "en" && col("quality_score") >= 0.4)
        .select("doc_id", "pred_lang", "n_tokens", "quality_score")
    }),

    // CAPSTONE curation pipeline: q_prep_pipeline's stages PLUS the
    // round-3 operators composed end to end — exact dedup → MinHash-LSH
    // near-dup drop → language gate → quality gate → Gopher repetition
    // gate → deterministic hash split. A third plant (10 docs of one
    // en-stopword 10-token line repeated 4×, unique per doc) passes the
    // lang and quality gates and is provably removed by the repetition
    // gate (dup_line_frac 0.75 > 0.2) at every sf.
    "q_curate_full" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val copies = d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val nearDups = d.filter(col("doc_id") < 100 &&
          size(split(lower(trim(col("text"))), "\\s+")) >= 12)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" tail tail")).as("text"))
      val line = concat(lit("the a of and to in is that it u"),
        col("doc_id").cast("string"))
      val repeaty = d.filter(col("doc_id") >= 30 && col("doc_id") < 40)
        .select((col("doc_id") + 300000).as("doc_id"),
          trim(repeat(concat(line, lit(" ")), 4)).as("text"))
      val corpus = d.unionByName(copies).unionByName(nearDups).unionByName(repeaty)
      val uniq = Dedup.exactDeduped(corpus, "doc_id", "text").cache()
      val pairs = Dedup.minhashLsh(uniq, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 2, threshold = 0.6)
      // keep feeds BOTH the repetition branch and the quality branch of the
      // final join — cached, or the LSH candidate join + anti-join above it
      // run twice (one per branch; measured ~1s at sf0.1)
      val keep = uniq.join(pairs.select(col("b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti").cache()
      val rep = TextAnalysis.repetition(keep, "doc_id", "text")
      val h = Hashing.sha60(
        concat(lit("split:"), col("doc_id").cast("string"))) % 1000
      TextAnalysis.quality(keep)
        .withColumn("pred_lang", TextAnalysis.langId(col("text")))
        .join(rep, Seq("doc_id"))
        .filter(col("pred_lang") === "en" && col("quality_score") >= 0.4 &&
          col("dup_line_frac") <= 0.2 && col("top_bigram_frac") <= 0.2)
        .select(col("doc_id"), col("pred_lang"), col("quality_score"),
          col("dup_line_frac"), col("top_bigram_frac"),
          when(h < 980, "train").when(h < 990, "val").otherwise("test").as("split"))
    }),

    // sessionization over the events stream table (gap > 30 min)
    "q_events_sessionize" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val tsUs = unix_micros(col("ts").cast("timestamp"))
      events(s, dir)
        .withColumn("gap_us", tsUs - lag(tsUs, 1).over(w))
        .withColumn("is_new", when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("session_idx", sum(col("is_new")).over(wRun).cast("int"))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("t_start"), max(col("ts")).as("t_end"))
    }),

    // as-of attribution join: every purchase picks the LATEST click by the
    // same user at-or-before its timestamp (the pandas merge_asof / DuckDB
    // ASOF JOIN primitive Spark lacks natively) — union + one shuffle on
    // user_id + a running last() over the per-user timeline, NO range-join
    // explosion. The click side is pre-collapsed to one row per (user, ts)
    // (max event_id) so tie semantics are deterministic by construction in
    // both engines; the oracle derives the same answer through DuckDB's
    // native ASOF LEFT JOIN — an independent engine path, not a re-rendered
    // window. Unmatched purchases keep NULL click_id/gap_us (left join).
    "q_asof_attribution" -> ((s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsOf.asofJoin(purchases, clicks, "user_id", "ts", matchedName = "m")
        .select(col("event_id"), col("user_id"),
          col("m").getField("click_id").as("click_id"),
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("m").getField("ts").cast("timestamp")))
            .as("gap_us"))
    }),

    // tokenizer vocabulary COVERAGE: per-doc fraction of tokens inside the
    // corpus top-K vocabulary (K=500) — the OOV-rate analysis that sizes a
    // tokenizer's vocab. The vocab plans as TakeOrderedAndProject (no
    // global sort); coverage is one broadcast left join + one aggregate.
    "q_vocab_coverage" -> ((s, dir) => {
      val tok = documents(s, dir).select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("word"))
      val vocab = tok.groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(500)
        .select(col("word"), lit(1).as("inv"))
      tok.join(broadcast(vocab), Seq("word"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("inv"), lit(0)).cast("long")).as("n_covered"))
        .select(col("doc_id"), col("n_tokens"), col("n_covered"),
          TextAnalysis.r6(col("n_covered").cast("double") / col("n_tokens"))
            .as("coverage"))
    }),

    // deterministic-hash cardinality sketch (HLL over sha60): corpus
    // distinct-trigram-shingle count estimated from 256 max-registers —
    // the key-space sizing pass a dedup campaign runs before picking its
    // hash width. The universe is the HASHED shingle space (the native
    // single-pass shingle_hashes expression the minhash family shuffles —
    // one sha256 per token, no n-gram strings materialized, and the same
    // domain the campaign's stores actually key on); each hashed shingle
    // is re-expanded to 60 uniform bits through sha60 of its decimal
    // rendering, the cross-engine-exact path. Scale shape: registers are
    // one streaming aggregate (map-side partial max ⇒ the shuffle carries
    // ≤256 integer rows per task); the exact countDistinct rides along
    // purely as the accuracy fixture — at 100 TB only the sketch path runs.
    "q_cardinality_sketch" -> ((s, dir) => {
      val sh = Dedup.shingleHashSets(documents(s, dir), "doc_id", "text", 3)
        .select(explode(col("hs")).as("hsh"))
        .select(col("hsh").cast("string").as("s"))
      val fin = Cardinality.sketch(sh, col("s"))
      val exact = sh.agg(countDistinct(col("s")).as("n_exact"))
      fin.crossJoin(exact).select(
        lit(256L).as("m_buckets"), col("n_occupied"),
        TextAnalysis.r6(col("e")).as("estimate"), col("n_exact"),
        // zero guard mirrors the oracle: an empty universe reports 0 error
        when(col("n_exact") === 0L, lit(0.0))
          .otherwise(TextAnalysis.r6(abs(TextAnalysis.r6(col("e")) - col("n_exact")) /
            col("n_exact"))).as("err_frac"))
    }),

    // cross-source vocabulary overlap matrix by inclusion–exclusion over
    // mergeable HLL register tables: which sources share a token space —
    // the SET-overlap complement of q_corpus_drift's mass divergence,
    // bounded-state where the exact answer needs a token×source shuffle
    // plus a self-join. One corpus pass builds all 20 per-source sketches.
    "q_vocab_overlap" -> ((s, dir) =>
      Cardinality.overlapMatrix(
        documents(s, dir).select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok")),
        col("source"), col("tok"), p = 8)),

    // deterministic count-min frequency sketch: heavy-hitter token counts
    // estimated from a 4×1024 counter table built with the mix affine
    // family — the frequency face of the sizing pass next to
    // q_cardinality_sketch (boilerplate/template detection without a
    // full-vocabulary shuffle). All counters are integers, so the oracle
    // surface is exact with no floating point at all. Scale shape: the
    // sketch is one streaming aggregate bounded at d·w counter rows
    // (map-side combine), estimates probe a broadcast of it; the exact
    // top-10 rides along purely as the accuracy fixture.
    "q_freq_sketch" -> ((s, dir) => {
      val tok = documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      val sk = Frequency.sketch(tok, Hashing.sha60(col("word")))
      val top = tok.groupBy("word").agg(count(lit(1)).as("cnt_exact"))
        .orderBy(col("cnt_exact").desc, col("word")).limit(10)
      Frequency.estimate(sk, top, Hashing.sha60(col("word")))
    }),

    // deterministic hash-sampled quantile sketch: median/p90/p99 of the
    // whitespace token-count distribution as type-1 order statistics over
    // a reproducible 25% Bernoulli sample keyed on sha60("qs:" || doc_id)
    // — the distribution face of the sizing family (q_freq_sketch = how
    // often, q_cardinality_sketch = how many distinct, this = how spread):
    // curation thresholds (length caps, tail cuts) are read off this
    // without sorting the corpus. Sample membership is a codegen'd scan
    // predicate (no shuffle); only the bounded sample is ranked, and
    // integer order statistics keep the oracle surface float-free. The
    // oracle re-derives the identical sample, ranks and rank targets.
    "q_quantile_sketch" -> ((s, dir) => {
      val d = TextAnalysis.tokenCounts(documents(s, dir))
        .select(col("doc_id"), col("ws_tokens"))
      Quantile.orderStatQuantiles(d, col("doc_id"), col("ws_tokens"),
        Seq(500, 900, 990), rate = 0.25)
    }),

    // PER-GROUP quantile sketch: one p50/p90/p99 length threshold per
    // language stratum from a 50% hash sample — the "one cutoff per
    // stratum" face of a curation pass (per-language length caps). Every
    // window partitions by the group key, so unlike the global variant
    // there is NO single-partition stage anywhere in the plan; the oracle
    // re-derives the identical sample, histogram, and rank spans per group.
    "q_group_quantiles" -> ((s, dir) =>
      Quantile.groupedOrderStatQuantiles(documents(s, dir), col("lang"),
        col("doc_id"), col("n_chars"), Seq(500, 900, 990), rate = 0.5)
        .select(col("g").as("lang"), col("q_permille"), col("n_sample"),
          col("v"))),

    // robust per-source outlier gate: |x − median| > 3·MAD on doc length —
    // the 50%-breakdown curation filter a mega-doc cannot drag (a mean/
    // stddev z-score it can); both medians are type-1 order statistics via
    // the grouped-quantile machinery at rate 1.0, so the surface is
    // float-free and the oracle re-derives the identical rank spans
    "q_robust_outliers" -> ((s, dir) =>
      Quantile.robustOutliers(documents(s, dir), col("source"),
          col("doc_id"), col("n_chars"), k = 3)
        .select(col("id").as("doc_id"), col("g").as("source"),
          col("x").as("n_chars"), col("med"), col("mad"))),

    // vocabulary growth across ordered batches (Heaps'-law accounting):
    // per batch, token volume, within-batch distinct, FIRST-seen tokens,
    // cumulative vocabulary — the engine derives first-seen via one
    // min-batch aggregate on the token; the oracle proves the same counts
    // through a NOT-EXISTS batch×batch derivation it never runs at scale
    "q_vocab_growth" -> ((s, dir) => Drift.vocabGrowth(documents(s, dir), 4)),

    // cross-document EXACT 8-gram duplication coverage (exact-substring
    // dedup's reporting face, Lee et al. 2022): per doc sharing ≥1 hashed
    // 8-token shingle with another doc, its distinct-shingle count and how
    // many are shared corpus-wide — verbatim-span duplication that MinHash
    // whole-doc similarity misses. Inverted-index shape over (long, long)
    // rows only; the oracle replays the identical shingle hashes
    // (hashedShinglesSql) through an independent unnest/HAVING derivation.
    "q_dup_spans" -> ((s, dir) =>
      Dedup.crossDocShingleCoverage(documents(s, dir), "doc_id", "text", 8)),

    // winnowing fingerprint coverage (Schleimer et al. SIGMOD'03): the
    // q_dup_spans detection floor (any shared span ≥ w+k−1 tokens is
    // caught) at ~2/(w+1) of the inverted-index rows — the index-size
    // trade the full-shingle index cannot make; native single-pass
    // winnow_hashes expression, value-set semantics make the paper's min
    // tie rule moot
    "q_winnow_fp" -> ((s, dir) =>
      Dedup.winnowCoverage(documents(s, dir), "doc_id", "text", 4, 4)),

    // corpus drift: total variation distance of each source's token
    // distribution from the corpus — the exact-arithmetic divergence (KL
    // needs logs, which are not hash-stable cross-engine); integer
    // cross-products + closed form for absent words, only the final ratio
    // is floating point. The oracle derives the same statistic over the
    // full sources × vocabulary grid — an independent (small-scale-only)
    // path the engine never materializes.
    "q_corpus_drift" -> ((s, dir) => Drift.tvdVsCorpus(documents(s, dir))),

    // snapshot diff: corpus-grain added/removed/changed/unchanged between
    // snapshot A (documents) and a deterministically derived snapshot B
    // (drop %13, rewrite %7, add 15 new ids) — the open-time fingerprint
    // reverify decision at corpus grain; the oracle classifies by direct
    // TEXT comparison while the engine compares 8-byte sha60 hashes, an
    // independent path to the same statuses
    "q_snapshot_diff" -> ((s, dir) => {
      val a = documents(s, dir).select(col("doc_id"), col("text"))
      val b = a.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(lit("v2 "), col("text")))
            .otherwise(col("text")).as("text"))
        .unionByName(a.filter(col("doc_id") < 15)
          .select((col("doc_id") + 600000L).as("doc_id"), col("text")))
      Drift.snapshotDiff(a, b, "doc_id", "text")
    }),

    // BUCKETED-store incremental dedup: the co-located layout — the seen
    // store is written bucketBy(16, h) once, and the batch anti-join then
    // reads it with NO store-side Exchange (the 100 TB shape: only the
    // small batch shuffles, never the 10^11-hash store; plan pinned in
    // BucketedSpec). Oracle classifies in the TEXT domain (NOT IN) while
    // the engine joins 8-byte sha60 hashes — independent paths.
    "q_dedup_bucketed" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val even = d.filter(col("doc_id") % 2 === 0)
      val b = d.filter(col("doc_id") % 2 === 1)
        .unionByName(even.filter(col("doc_id") < 40)
          .select((col("doc_id") + 400000).as("doc_id"), col("text")))
      graft.operators.Bucketed.writeSeen(even, "text", "graft_seen_bucketed", 16)
      graft.operators.Bucketed.dedupAgainst(b, "doc_id", "text", "graft_seen_bucketed")
    }),

    // INCREMENTAL exact dedup, end to end: a two-batch campaign against a
    // fresh persisted hash store — batch A (even doc_ids) seeds the store,
    // batch B (odd doc_ids + planted cross-batch copies of A content +
    // planted within-batch dups) is deduped against it; the result is B's
    // survivors. The oracle derives the same set analytically from A ∪ B
    // (dedup semantics are batch-order-independent for the planted layout).
    // A fresh store per invocation keeps the query a pure function — bench
    // re-runs must not see the previous run's commits.
    "q_dedup_incremental" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val a = d.filter(col("doc_id") % 2 === 0)
      val b = d.filter(col("doc_id") % 2 === 1)
        .unionByName(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
          .select((col("doc_id") + 400000).as("doc_id"), col("text")))
        .unionByName(d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 20)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      val store = tempStore("graft-q-incexact")
      // seed batch A via the staged form: its survivors are discarded, so
      // the non-staged wrapper's checkpoint materialization is waste
      Dedup.incrementalExactStaged(a, "doc_id", "text", store).commit()
      Dedup.incrementalExact(b, "doc_id", "text", store)
    }),

    // INCREMENTAL MinHash near-dup, end to end: batch A (even doc_ids +
    // one shingle-less short doc) seeds the signature store; batch B (odd
    // doc_ids + planted near-dups of A content + planted exact copies of
    // A content + shingle-less repeats) runs against it. Exercises all
    // four stages — within-batch exact dedup, exact-store pre-filter
    // (including the shingle-less path), within-batch LSH, cross-batch
    // band match — and the DuckDB oracle re-derives every stage.
    "q_neardup_incremental" -> ((s, dir) => neardupIncrementalStaged(s, dir).committed()),

    // STORE RETRACTION, end to end: batch A (even doc_ids, per-row source
    // f1/f2 by doc_id % 4) seeds the store WITH provenance; source f1 is
    // then retracted — the rewrite-removed-content path: its exclusive
    // hashes leave the store. Batch B (odd doc_ids + re-id'd copies of A
    // content) then delivers exactly the content whose surviving
    // provenance was f1 (reopened) plus genuinely new content, while
    // f2-attributed content stays suppressed. The oracle re-derives the
    // store's post-retraction state from A's within-batch survivors alone.
    "q_dedup_retract" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val a = d.filter(col("doc_id") % 2 === 0)
        .withColumn("src",
          when(col("doc_id") % 4 === 0, lit("f1")).otherwise(lit("f2")))
      val b = d.filter(col("doc_id") % 2 === 1)
        .unionByName(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 80)
          .select((col("doc_id") + 600000).as("doc_id"), col("text")))
      val store = tempStore("graft-q-retract")
      Dedup.incrementalExactStaged(a, "doc_id", "text", store,
        srcCol = Some("src")).commit()
      Dedup.retractSources(s, store, Seq("f1"))
      Dedup.incrementalExact(b, "doc_id", "text", store)
    })
  )

  /** Fresh throwaway store for the incremental-query fixtures, removed at
    * JVM exit (deletion must wait that long: Verify may still be writing
    * the query result when the function returns). ONE static shutdown
    * hook drains the registry — bench campaigns invoke these queries
    * dozens of times and must accrete neither /tmp parquet stores nor
    * per-invocation hook threads.
    */
  private val tempStores =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val tempStoreHook: Unit = {
    sys.addShutdownHook {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
      }
      tempStores.forEach(rm(_))
    }
    ()
  }
  private def tempStore(prefix: String): String = {
    tempStoreHook
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempStores.add(dir.toFile)
    dir.toString
  }

  /** q_neardup_incremental's batch B, staged against a fresh store seeded
    * with its batch A (see the query). Shared with `tools.PlanDump`, which
    * dumps the plan of the staged `fresh` rows.
    */
  private[graft] def neardupIncrementalStaged(s: SparkSession,
      dir: String): Dedup.IncrementalBatch = {
    import s.implicits._
    val d = documents(s, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 400)
    val a = d.filter(col("doc_id") % 2 === 0)
      .unionByName(Seq((900000L, "aa bb")).toDF("doc_id", "text"))
    val b = d.filter(col("doc_id") % 2 === 1)
      .unionByName(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 60 &&
          size(split(lower(trim(col("text"))), "\\s+")) >= 12)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(col("text"), lit(" tail tail")).as("text")))
      .unionByName(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
        .select((col("doc_id") + 800000).as("doc_id"), col("text")))
      .unionByName(Seq((900001L, "aa bb"), (900002L, "aa bb")).toDF("doc_id", "text"))
    val store = tempStore("graft-q-incmh")
    def stage(df: DataFrame) = Dedup.incrementalMinhashStaged(df, "doc_id", "text",
      store, n = 3, bands = 4, rowsPerBand = 2, threshold = 0.6)
    stage(a).commit()
    stage(b)
  }

  /** Near-duplicate fixture: documents plus, for long-enough docs with
    * doc_id < 100, a copy with two appended tokens (true near-dup).
    * Mirrored exactly by [[nearDupCte]].
    */
  private def nearDupFixture(s: SparkSession, dir: String): DataFrame = {
    // bounded at 2000 docs: the exact all-pairs verifier is quadratic in
    // bucket size and exists as the LSH paths' ground truth, not a scale path
    val d = documents(s, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 2000)
    d.unionByName(
      d.filter(col("doc_id") < 100 &&
          size(split(lower(trim(col("text"))), "\\s+")) >= 12)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" tail tail")).as("text")))
  }

  /** CDC fixture: the corpus plus prefix-shifted copies of the first 40
    * docs — the insertion pattern fixed-width blocking cannot dedup and
    * CDC realigns on. DuckDB twin inside [[cdcCte]] — change BOTH.
    */
  /** Span-scrub fixture: every doc < 60 gets a planted self-concatenation
    * (X ‖ X) under a fresh id — its first-half blocks duplicate the
    * original's exactly (same alignment), the second half realigns only
    * when n_tokens ≡ 0 (mod k), so the fixture exercises full, partial,
    * and boundary-straddling removal in one table.
    */
  private def spanFixture(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") < 60)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text")))
  }

  private def cdcFixture(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") < 40)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(lit("inserted preamble words "), col("text")).as("text")))
  }

  private val nearDupCte: String =
    """WITH docs2 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 2000
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text || ' tail tail' AS text
      |  FROM documents
      |  WHERE doc_id < 100 AND len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 12
      |),
      |dsh AS (
      |  SELECT doc_id AS id,
      |    list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM docs2)
      |  WHERE len(t) >= 3
      |)
      |""".stripMargin

  /** DuckDB twin of the CDC fixture + [[graft.functions.CdcChunksHelper]]
    * recipe (w=3, d=8): per-token sha60 mod P, interior boundaries where
    * the 3-token window fold ≡ 0 mod 8, chunk hash = fold over the chunk.
    * `list_reduce` seeds with the first element, which equals the
    * engine's fold from 0 (first step from 0 yields the element).
    */
  private val cdcCte: String =
    """WITH cdc_base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 400000, 'inserted preamble words ' || text FROM documents WHERE doc_id < 40),
      |cdc_tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM cdc_base),
      |cdc_hs AS (SELECT doc_id, [('0x' || substr(sha256(x),1,15))::BIGINT % 2147483647 FOR x IN t] AS ht FROM cdc_tk),
      |cdc_bd AS (
      |  SELECT doc_id, ht,
      |    [i FOR i IN range(3, len(ht)) IF
      |       list_reduce(ht[i-2:i], (a,b) -> (a*8191+b) % 2147483647) % 8 = 0] AS bs
      |  FROM cdc_hs),
      |cdc_ch AS (SELECT doc_id, ht, list_prepend(0, bs) AS ss, list_append(bs, len(ht)) AS es FROM cdc_bd),
      |cdc_ex AS (
      |  SELECT doc_id, unnest([{'chunk_idx': i-1, 'n_tok': es[i] - ss[i],
      |     'chunk_hash': list_reduce(ht[ss[i]+1:es[i]], (a,b) -> (a*8191+b) % 2147483647)}
      |     FOR i IN range(1, len(ss)+1)], recursive := true)
      |  FROM cdc_ch)
      |""".stripMargin

  // ------------------------------------------------------------------ oracle side

  import graft.functions.Hashing

  /** DuckDB rendering of [[Hashing.sha60]] (60-bit sha256-prefix hash). */
  private def sha60Sql(e: String): String = Hashing.sha60Sql(e)

  /** q_quantile_sketch sample threshold — computed ONCE driver-side and
    * embedded as the same integer literal on both engine and oracle sides
    * (declared before [[oracleSql]]: object init order).
    */
  private val qsThreshold: Long = graft.operators.Quantile.threshold(0.25)

  /** q_group_quantiles sample threshold (50%) — same discipline. */
  private val gqThreshold: Long = graft.operators.Quantile.threshold(0.5)

  /** DuckDB twin of [[graft.operators.Similarity.planeMatrix]] +
    * band sketches: given a relation `src(vec_id, v double[])`, emits CTEs
    * `planes`, `proj`, `sk(vec_id, band, skv)` deriving the identical
    * hyperplane matrix from the same sha256 recipe and the identical
    * left-fold projections (fold order is part of the cross-engine
    * contract — list_dot_product is NOT used for the sign test).
    */
  private def lshSketchCte(src: String, bands: Int, ppb: Int, dims: Int): String = {
    val nPlanes = bands * ppb
    s"""planes AS (SELECT p,
       |    [((${sha60Sql("p::VARCHAR || ',' || i::VARCHAR")} % 1000003) / 500001.5 - 1.0) FOR i IN range($dims)] AS pv
       |  FROM range($nPlanes) t(p)),
       |proj AS (SELECT vec_id, p,
       |    list_reduce([v[d+1] * pv[d+1] FOR d IN range($dims)], (x, y) -> x + y) AS pr
       |  FROM $src, planes),
       |sk AS (SELECT vec_id, p // $ppb AS band,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << (${ppb - 1} - (p % $ppb))) ELSE 0 END) AS BIGINT) AS skv
       |  FROM proj GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.Similarity.kmeansFit]] +
    * [[graft.operators.Similarity.ivfKnnWith]]: `iters` UNROLLED Lloyd
    * steps (assign by 1-probe argmax, per-dimension r6-rounded means,
    * empty clusters keep the previous centroid), then the IVF search.
    * The rounding is what makes an iterative float fit hash-stable across
    * engines — see kmeansFit's scaladoc.
    */
  /** The three fixed-parameter ANN oracles as defs so q_knn_recall can
    * embed the SAME SQL its per-method siblings verify (subquery reuse —
    * the recall oracle cannot drift from the per-method ones).
    */
  private def knnBruteSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT * FROM e WHERE vec_id < 3),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    floor((list_dot_product(q.v, c.v) /
      |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))) * 1000000 + 0.5) / 1000000 AS cosine
      |  FROM q, e c WHERE q.vec_id <> c.vec_id)
      |SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored) s WHERE rank <= 5""".stripMargin

  private def knnLshSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e),
       |${lshSketchCte("e", bands = 24, ppb = 4, dims = 64)},
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM sk q JOIN sk c ON q.band = c.band AND q.skv = c.skv AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 3),
       |scored AS (SELECT query_id, neighbor_id,
       |    floor((list_dot_product(qn.v, cn.v) / (qn.nv * cn.nv)) * 1000000 + 0.5) / 1000000 AS cosine
       |  FROM cand JOIN n qn ON qn.vec_id = query_id JOIN n cn ON cn.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) s WHERE rank <= 5""".stripMargin

  private def knnIvfSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e),
      |cents AS (SELECT vec_id AS cid, v AS cv, nv AS cn FROM n ORDER BY vec_id LIMIT 8),
      |ca AS (
      |  SELECT vec_id AS neighbor_id, v AS nbv, nv AS nbn, cid FROM (
      |    SELECT n.vec_id, n.v, n.nv, c.cid,
      |      row_number() OVER (PARTITION BY n.vec_id
      |        ORDER BY list_dot_product(n.v, c.cv) / (n.nv * c.cn) DESC, c.cid) AS r
      |    FROM n, cents c) x WHERE r = 1),
      |qa AS (
      |  SELECT vec_id AS query_id, v AS qv, nv AS qn, cid FROM (
      |    SELECT n.vec_id, n.v, n.nv, c.cid,
      |      row_number() OVER (PARTITION BY n.vec_id
      |        ORDER BY list_dot_product(n.v, c.cv) / (n.nv * c.cn) DESC, c.cid) AS r
      |    FROM n, cents c WHERE n.vec_id < 3) x WHERE r <= 4),
      |cand AS (
      |  SELECT DISTINCT query_id, neighbor_id, qv, qn, nbv, nbn
      |  FROM qa JOIN ca USING (cid) WHERE query_id <> neighbor_id),
      |scored AS (SELECT query_id, neighbor_id,
      |  floor((list_dot_product(qv, nbv) / (qn * nbn)) * 1000000 + 0.5) / 1000000 AS cosine
      |  FROM cand)
      |SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored) s WHERE rank <= 5""".stripMargin

  /** DuckDB twin of [[graft.operators.Similarity.kmeansFit]] as a CTE
    * chain `c0, cn0, a0, m0, c1, cn1, …, cn<iters>` (seeds = first `kCent`
    * rows by id relabeled 0..k−1; each step assigns by cosine with the
    * (csim DESC, cid) tie-break and recomputes r6-rounded per-dimension
    * means, empty clusters keeping their previous centroid). Relies on
    * upstream CTEs `e(vec_id, v)` and `n(vec_id, v, nv)` — shared by the
    * IVF-kmeans and SemDeDup oracles so the fit cannot drift between them.
    */
  private def kmeansChainSql(kCent: Int, dims: Int, iters: Int): String = {
    val steps = (0 until iters).map { i =>
      s"""a$i AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT n.vec_id, n.v, c.cid,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY list_dot_product(n.v, c.cv) / (n.nv * c.cn) DESC, c.cid) AS r
         |    FROM n, cn$i c) x WHERE r = 1),
         |m$i AS (
         |  SELECT cid, d, floor(avg(v[d + 1]) * 1000000 + 0.5) / 1000000 AS m
         |  FROM a$i, range($dims) t(d) GROUP BY 1, 2),
         |c${i + 1} AS (
         |  SELECT p.cid, list(coalesce(m.m, p.cv[t.d + 1]) ORDER BY t.d) AS cv
         |  FROM cn$i p CROSS JOIN range($dims) t(d)
         |  LEFT JOIN m$i m ON m.cid = p.cid AND m.d = t.d
         |  GROUP BY p.cid),
         |cn${i + 1} AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c${i + 1})""".stripMargin
    }.mkString(",\n")
    s"""c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $kCent)),
       |cn0 AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c0),
       |$steps""".stripMargin
  }

  private def ivfKmeansOracle(kCent: Int, dims: Int, iters: Int,
      nProbe: Int, topK: Int): String = {
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e),
       |${kmeansChainSql(kCent, dims, iters)},
       |ca AS (
       |  SELECT vec_id AS neighbor_id, v AS nbv, nv AS nbn, cid FROM (
       |    SELECT n.vec_id, n.v, n.nv, c.cid,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.v, c.cv) / (n.nv * c.cn) DESC, c.cid) AS r
       |    FROM n, cn$iters c) x WHERE r = 1),
       |qa AS (
       |  SELECT vec_id AS query_id, v AS qv, nv AS qn, cid FROM (
       |    SELECT n.vec_id, n.v, n.nv, c.cid,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.v, c.cv) / (n.nv * c.cn) DESC, c.cid) AS r
       |    FROM n, cn$iters c WHERE n.vec_id < 3) x WHERE r <= $nProbe),
       |cand AS (
       |  SELECT DISTINCT query_id, neighbor_id, qv, qn, nbv, nbn
       |  FROM qa JOIN ca USING (cid) WHERE query_id <> neighbor_id),
       |scored AS (SELECT query_id, neighbor_id,
       |  floor((list_dot_product(qv, nbv) / (qn * nbn)) * 1000000 + 0.5) / 1000000 AS cosine
       |  FROM cand)
       |SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) s WHERE rank <= $topK""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.Dedup.semDedup]] over the planted-dup
    * embedding corpus: the shared [[kmeansChainSql]] fit, single-nearest
    * assignment with r6 centroid-cosine, then the within-cluster ε-pair
    * keep-low rule — a row loses iff a same-cluster row within ε has a
    * strictly smaller (cos_centroid, id). Independent derivation: the
    * loser set comes from a plain pair join + CASE, not from replaying the
    * engine's anti-join.
    */
  private def semDedupOracle(kCent: Int, dims: Int, iters: Int,
      eps: Double): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 500000, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 5),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e),
       |${kmeansChainSql(kCent, dims, iters)},
       |asg AS (
       |  SELECT vec_id, v, nv, cid,
       |    floor((list_dot_product(v, cv) / (nv * cn)) * 1000000 + 0.5) / 1000000 AS cos_centroid
       |  FROM (
       |    SELECT n.vec_id, n.v, n.nv, c.cid, c.cv, c.cn,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.v, c.cv) / (n.nv * c.cn) DESC, c.cid) AS r
       |    FROM n, cn$iters c) x WHERE r = 1),
       |losers AS (
       |  SELECT DISTINCT CASE WHEN a.cos_centroid > b.cos_centroid OR
       |      (a.cos_centroid = b.cos_centroid AND a.vec_id > b.vec_id)
       |    THEN a.vec_id ELSE b.vec_id END AS vec_id
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE floor((list_dot_product(a.v, b.v) / (a.nv * b.nv)) * 1000000 + 0.5) / 1000000 >= $eps)
       |SELECT g.vec_id, g.cid, g.cos_centroid,
       |  CAST(CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
       |FROM asg g LEFT JOIN losers l ON g.vec_id = l.vec_id""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.shingleHashSets]] over a
    * relation `src(doc_id, text)`: a parenthesized subquery yielding
    * (id, hs) with the identical token-sha60 → n-gram integer-fold hashes.
    */
  private def hashedShinglesSql(src: String, n: Int): String =
    s"""(SELECT doc_id AS id,
       |   list_distinct([list_reduce([ht[i + j] FOR j IN range($n)],
       |     (a, x) -> (a * 8191 + x) % ${Hashing.P}) FOR i IN range(1, len(ht) - ${n - 2})]) AS hs
       | FROM (SELECT doc_id, [${sha60Sql("tk")} % ${Hashing.P} FOR tk IN t] AS ht
       |       FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM $src) ta) tb
       | WHERE len(ht) >= $n)""".stripMargin

  /** DuckDB twin of one [[graft.operators.Dedup.incrementalMinhashStaged]]
    * batch's shingle/signature/band derivation over a relation
    * `src(doc_id, text)`: emits CTE bodies `hs<sfx>` (id, hs), `bn<sfx>`
    * (id, band, bhash) and `vp<sfx>` (verified within-batch pairs a < b at
    * `threshold`) for splicing into a WITH chain. Parameters pinned to the
    * query's n=3, k=8 signatures, 4 bands × 2 rows (the q_dedup_minhash
    * recipe, byte-identical hashing via [[Hashing.sha60Sql]]/`mixSql`).
    */
  private def mhBatchCtes(sfx: String, src: String, threshold: Double): String =
    s"""hs$sfx AS (SELECT id, hs FROM ${hashedShinglesSql(src, 3)} hx$sfx),
       |sig$sfx AS (SELECT id, [list_min([${Hashing.mixSql("h", "i")} FOR h IN hs]) FOR i IN range(8)] AS sig FROM hs$sfx),
       |bn$sfx AS (SELECT id, b AS band,
       |    ((sig[2 * b + 1] * 8191 + sig[2 * b + 2]) % 2147483647) AS bhash
       |  FROM sig$sfx, range(4) tb$sfx(b)),
       |vp$sfx AS (SELECT a, b FROM (
       |    SELECT c.a, c.b, len(list_intersect(da.hs, db.hs)) AS inter,
       |           len(da.hs) AS sza, len(db.hs) AS szb
       |    FROM (SELECT DISTINCT l.id AS a, r.id AS b
       |          FROM bn$sfx l JOIN bn$sfx r ON l.band = r.band AND l.bhash = r.bhash AND l.id < r.id) c
       |    JOIN hs$sfx da ON da.id = c.a JOIN hs$sfx db ON db.id = c.b) v$sfx
       |  WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= $threshold)""".stripMargin

  private val toolDimJoin =
    s"JOIN ${Enrich.toolDimSql} USING (tool)"

  private val routedCte: String =
    """, routed AS (
      |  SELECT conv_id, turn_idx, text,
      |    unnest(CASE WHEN tool <> '' THEN ['role:' || role, 'tool:' || tool]
      |                ELSE ['role:' || role] END) AS route_key
      |  FROM transcripts WHERE length(text) > 0
      |)
      |""".stripMargin

  /** Stopword-hit scores per language, generated from the same tables the
    * Spark side uses (TextAnalysis.stopwords) so they cannot drift.
    */
  private val langCte: String = {
    val hits = TextAnalysis.stopwords.map { case (l, ws) =>
      val list = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(t, x -> list_contains($list, x))) AS h_$l"
    }.mkString(",\n    ")
    s"""WITH toks AS (
       |  SELECT doc_id, lang, text, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, lang, text, t,
       |    $hits
       |  FROM toks)
       |""".stripMargin
  }

  private val oracleBase: Map[String, String] = Map(
    "q_transcripts" -> (cte + "SELECT * FROM transcripts"),

    "q1_agg" -> "SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY 1",

    "q_parse_grok" -> (cte +
      """SELECT conv_id, turn_idx,
        |  regexp_extract(text, '^([A-Za-z]+)', 1) AS verb,
        |  regexp_extract(text, 'tool=([A-Za-z0-9_]+)', 1) AS tool_x,
        |  CAST(nullif(regexp_extract(text, 'dur=(\d+)ms', 1), '') AS BIGINT) AS dur_ms,
        |  nullif(regexp_extract(text, 'status=([a-z]+)', 1), '') AS status,
        |  nullif(regexp_extract(text, 'note="([^"]*)"', 1), '') AS note
        |FROM transcripts""".stripMargin),

    "q_parse_kv" -> (cte +
      """SELECT conv_id, turn_idx, 'tool' AS kv_key, tool AS kv_value FROM transcripts_ev WHERE tool <> ''
        |UNION ALL SELECT conv_id, turn_idx, 'k', CAST(event_id % 100 AS VARCHAR) FROM transcripts_ev WHERE tool <> ''
        |UNION ALL SELECT conv_id, turn_idx, 'note', 'lvl ' || CAST(event_id % 5 AS VARCHAR) FROM transcripts_ev WHERE tool <> ''
        |UNION ALL SELECT conv_id, turn_idx, 'dur', CAST(event_id % 997 AS VARCHAR) || 'ms' FROM transcripts_ev WHERE tool <> ''
        |UNION ALL SELECT conv_id, turn_idx, 'status', CASE WHEN event_id % 7 = 0 THEN 'err' ELSE 'ok' END FROM transcripts_ev WHERE tool <> ''""".stripMargin),

    "q_audit_parse" ->
      """SELECT event_id,
        |  'SYSCALL' AS a_type,
        |  1700000000 + event_id % 100000 AS epoch_sec,
        |  CAST(rpad(CAST(event_id % 1000 AS VARCHAR), 9, '0') AS BIGINT) AS epoch_nsec,
        |  event_id AS serial,
        |  CASE WHEN event_id % 2 = 0 THEN 'yes' ELSE 'no' END AS success,
        |  '/usr/bin/app with space' AS exe
        |FROM events""".stripMargin,

    "q_dmesg_parse" ->
      """SELECT event_id,
        |  CAST((event_id % 64) % 8 AS INTEGER) AS priority,
        |  CAST((event_id % 64) // 8 AS INTEGER) AS facility,
        |  CASE WHEN event_id % 5 = 0 THEN 'usb'
        |       WHEN event_id % 5 = 1 THEN 'kernel'
        |       WHEN event_id % 5 = 2 THEN 'systemd'
        |       WHEN event_id % 5 = 3 THEN 'docker'
        |       ELSE '' END AS subsystem,
        |  (['emergency','alert','critical','error','warning','notice','info','debug'])[CAST((event_id % 64) % 8 AS INTEGER) + 1] AS priority_name,
        |  (['kernel','user','mail','daemon','auth','syslog','lpr','news'])[CAST((event_id % 64) // 8 AS INTEGER) + 1] AS facility_name,
        |  CAST(CAST(event_id % 100000 AS VARCHAR) || '.' || lpad(CAST(event_id % 1000000 AS VARCHAR), 6, '0') AS DOUBLE) AS ts_rel,
        |  CASE WHEN event_id % 5 = 0 THEN 'usb 1-1: new high-speed USB device'
        |       WHEN event_id % 5 = 1 THEN 'Linux version 6.1.0-generic build'
        |       WHEN event_id % 5 = 2 THEN 'systemd[1]: Started Session'
        |       WHEN event_id % 5 = 3 THEN 'docker daemon started'
        |       ELSE 'zzz unknown message' END AS message
        |FROM events""".stripMargin,

    "q_csv_typedetect" ->
      """SELECT event_id,
        |  CASE event_id % 10 WHEN 0 THEN '1' WHEN 1 THEN 'true' WHEN 2 THEN 'off'
        |    WHEN 3 THEN '42' WHEN 4 THEN '-7' WHEN 5 THEN '3.14' WHEN 6 THEN '1e3'
        |    WHEN 7 THEN '2024-01-02 03:04:05' WHEN 8 THEN 'hello' ELSE '' END AS value,
        |  CASE event_id % 10 WHEN 0 THEN 'bool' WHEN 1 THEN 'bool' WHEN 2 THEN 'bool'
        |    WHEN 3 THEN 'int' WHEN 4 THEN 'int' WHEN 5 THEN 'float' WHEN 6 THEN 'float'
        |    WHEN 7 THEN 'timestamp' WHEN 8 THEN 'string' ELSE 'empty' END AS kind
        |FROM events""".stripMargin,

    "q_csv_fields" ->
      """SELECT event_id, 'v' || CAST(event_id AS VARCHAR) AS field_1,
        |  'x, y' AS field_2, 'z' AS field_3 FROM events""".stripMargin,

    // analytic: every typed slot derived from event_id arithmetic, never
    // from re-running the detection cascade
    "q_csv_typed" ->
      """SELECT event_id,
        |  CAST(event_id AS VARCHAR) AS id,
        |  CASE WHEN event_id % 7 IN (0, 1, 2) THEN 'bool'
        |       WHEN event_id % 7 IN (3, 4) THEN 'int'
        |       WHEN event_id % 7 = 5 THEN 'float' ELSE 'string' END AS flag_kind,
        |  CASE event_id % 7 WHEN 0 THEN TRUE WHEN 1 THEN FALSE WHEN 2 THEN TRUE END AS flag_bool,
        |  CASE event_id % 7 WHEN 3 THEN 42 WHEN 4 THEN -7 END AS flag_int,
        |  CASE event_id % 7 WHEN 5 THEN CAST(3.9 AS DOUBLE) END AS flag_float,
        |  CASE event_id % 7 WHEN 6 THEN 'hello' END AS flag_str,
        |  CASE WHEN event_id % 3 = 1 THEN 'timestamp' ELSE 'string' END AS ts_kind,
        |  CASE WHEN event_id % 3 = 1 THEN TIMESTAMP '2024-01-02 03:04:05' END AS ts_value,
        |  CASE WHEN event_id % 3 = 0 THEN TIMESTAMP '2024-01-02 03:04:00' END AS ts_parsed,
        |  'x, y' AS note
        |FROM events""".stripMargin,

    "q_multiline_haltbefore" -> (cte + multilineOracle("regexp_matches(text, '^(CALL|INFO|ask)')")),

    "q_multiline_through" -> (cte + multilineOracle("NOT regexp_matches(text, '^(CALL|INFO|ask)')")),

    "q_multiline_fsm" -> (cte + multilineOracle("regexp_matches(text, '^(CALL|INFO|ask)')")),

    // analytic: the periodic fixture's parity segmentation in closed form —
    // seg = 2·(t div 5) + [t mod 5 ≥ 3]; no FSM re-run anywhere
    "q_multiline_continuepast" -> (cte + periodicSegOracle(
      "CASE WHEN turn_idx % 5 < 2 THEN 'CONT ' || CAST(turn_idx AS VARCHAR) " +
        "ELSE 'data ' || CAST(turn_idx AS VARCHAR) END",
      "2 * (turn_idx // 5) + (CASE WHEN turn_idx % 5 >= 3 THEN 1 ELSE 0 END)")),

    "q_multiline_haltwith" -> (cte + periodicSegOracle(
      "CASE WHEN turn_idx % 5 >= 2 THEN 'HALT ' || CAST(turn_idx AS VARCHAR) " +
        "ELSE 'data ' || CAST(turn_idx AS VARCHAR) END",
      "2 * (turn_idx // 5) + (CASE WHEN turn_idx % 5 >= 3 THEN 1 ELSE 0 END)")),

    // analytic: seg = 4·(t div 6) + max(0, t mod 6 − 2) — records
    // [6k..6k+2] then three standalones
    "q_multiline_startpattern" -> (cte + periodicSegOracle(
      "CASE WHEN turn_idx % 6 = 0 THEN 'START ' || CAST(turn_idx AS VARCHAR) " +
        "WHEN turn_idx % 6 <= 2 THEN '  cont ' || CAST(turn_idx AS VARCHAR) " +
        "ELSE 'stray ' || CAST(turn_idx AS VARCHAR) END",
      "4 * (turn_idx // 6) + greatest(0, turn_idx % 6 - 2)")),

    "q_enrich" -> (cte +
      s"""SELECT conv_id, turn_idx, tool, tool_family, tool_label, 'graft' AS host
         |FROM transcripts $toolDimJoin WHERE tool <> ''""".stripMargin),

    "q_filter_substring" -> (cte +
      """SELECT conv_id, turn_idx, text FROM transcripts
        |WHERE (text LIKE '%status=err%' OR text LIKE '%ask%')
        |  AND text NOT LIKE '%note="lvl 4"%'""".stripMargin),

    // analytic: *.log ⇔ id%4=0; file_1*.txt ⇔ id%4=1 and id starts "1";
    // exclude *3.log ⇔ id%4=0 and id ends "3"; dir include inert (specific
    // includes present)
    "q_path_filter" ->
      """SELECT event_id,
        |  '/data/logs/app' || CAST(event_id % 5 AS VARCHAR) || '/file_' || CAST(event_id AS VARCHAR) ||
        |    (CASE event_id % 4 WHEN 0 THEN '.log' WHEN 1 THEN '.txt' WHEN 2 THEN '.json' ELSE '.tmp' END) AS path
        |FROM events
        |WHERE (event_id % 4 = 0
        |       OR (event_id % 4 = 1 AND CAST(event_id AS VARCHAR) LIKE '1%'))
        |  AND NOT (event_id % 4 = 0 AND CAST(event_id AS VARCHAR) LIKE '%3')""".stripMargin,

    "q_sink_counts" -> (cte + routedCte +
      """SELECT 'all' AS sink, route_key, count(*) AS rows_delivered,
        |       CAST(sum(length(text)) AS BIGINT) AS bytes_delivered
        |FROM routed GROUP BY 2
        |UNION ALL
        |SELECT 'errors', route_key, count(*), CAST(sum(length(text)) AS BIGINT)
        |FROM routed WHERE text LIKE '%status=err%' GROUP BY 2
        |UNION ALL
        |SELECT 'clean', route_key, count(*), CAST(sum(length(text)) AS BIGINT)
        |FROM routed WHERE text NOT LIKE '%status=err%' AND text NOT LIKE '%INFO%' GROUP BY 2""".stripMargin),

    "q_blank_accounting" -> (cte +
      """SELECT count(*) AS input_rows,
        |  CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS blank_rows,
        |  CAST(sum(CASE WHEN length(text) > 0 THEN (CASE WHEN tool <> '' THEN 2 ELSE 1 END) ELSE 0 END) AS BIGINT) AS routed_rows
        |FROM transcripts""".stripMargin),

    "q_conv_turn_counts" -> (cte +
      """SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS last_turn
        |FROM transcripts GROUP BY 1""".stripMargin),

    "q_tool_usage" -> (cte +
      s"""SELECT tool_family, count(*) AS n_calls,
         |  CAST(sum(event_id % 997) AS BIGINT) AS total_dur_ms,
         |  CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_err
         |FROM transcripts_ev $toolDimJoin
         |WHERE tool <> '' GROUP BY 1""".stripMargin),

    "q_fingerprint" ->
      """SELECT doc_id,
        |  sha256(substring(text, 1, 64)) AS fp_checksum,
        |  sha256(array_to_string((string_split(text, ' '))[1:3], ' ') || ' ') AS fp_sep
        |FROM documents
        |WHERE length(text) >= 64 AND len(string_split(text, ' ')) > 3""".stripMargin,

    "q_split_explode" ->
      "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents",

    "q_dedup_exact" ->
      """WITH d2 AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id < 30)
        |SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM d2 GROUP BY 1""".stripMargin,

    "q_dedup_ngram" -> (nearDupCte +
      """, inv AS (SELECT id, unnest(sh) AS s FROM dsh),
        |pairs AS (SELECT l.id AS a, r.id AS b, count(*) AS inter
        |          FROM inv l JOIN inv r ON l.s = r.s AND l.id < r.id GROUP BY 1, 2)
        |SELECT a, b, floor((CAST(inter AS DOUBLE) / (len(da.sh) + len(db.sh) - inter)) * 1000000 + 0.5) / 1000000 AS jaccard
        |FROM pairs JOIN dsh da ON da.id = a JOIN dsh db ON db.id = b
        |WHERE CAST(inter AS DOUBLE) / (len(da.sh) + len(db.sh) - inter) >= 0.6""".stripMargin),

    "q_dedup_minhash" -> (nearDupCte +
      s""", hsh AS (SELECT id, hs FROM ${hashedShinglesSql("docs2", 3)} hx),
         |sigs AS (SELECT id, [list_min([${Hashing.mixSql("h", "i")} FOR h IN hs]) FOR i IN range(8)] AS sig FROM hsh),
         |bands AS (SELECT id, b AS band,
         |    ((sig[2 * b + 1] * 8191 + sig[2 * b + 2]) % 2147483647) AS bhash
         |  FROM sigs, range(4) t(b)),
         |cand AS (SELECT DISTINCT l.id AS a, r.id AS b
         |         FROM bands l JOIN bands r ON l.band = r.band AND l.bhash = r.bhash AND l.id < r.id)
         |SELECT a, b, floor((CAST(inter AS DOUBLE) / (sza + szb - inter)) * 1000000 + 0.5) / 1000000 AS jaccard FROM (
         |  SELECT c.a, c.b, len(list_intersect(da.hs, db.hs)) AS inter,
         |         len(da.hs) AS sza, len(db.hs) AS szb
         |  FROM cand c JOIN hsh da ON da.id = c.a JOIN hsh db ON db.id = c.b) v
         |WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= 0.6""".stripMargin),

    // near-dup clusters: the verified pair graph (same derivation as
    // q_dedup_minhash via mhBatchCtes) closed transitively by a recursive
    // CTE — component label = min reachable id over symmetric edges, the
    // same fixpoint the engine's label propagation converges to
    "q_dedup_clusters" ->
      ("WITH RECURSIVE " + nearDupCte.stripPrefix("WITH ") + ", " +
        mhBatchCtes("c", "docs2", 0.6) +
        s""",
           |ed AS (SELECT a, b FROM vpc UNION ALL SELECT b, a FROM vpc),
           |rc(id, r) AS (
           |  SELECT DISTINCT a, a FROM ed
           |  UNION
           |  SELECT ed.a, rc.r FROM ed JOIN rc ON rc.id = ed.b),
           |cl AS (SELECT id, min(r) AS cluster FROM rc GROUP BY id),
           |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members FROM cl GROUP BY 1)
           |SELECT cl.id AS doc_id, cl.cluster, sz.n_members
           |FROM cl JOIN sz USING (cluster)""".stripMargin),

    // canonical pick: the same recursive-CTE cluster closure, then the
    // keep/drop argmax (longest text, tie lowest id) re-derived per cluster
    "q_dedup_canonical" ->
      ("WITH RECURSIVE " + nearDupCte.stripPrefix("WITH ") + ", " +
        mhBatchCtes("c", "docs2", 0.6) +
        s""",
           |ed AS (SELECT a, b FROM vpc UNION ALL SELECT b, a FROM vpc),
           |rc(id, r) AS (
           |  SELECT DISTINCT a, a FROM ed
           |  UNION
           |  SELECT ed.a, rc.r FROM ed JOIN rc ON rc.id = ed.b),
           |cl AS (SELECT id, min(r) AS cluster FROM rc GROUP BY id),
           |ln AS (SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS text_len FROM docs2),
           |pk AS (SELECT cl.id, cl.cluster, ln.text_len,
           |         row_number() OVER (PARTITION BY cl.cluster ORDER BY ln.text_len DESC, cl.id) AS rn
           |       FROM cl JOIN ln USING (id))
           |SELECT id AS doc_id, cluster, text_len, (rn = 1) AS keep FROM pk""".stripMargin),

    // bucketed-store dedup: survivors classified in the TEXT domain
    // (NOT IN against A's texts) — the engine anti-joins 8-byte sha60
    // hashes against the bucketed table; two independent domains agreeing
    "q_dedup_bucketed" ->
      """WITH a AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |      UNION ALL
        |      SELECT doc_id + 400000 AS doc_id, text FROM documents
        |      WHERE doc_id % 2 = 0 AND doc_id < 40)
        |SELECT b.doc_id, b.text FROM b
        |WHERE b.text NOT IN (SELECT text FROM a)""".stripMargin,

    // incremental exact dedup: B's survivors = B deduped within itself
    // (lowest id per content), minus any content batch A committed — the
    // same sha60 store key the engine anti-joins on
    "q_dedup_incremental" ->
      s"""WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id + 400000, text FROM documents WHERE doc_id % 2 = 0 AND doc_id < 40
         |  UNION ALL SELECT doc_id + 500000, text FROM documents WHERE doc_id % 2 = 1 AND doc_id < 20),
         |bex AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM b0) tx WHERE rn = 1)
         |SELECT doc_id, text FROM bex
         |WHERE ${sha60Sql("text")} NOT IN (SELECT ${sha60Sql("text")} FROM a)""".stripMargin,

    // incremental MinHash near-dup: every stage of the two-batch campaign
    // re-derived — batch A's within-batch dedup decides what the store
    // holds; batch B is exact-filtered against A's survivors, LSH-deduped
    // within itself, then band-matched + Jaccard-verified against A's
    // stored signatures. Stage order mirrors incrementalMinhashStaged.
    "q_neardup_incremental" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
         |a0 AS (SELECT doc_id, text FROM d WHERE doc_id % 2 = 0
         |  UNION ALL SELECT 900000, 'aa bb'),
         |b0 AS (SELECT doc_id, text FROM d WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id + 700000, text || ' tail tail' FROM d
         |    WHERE doc_id % 2 = 0 AND doc_id < 60
         |      AND len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 12
         |  UNION ALL SELECT doc_id + 800000, text FROM d WHERE doc_id % 2 = 0 AND doc_id < 40
         |  UNION ALL SELECT 900001, 'aa bb' UNION ALL SELECT 900002, 'aa bb'),
         |aex AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM a0) t0 WHERE rn = 1),
         |${mhBatchCtes("a", "aex", 0.6)},
         |ak AS (SELECT doc_id, text FROM aex WHERE doc_id NOT IN (SELECT b FROM vpa)),
         |bex AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM b0) t1 WHERE rn = 1),
         |bun AS (SELECT doc_id, text FROM bex
         |  WHERE ${sha60Sql("text")} NOT IN (SELECT ${sha60Sql("text")} FROM ak)),
         |${mhBatchCtes("b", "bun", 0.6)},
         |bk AS (SELECT doc_id, text FROM bun WHERE doc_id NOT IN (SELECT b FROM vpb)),
         |cx AS (SELECT DISTINCT l.id AS a, r.id AS b
         |  FROM bnb l JOIN bna r ON l.band = r.band AND l.bhash = r.bhash
         |  WHERE l.id IN (SELECT doc_id FROM bk) AND r.id IN (SELECT doc_id FROM ak)),
         |mx AS (SELECT DISTINCT vx.a FROM (
         |    SELECT c.a, len(list_intersect(da.hs, db.hs)) AS inter,
         |           len(da.hs) AS sza, len(db.hs) AS szb
         |    FROM cx c JOIN hsb da ON da.id = c.a JOIN hsa db ON db.id = c.b) vx
         |  WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= 0.6)
         |SELECT doc_id, text FROM bk WHERE doc_id NOT IN (SELECT a FROM mx)""".stripMargin,

    // store retraction: the post-retraction store = A's within-batch
    // survivors whose provenance (the surviving row's src) is NOT the
    // retracted source; B's survivors = B deduped within itself minus
    // that store — f1-attributed content reopens, f2-attributed stays
    "q_dedup_retract" ->
      s"""WITH a0 AS (SELECT doc_id, text,
         |    CASE WHEN doc_id % 4 = 0 THEN 'f1' ELSE 'f2' END AS src
         |  FROM documents WHERE doc_id % 2 = 0),
         |aex AS (SELECT doc_id, text, src FROM (
         |    SELECT doc_id, text, src, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM a0) t0 WHERE rn = 1),
         |store AS (SELECT text FROM aex WHERE src = 'f2'),
         |b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id + 600000, text FROM documents WHERE doc_id % 2 = 0 AND doc_id < 80),
         |bex AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM b0) t1 WHERE rn = 1)
         |SELECT doc_id, text FROM bex
         |WHERE ${sha60Sql("text")} NOT IN (SELECT ${sha60Sql("text")} FROM store)""".stripMargin,

    // SimHash: identical 60-bit fingerprints re-derived from sha256 token
    // hashes; 15-bit quarter blocking, exact hamming verify — the same
    // dataflow as Dedup.simhashPairs
    "q_dedup_simhash" -> (nearDupCte +
      s""", stoks AS (SELECT doc_id AS id,
         |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
         |  FROM docs2),
         |shs AS (SELECT id, [${sha60Sql("tok")} FOR tok IN t] AS hs FROM stoks),
         |fps AS (SELECT id, CASE WHEN len(hs) = 0 THEN 0 ELSE
         |    CAST(list_sum([CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) % 2 = 1)) > len(hs)
         |                   THEN (1::BIGINT << b) ELSE 0 END FOR b IN range(60)]) AS BIGINT)
         |  END AS fp FROM shs),
         |blocks AS (SELECT id, fp, q, (fp >> (q * 15)) & 32767 AS qv FROM fps, range(4) t(q))
         |SELECT a, b, dist FROM (
         |  SELECT DISTINCT l.id AS a, r.id AS b,
         |    CAST(bit_count(xor(l.fp, r.fp)) AS INTEGER) AS dist
         |  FROM blocks l JOIN blocks r ON l.q = r.q AND l.qv = r.qv AND l.id < r.id) p
         |WHERE dist <= 3""".stripMargin),

    "q_cdc_chunks" -> (cdcCte +
      "SELECT doc_id, chunk_idx, n_tok, chunk_hash FROM cdc_ex"),

    "q_cdc_dedup" -> (cdcCte +
      """, cdc_rk AS (
        |  SELECT doc_id, n_tok,
        |    row_number() OVER (PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx) AS rn
        |  FROM cdc_ex)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tokens,
        |  floor((CAST(sum(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS DOUBLE) / sum(n_tok)) * 1000000 + 0.5) / 1000000 AS dup_frac
        |FROM cdc_rk GROUP BY 1""".stripMargin),

    // duplicated-span removal re-derived: same fixture (X ‖ X plants),
    // same 8-token blocks + 'span:'-prefixed sha60, keep-first row_number,
    // reconstruction via list comprehension over kept block slices + tail
    "q_span_scrub" ->
      s"""WITH docs_sp AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 500000 AS doc_id, text || ' ' || text AS text
         |  FROM documents WHERE doc_id < 60),
         |base AS (SELECT doc_id, t, len(t) AS n_tokens,
         |    CAST(len(t) // 8 AS INT) AS nb
         |  FROM (SELECT doc_id,
         |          regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         |        FROM docs_sp) q0),
         |occ AS (SELECT doc_id, i AS block_idx,
         |    ${sha60Sql("'span:' || array_to_string(list_slice(t, i * 8 + 1, i * 8 + 8), ' ')")} AS h
         |  FROM base, unnest(range(0, nb)) u(i)),
         |rem AS (SELECT doc_id, block_idx FROM (
         |    SELECT doc_id, block_idx,
         |      row_number() OVER (PARTITION BY h ORDER BY doc_id, block_idx) AS rn
         |    FROM occ) q1 WHERE rn > 1),
         |remd AS (SELECT doc_id, list(block_idx ORDER BY block_idx) AS remx
         |  FROM rem GROUP BY 1)
         |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(b.nb AS BIGINT) AS n_blocks,
         |  CAST(coalesce(len(remx), 0) AS BIGINT) AS n_removed_blocks,
         |  CAST(coalesce(len(remx), 0) * 8 AS BIGINT) AS removed_tokens,
         |  coalesce(array_to_string(
         |    flatten([list_slice(t, i * 8 + 1, i * 8 + 8)
         |             FOR i IN range(0, nb)
         |             IF remx IS NULL OR NOT list_contains(remx, i)])
         |    || list_slice(t, nb * 8 + 1, len(t)), ' '), '') AS clean_text
         |FROM base b LEFT JOIN remd USING (doc_id)""".stripMargin,

    // cross-source matrix: the q_dedup_minhash pair derivation kept with
    // its jaccard, folded over the documents source dimension (planted
    // +100000 ids map back to their original's source)
    "q_source_dup_matrix" -> (nearDupCte +
      s""", hsm AS (SELECT id, hs FROM ${hashedShinglesSql("docs2", 3)} hxm),
         |sigm AS (SELECT id, [list_min([${Hashing.mixSql("h", "i")} FOR h IN hs]) FOR i IN range(8)] AS sig FROM hsm),
         |bandm AS (SELECT id, b AS band,
         |    ((sig[2 * b + 1] * 8191 + sig[2 * b + 2]) % 2147483647) AS bhash
         |  FROM sigm, range(4) tm(b)),
         |vjm AS (SELECT a, b, CAST(inter AS DOUBLE) / (sza + szb - inter) AS j FROM (
         |    SELECT c.a, c.b, len(list_intersect(da.hs, db.hs)) AS inter,
         |           len(da.hs) AS sza, len(db.hs) AS szb
         |    FROM (SELECT DISTINCT l.id AS a, r.id AS b
         |          FROM bandm l JOIN bandm r ON l.band = r.band AND l.bhash = r.bhash AND l.id < r.id) c
         |    JOIN hsm da ON da.id = c.a JOIN hsm db ON db.id = c.b) vm
         |  WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= 0.6),
         |spm AS (SELECT CASE WHEN a >= 100000 THEN a - 100000 ELSE a END AS oa,
         |               CASE WHEN b >= 100000 THEN b - 100000 ELSE b END AS ob, j FROM vjm),
         |sjm AS (SELECT least(sa.source, sb.source) AS src_lo,
         |               greatest(sa.source, sb.source) AS src_hi,
         |               CAST(floor(j * 1000000 + 0.5) AS BIGINT) AS jm
         |        FROM spm JOIN documents sa ON sa.doc_id = oa
         |                 JOIN documents sb ON sb.doc_id = ob)
         |SELECT src_lo, src_hi, count(*) AS n_pairs,
         |  CAST(sum(jm) AS BIGINT) AS j_micros,
         |  floor((CAST(sum(jm) AS DOUBLE) / (count(*) * 1000000.0)) * 1000000 + 0.5) / 1000000 AS mean_jaccard
         |FROM sjm GROUP BY 1, 2""".stripMargin),

    // hyperplane-LSH ANN: sketches from the sha256-derived plane matrix,
    // bucket-join candidates, exact rerank — Similarity.lshKnn verbatim
    "q_knn_lsh" -> knnLshSql,

    // embedding near-dup: LSH-band blocking + exact cosine verify —
    // Dedup.embeddingNearDup verbatim (12 bands × 6 planes)
    "q_emb_neardup" ->
      (s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |e AS (SELECT * FROM e0 UNION ALL SELECT vec_id + 500000, v FROM e0 WHERE vec_id < 5),
          |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e),
          |${lshSketchCte("e", bands = 12, ppb = 6, dims = 64)},
          |cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
          |  FROM sk l JOIN sk r ON l.band = r.band AND l.skv = r.skv AND l.vec_id < r.vec_id)
          |SELECT a, b, floor((list_dot_product(na.v, nb.v) / (na.nv * nb.nv)) * 1000000 + 0.5) / 1000000 AS cosine
          |FROM cand JOIN n na ON na.vec_id = a JOIN n nb ON nb.vec_id = b
          |WHERE list_dot_product(na.v, nb.v) / (na.nv * nb.nv) >= 0.9""".stripMargin),

    "q_knn_brute" -> knnBruteSql,

    "q_knn_ivf" -> knnIvfSql,

    "q_semdedup" -> semDedupOracle(kCent = 8, dims = 64, iters = 2, eps = 0.92),
    "q_knn_ivf_kmeans" -> ivfKmeansOracle(kCent = 8, dims = 64, iters = 2,
      nProbe = 4, topK = 5),

    // ANN recall accounting: every approximate variant's top-5 joined
    // against the brute-force top-5 — the eval artifact an ANN deployment
    // is judged by; each leg's SQL is the (already-verified) per-method
    // oracle embedded as a subquery, so the recall oracle cannot drift
    // from the per-method ones
    "q_knn_recall" ->
      s"""WITH brute AS (SELECT query_id, neighbor_id FROM ($knnBruteSql) zb),
         |ap AS (
         |  SELECT 'lsh' AS method, query_id, neighbor_id FROM ($knnLshSql) z1
         |  UNION ALL
         |  SELECT 'ivf' AS method, query_id, neighbor_id FROM ($knnIvfSql) z2
         |  UNION ALL
         |  SELECT 'ivf_kmeans' AS method, query_id, neighbor_id
         |  FROM (${ivfKmeansOracle(kCent = 8, dims = 64, iters = 2, nProbe = 4, topK = 5)}) z3),
         |mk AS (SELECT method, ap.query_id,
         |         CASE WHEN b.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
         |       FROM ap LEFT JOIN brute b
         |         ON b.query_id = ap.query_id AND b.neighbor_id = ap.neighbor_id)
         |SELECT method, query_id, CAST(count(*) AS BIGINT) AS n_returned,
         |  CAST(sum(hit) AS BIGINT) AS n_hit,
         |  floor(sum(hit) / 5.0 * 1000000 + 0.5) / 1000000 AS recall_at_5
         |FROM mk GROUP BY 1, 2""".stripMargin,

    // packing efficiency report: the q_pack_sequences derivation
    // aggregated per shard — bins = ceil(total/2048) because the cumsum
    // layout is gap-free by construction
    "q_pack_report" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(doc_id % 16 AS INTEGER) AS shard,
        |    CAST(greatest(
        |      CASE WHEN length(trim(text)) = 0 THEN 0
        |           ELSE len(regexp_split_to_array(trim(text), '\s+')) END,
        |      CAST(ceil(length(text) / 4.0) AS INTEGER)) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM t),
        |s AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n) AS BIGINT) AS n_tokens,
        |        CAST(sum(CASE WHEN n > 0
        |              AND ((start_tok + n - 1) // 2048) > (start_tok // 2048)
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_straddles
        |      FROM c GROUP BY 1)
        |SELECT shard, n_docs, n_tokens,
        |  (n_tokens + 2047) // 2048 AS n_bins, n_straddles,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |       ELSE floor(n_tokens / (((n_tokens + 2047) // 2048) * 2048.0)
        |              * 1000000 + 0.5) / 1000000 END AS fill_frac
        |FROM s""".stripMargin,

    "q_sample_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN h < 980 THEN 'train' WHEN h < 990 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |  (${sha60Sql("'split:' || CAST(doc_id AS VARCHAR)")}) % 1000 AS h
         |  FROM documents) t""".stripMargin,

    // source mixing: the engine blends via a broadcast rate dimension; the
    // oracle derives the same per-source permille analytically from the
    // source name (src<N> → 1000 − 47·N) — an independent path to the blend
    "q_mix_sources" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ((${sha60Sql("'mix:' || CAST(doc_id AS VARCHAR)")}) % 1000)
         |  < (1000 - 47 * TRY_CAST(substr(source, 4) AS INTEGER))""".stripMargin,

    // per-source report: the q_quality derivation re-run per doc, then
    // exact integer-micro aggregation and the same micro-ratio mean
    "q_source_report" -> (langCte +
      s""", qd AS (
        |  SELECT doc_id,
        |    n_tokens,
        |    CAST(floor((CASE WHEN n_tokens = 0 THEN 0.0 ELSE
        |      least(1.0, n_tokens / 64.0) * 0.5
        |      + least(1.0, stopword_ratio * 4) * 0.3
        |      + (1.0 - least(1.0, punct_ratio * 5)) * 0.2 END) * 1000000 + 0.5) AS BIGINT) AS q_micros
        |  FROM (
        |    SELECT doc_id, len(t) AS n_tokens,
        |      floor((CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS punct_ratio,
        |      floor((CASE WHEN len(t) > 0 THEN CAST(h_en AS DOUBLE) / len(t) ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS stopword_ratio
        |    FROM sc) r)
        |SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
        |  CAST(sum(qd.n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(qd.q_micros) AS BIGINT) AS quality_micros,
        |  floor(sum(qd.q_micros) / count(*) + 0.5) / 1000000 AS mean_quality
        |FROM qd JOIN documents d USING (doc_id)
        |GROUP BY 1""".stripMargin),

    // epoch upsampling: same ring, analytic rates (src<N> → 2000 − 83·N),
    // copies = r div 1000 (+1 under the fractional ring), unnested 0-based
    "q_mix_epochs" ->
      s"""SELECT doc_id, source, CAST(unnest(range(copies)) AS INTEGER) AS epoch
         |FROM (
         |  SELECT doc_id, source,
         |    (r // 1000) + CASE WHEN ring < (r % 1000) THEN 1 ELSE 0 END AS copies
         |  FROM (SELECT doc_id, source,
         |    ((${sha60Sql("'mix:' || CAST(doc_id AS VARCHAR)")}) % 1000) AS ring,
         |    (2000 - 83 * TRY_CAST(substr(source, 4) AS INTEGER)) AS r
         |    FROM documents) t) c
         |WHERE copies > 0""".stripMargin,

    // temperature blend: rates re-fit in SQL — sqrt shares (sum folded in
    // source-name order from the first element ≡ seed-0.0 fold), integer
    // floor-division budget, the same (budget·1000.0·q)/c_s op order, then
    // the tmix ring membership and per-source outcome aggregate
    "q_mix_temperature" ->
      s"""WITH tk AS (SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS toks
         |  FROM documents),
         |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(toks) AS BIGINT) AS n_tokens FROM tk GROUP BY 1),
         |tot AS (SELECT (CAST(sum(n_tokens) AS BIGINT) * 500) // 1000 AS budget,
         |    list_reduce(list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source),
         |      (a, b) -> a + b) AS sum_sqrt
         |  FROM c),
         |rt AS (SELECT c.source, c.n_docs, c.n_tokens,
         |    CAST(least(1000.0, floor((CAST(tot.budget AS DOUBLE) * 1000.0 *
         |        (sqrt(CAST(c.n_tokens AS DOUBLE)) / tot.sum_sqrt))
         |      / CAST(c.n_tokens AS DOUBLE))) AS INTEGER) AS rate_permille
         |  FROM c, tot),
         |smp AS (SELECT tk.source,
         |    CAST(count(*) AS BIGINT) AS sampled_docs,
         |    CAST(sum(tk.toks) AS BIGINT) AS sampled_tokens
         |  FROM tk JOIN rt USING (source)
         |  WHERE ((${sha60Sql("'tmix:' || CAST(doc_id AS VARCHAR)")}) % 1000)
         |    < rate_permille
         |  GROUP BY 1)
         |SELECT rt.source, rt.n_docs, rt.n_tokens, rt.rate_permille,
         |  coalesce(smp.sampled_docs, 0) AS sampled_docs,
         |  coalesce(smp.sampled_tokens, 0) AS sampled_tokens
         |FROM rt LEFT JOIN smp USING (source)""".stripMargin,

    // shard + order: same two decorrelated hash rings, rank within shard
    "q_shard_order" ->
      s"""SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ho, doc_id) AS INTEGER) AS pos
         |FROM (SELECT doc_id,
         |  CAST((${sha60Sql("'shard:' || CAST(doc_id AS VARCHAR)")}) % 16 AS INTEGER) AS shard,
         |  (${sha60Sql("'ord:' || CAST(doc_id AS VARCHAR)")}) AS ho
         |  FROM documents) t""".stripMargin,

    // shard manifest: the identical rings and fold re-derived via the
    // ordered list aggregate (first-element seed ≡ fold-from-0, h < P)
    "q_shard_manifest" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST((${sha60Sql("'shard:' || CAST(doc_id AS VARCHAR)")}) % 16 AS INTEGER) AS shard,
         |    (${sha60Sql("'ord:' || CAST(doc_id AS VARCHAR)")}) AS ho,
         |    (${sha60Sql("text")}) % ${Hashing.P} AS h,
         |    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  list_reduce(list(h ORDER BY ho, doc_id), (a, b) -> (a*8191+b) % ${Hashing.P}) AS content_fp
         |FROM t GROUP BY 1""".stripMargin,

    "q_decontaminate" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000, 'prefix words ' || text FROM documents
         |  WHERE doc_id % 97 = 0 AND doc_id < 300),
         |sh8 AS (SELECT id AS doc_id, unnest(hs) AS h FROM ${hashedShinglesSql("corpus", 8)} hx),
         |b AS (SELECT DISTINCT h FROM sh8 WHERE doc_id % 97 = 0)
         |SELECT DISTINCT doc_id FROM sh8
         |WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM b)""".stripMargin,

    // packing: the identical per-shard exclusive-prefix cumsum in SQL;
    // straddle gate n > 0 keeps floor-division semantics aligned (DuckDB
    // // floors negatives, Spark casts truncate — both sides avoid the
    // negative operand entirely)
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(doc_id % 16 AS INTEGER) AS shard,
        |    CAST(greatest(
        |      CASE WHEN length(trim(text)) = 0 THEN 0
        |           ELSE len(regexp_split_to_array(trim(text), '\s+')) END,
        |      CAST(ceil(length(text) / 4.0) AS INTEGER)) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM t)
        |SELECT doc_id, shard, start_tok, start_tok // 2048 AS bin_id,
        |  CASE WHEN n > 0 THEN ((start_tok + n - 1) // 2048) > (start_tok // 2048)
        |       ELSE FALSE END AS straddles
        |FROM c""".stripMargin,

    // conversation QC: same whitespace token rule as q_token_count; the
    // lag/aggregate pair re-derived independently over the events CTE
    "q_conv_qc" -> (cte +
      """, qt AS (
        |  SELECT conv_id, turn_idx, role, text,
        |    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok
        |  FROM transcripts)
        |SELECT conv_id, count(*) AS n_turns,
        |  max(CASE WHEN turn_idx = 0 AND role = 'user' THEN 1 ELSE 0 END) = 1 AS starts_with_user,
        |  CAST(sum(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
        |  CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT) AS n_role_repeats,
        |  CAST(sum(CASE WHEN role = 'tool' AND text LIKE '%status=err%' THEN 1 ELSE 0 END) AS BIGINT) AS n_err_calls,
        |  CAST(sum(CASE WHEN role = 'assistant' THEN n_tok ELSE 0 END) AS BIGINT) AS assistant_tokens,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  floor((CASE WHEN sum(n_tok) > 0
        |    THEN CAST(sum(CASE WHEN role = 'assistant' THEN n_tok ELSE 0 END) AS DOUBLE) / sum(n_tok)
        |    ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS trainable_frac
        |FROM qt GROUP BY 1""".stripMargin),

    // loss spans: exclusive prefix sum per conversation (the
    // q_pack_sequences window keyed by conv_id)
    "q_loss_spans" -> (cte +
      """, t AS (
        |  SELECT conv_id, turn_idx, role,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok
        |  FROM transcripts),
        |c AS (
        |  SELECT conv_id, turn_idx, role, n_tok,
        |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS span_start
        |  FROM t)
        |SELECT conv_id, turn_idx, n_tok, span_start,
        |  span_start + n_tok AS span_end, role = 'assistant' AS trainable
        |FROM c""".stripMargin),

    // salted fingerprint: the PLAIN single ordered fold — the engine runs
    // the bucketed two-phase pow_mod composition, so agreement proves the
    // composition law rather than replaying the same computation
    "q_conv_fp_salted" -> (cte +
      s""", cth AS (SELECT conv_id, turn_idx,
         |    (${sha60Sql("role || ':' || text")}) % 2147483647 AS h FROM transcripts)
         |SELECT conv_id,
         |  list_reduce(list(h ORDER BY turn_idx), (a,b) -> (a*8191+b) % 2147483647) AS conv_fp,
         |  CAST(count(*) AS BIGINT) AS n_turns
         |FROM cth GROUP BY 1""".stripMargin),

    // conversation dedup: the identical fold re-derived via DuckDB's
    // ordered list aggregate + list_reduce (first-element seed ≡ fold
    // from 0, same argument as the CDC oracle)
    "q_conv_dedup" -> (cte +
      s""", convs AS (
         |  SELECT conv_id, turn_idx, role, text FROM transcripts
         |  UNION ALL
         |  SELECT conv_id || '-copy' AS conv_id, turn_idx, role, text
         |  FROM transcripts WHERE conv_id < 'conv-000021'),
         |cth AS (SELECT conv_id, turn_idx,
         |    (${sha60Sql("role || ':' || text")}) % 2147483647 AS h FROM convs),
         |cfp AS (SELECT conv_id,
         |    list_reduce(list(h ORDER BY turn_idx), (a,b) -> (a*8191+b) % 2147483647) AS conv_fp,
         |    CAST(count(*) AS BIGINT) AS n_turns
         |  FROM cth GROUP BY 1)
         |SELECT conv_fp, min(conv_id) AS keep_conv, count(*) AS n_copies,
         |  max(n_turns) AS n_turns
         |FROM cfp GROUP BY 1""".stripMargin),

    // conversation near-dup: the q_dedup_minhash oracle chain verbatim,
    // applied to the concatenated-conversation relation (string_agg in
    // turn order ≡ the engine's sorted concat_ws)
    "q_conv_neardup" -> (cte +
      s""", t0 AS (SELECT conv_id, turn_idx, text FROM transcripts),
         |tall AS (SELECT conv_id, turn_idx, text FROM t0
         |  UNION ALL
         |  SELECT conv_id || '-nd' AS conv_id, turn_idx,
         |    CASE WHEN conv_id < 'conv-000010' AND turn_idx = 0
         |         THEN text || ' zz yy' ELSE text END AS text
         |  FROM t0 WHERE conv_id < 'conv-000021'),
         |convd AS (SELECT conv_id AS doc_id,
         |    string_agg(text, chr(10) ORDER BY turn_idx) AS text
         |  FROM tall GROUP BY 1),
         |hsh AS (SELECT id, hs FROM ${hashedShinglesSql("convd", 3)} hx),
         |sigs AS (SELECT id, [list_min([${Hashing.mixSql("h", "i")} FOR h IN hs]) FOR i IN range(8)] AS sig FROM hsh),
         |bands AS (SELECT id, b AS band,
         |    ((sig[2 * b + 1] * 8191 + sig[2 * b + 2]) % 2147483647) AS bhash
         |  FROM sigs, range(4) t(b)),
         |cand AS (SELECT DISTINCT l.id AS a, r.id AS b
         |         FROM bands l JOIN bands r ON l.band = r.band AND l.bhash = r.bhash AND l.id < r.id)
         |SELECT a, b, floor((CAST(inter AS DOUBLE) / (sza + szb - inter)) * 1000000 + 0.5) / 1000000 AS jaccard FROM (
         |  SELECT c.a, c.b, len(list_intersect(da.hs, db.hs)) AS inter,
         |         len(da.hs) AS sza, len(db.hs) AS szb
         |  FROM cand c JOIN hsh da ON da.id = c.a JOIN hsh db ON db.id = c.b) v
         |WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= 0.6""".stripMargin),

    // budget truncation: inclusive cumulative sum, filter ≤ 64
    "q_truncate_budget" -> (cte +
      """, t AS (
        |  SELECT conv_id, turn_idx,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok
        |  FROM transcripts),
        |c AS (
        |  SELECT conv_id, turn_idx, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
        |  FROM t)
        |SELECT conv_id, turn_idx, n_tok, cum_tok FROM c WHERE cum_tok <= 64""".stripMargin),

    "q_decontaminate_score" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000, 'prefix words ' || text FROM documents
         |  WHERE doc_id % 97 = 0 AND doc_id < 300),
         |sh8 AS (SELECT id AS doc_id, len(hs) AS n_sh, unnest(hs) AS h
         |        FROM ${hashedShinglesSql("corpus", 8)} hx),
         |b AS (SELECT DISTINCT h FROM sh8 WHERE doc_id % 97 = 0)
         |SELECT doc_id, count(*) AS n_hit,
         |  floor((CAST(count(*) AS DOUBLE) / n_sh) * 1000000 + 0.5) / 1000000 AS overlap
         |FROM sh8
         |WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM b)
         |GROUP BY doc_id, n_sh""".stripMargin,

    // repetition: identical plant + 10-token line windows + bigram mode;
    // left join mirrors the Spark left join for bigram-less docs
    "q_repetition" ->
      """WITH rdoc AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN repeat(array_to_string(
        |           (regexp_split_to_array(lower(trim(text)), '\s+'))[1:10], ' ') || ' ', 3) || text
        |    ELSE text END AS text2
        |  FROM documents),
        |w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text2)), '\s+') AS t FROM rdoc),
        |ln AS (SELECT doc_id, CAST(ceil(len(t) / 10.0) AS BIGINT) AS n_lines,
        |         CAST(len(list_distinct([array_to_string(t[(j*10+1):(j*10+10)], ' ')
        |           FOR j IN range(CAST(ceil(len(t) / 10.0) AS BIGINT))])) AS BIGINT) AS n_uniq
        |       FROM w),
        |bgi AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM w),
        |bgc AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, count(*) AS c
        |        FROM bgi GROUP BY 1, 2),
        |bgm AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg FROM bgc GROUP BY 1)
        |SELECT l.doc_id, l.n_lines,
        |  floor((CAST(l.n_lines - l.n_uniq AS DOUBLE) / l.n_lines) * 1000000 + 0.5) / 1000000 AS dup_line_frac,
        |  floor(coalesce(CAST(m.top_c AS DOUBLE) / m.n_bg, 0.0) * 1000000 + 0.5) / 1000000 AS top_bigram_frac
        |FROM ln l LEFT JOIN bgm m ON l.doc_id = m.doc_id""".stripMargin,

    // pii scrub: same plant, same regexes (single-quoted — no escape
    // processing in either engine's SQL string), same email→ip→phone order
    "q_pii_scrub" ->
      s"""WITH p AS (
         |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
         |    THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
         |      || '@example.com or admin@test.org from 10.1.'
         |      || CAST(doc_id % 256 AS VARCHAR) || '.7 call 555-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    ELSE text END AS text2
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text2, '${TextAnalysis.emailRe}')) AS INTEGER) AS n_email,
         |  CAST(len(regexp_extract_all(text2, '${TextAnalysis.ipv4Re}')) AS INTEGER) AS n_ip,
         |  CAST(len(regexp_extract_all(text2, '${TextAnalysis.phoneRe}')) AS INTEGER) AS n_phone,
         |  regexp_replace(regexp_replace(regexp_replace(text2,
         |    '${TextAnalysis.emailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.ipv4Re}', '<IP>', 'g'),
         |    '${TextAnalysis.phoneRe}', '<PHONE>', 'g') AS scrubbed
         |FROM p""".stripMargin,

    // chunk windows: same closed-form chunk count (floor of the identical
    // double division), range() explode, same clamped end
    "q_chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(greatest(
        |      CASE WHEN length(trim(text)) = 0 THEN 0
        |           ELSE len(regexp_split_to_array(trim(text), '\s+')) END,
        |      CAST(ceil(length(text) / 4.0) AS INTEGER)) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, n, CASE WHEN n <= 64 THEN 1
        |        ELSE CAST(floor((n - 17) / 48.0) AS BIGINT) + 1 END AS n_chunks
        |      FROM t),
        |e AS (SELECT doc_id, n, unnest(range(n_chunks)) AS chunk_id FROM c)
        |SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
        |  least(chunk_id * 48 + 64, n) AS end_tok,
        |  least(chunk_id * 48 + 64, n) - chunk_id * 48 AS n_tok
        |FROM e""".stripMargin,

    "q_vocab_topk" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |      FROM documents) t
        |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 25""".stripMargin,

    // vocab coverage: identical top-500 vocabulary (same total order tie-
    // break on word) then per-doc covered-token counting via a left join
    "q_vocab_coverage" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |  FROM documents),
        |voc AS (SELECT word FROM (
        |    SELECT word, count(*) AS cnt FROM tok
        |    GROUP BY 1 ORDER BY cnt DESC, word LIMIT 500) tv),
        |agg AS (SELECT t.doc_id, count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        |  FROM tok t LEFT JOIN voc v ON t.word = v.word GROUP BY 1)
        |SELECT doc_id, n_tokens, n_covered,
        |  floor((CAST(n_covered AS DOUBLE) / n_tokens) * 1000000 + 0.5) / 1000000 AS coverage
        |FROM agg""".stripMargin,

    // count-min sketch: identical 4×1024 counter table re-derived from the
    // same mix affine family (a_i, b_i re-derived IN SQL from sha256), the
    // same top-10 tie-break, and min-over-rows point estimates — every
    // value an integer, so cross-engine equality is exact by construction
    "q_freq_sketch" ->
      s"""WITH tok AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
        |             FROM documents),
        |pairs AS (SELECT word, i AS r, ${Hashing.mixSql(Hashing.sha60Sql("word"), "i")} % 1024 AS c
        |          FROM tok, range(4) t(i)),
        |sk AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt FROM pairs GROUP BY 1, 2),
        |top AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt_exact
        |        FROM tok GROUP BY 1 ORDER BY cnt_exact DESC, word LIMIT 10),
        |qp AS (SELECT word, cnt_exact, i AS r, ${Hashing.mixSql(Hashing.sha60Sql("word"), "i")} % 1024 AS c
        |       FROM top, range(4) u(i)),
        |est AS (SELECT word, cnt_exact, min(coalesce(sk.cnt, 0)) AS cnt_est
        |        FROM qp LEFT JOIN sk USING (r, c) GROUP BY 1, 2)
        |SELECT word, cnt_exact, cnt_est FROM est""".stripMargin,

    // quantile sketch: the identical 25% hash sample (same salted sha60
    // ring, same embedded integer threshold), the identical ws_tokens
    // value (q_token_count's expression), ranks via row_number over the
    // sample, rank targets via pure-integer ceil division
    "q_quantile_sketch" ->
      s"""WITH s AS (
        |  SELECT CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS v
        |  FROM documents
        |  WHERE (${sha60Sql("'qs:' || CAST(doc_id AS VARCHAR)")}) < $qsThreshold
        |), r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sample FROM s),
        |t AS (SELECT q_permille, n_sample, (q_permille * n_sample + 999) // 1000 AS rk
        |      FROM (VALUES (500), (900), (990)) qs(q_permille) CROSS JOIN n)
        |SELECT t.q_permille AS q_permille, t.n_sample AS n_sample, r.v AS v
        |FROM t JOIN r ON r.rn = t.rk""".stripMargin,

    // per-group quantiles: the identical 50% hash sample ring, then the
    // engine's histogram-span rank lookup re-derived per language stratum
    // (cumulative counts over the value-ordered histogram; the value whose
    // span contains the integer rank target is the quantile)
    "q_group_quantiles" ->
      s"""WITH smp AS (
        |  SELECT lang, n_chars AS v FROM documents
        |  WHERE (${sha60Sql("'qs:' || CAST(doc_id AS VARCHAR)")}) < $gqThreshold
        |), hist AS (SELECT lang, v, CAST(count(*) AS BIGINT) AS cnt FROM smp GROUP BY 1, 2),
        |sp AS (SELECT lang, v, cnt,
        |  CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
        |  CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_sample FROM hist)
        |SELECT lang, q_permille, n_sample, v
        |FROM sp CROSS JOIN (VALUES (500), (900), (990)) qs(q_permille)
        |WHERE cum >= (q_permille * n_sample + 999) // 1000
        |  AND cum - cnt < (q_permille * n_sample + 999) // 1000""".stripMargin,

    // robust outliers: per-source medians re-derived via the same rank-span
    // histogram walk as the grouped quantiles (rate 1.0 ⇒ no sample
    // filter), then the identical MAD pass over absolute deviations
    "q_robust_outliers" ->
      """WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x FROM documents),
        |h1 AS (SELECT source, x AS v, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2),
        |s1 AS (SELECT source, v, cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum,
        |         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n FROM h1),
        |med AS (SELECT source, v AS med FROM s1
        |        WHERE cum >= (500 * n + 999) // 1000
        |          AND cum - cnt < (500 * n + 999) // 1000),
        |dd AS (SELECT d.doc_id, d.source, d.x, m.med, abs(d.x - m.med) AS adev
        |       FROM d JOIN med m USING (source)),
        |h2 AS (SELECT source, adev AS v, CAST(count(*) AS BIGINT) AS cnt FROM dd GROUP BY 1, 2),
        |s2 AS (SELECT source, v, cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum,
        |         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n FROM h2),
        |mad AS (SELECT source, v AS mad FROM s2
        |        WHERE cum >= (500 * n + 999) // 1000
        |          AND cum - cnt < (500 * n + 999) // 1000)
        |SELECT doc_id, source, x AS n_chars, med, mad
        |FROM dd JOIN mad USING (source) WHERE adev > 3 * mad""".stripMargin,

    // vocabulary growth: per-batch counts replayed, but first-seen tokens
    // derived INDEPENDENTLY via NOT EXISTS against all earlier batches
    // (the engine uses a min-batch aggregate — two derivations meeting)
    "q_vocab_growth" ->
      s"""WITH tok AS (SELECT doc_id % 4 AS batch,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
        |  FROM documents),
        |per AS (SELECT batch, CAST(count(*) AS BIGINT) AS n_tokens,
        |          CAST(count(DISTINCT word) AS BIGINT) AS n_distinct
        |        FROM tok GROUP BY 1),
        |bw AS (SELECT DISTINCT batch, word FROM tok),
        |nw AS (SELECT b.batch, CAST(count(*) AS BIGINT) AS n_new FROM bw b
        |       WHERE NOT EXISTS (SELECT 1 FROM bw e
        |                         WHERE e.word = b.word AND e.batch < b.batch)
        |       GROUP BY 1)
        |SELECT per.batch, per.n_tokens, per.n_distinct,
        |  coalesce(nw.n_new, 0) AS n_new,
        |  CAST(sum(coalesce(nw.n_new, 0)) OVER (ORDER BY per.batch) AS BIGINT) AS vocab_cum
        |FROM per LEFT JOIN nw USING (batch)""".stripMargin,

    // cross-doc duplication coverage: identical shingle hashes via
    // hashedShinglesSql, then an independent unnest → HAVING count > 1 →
    // join-back derivation (per-doc distinctness makes count(*) per hash
    // equal distinct docs in both engines)
    "q_dup_spans" ->
      s"""WITH hs AS (SELECT id, hs FROM ${hashedShinglesSql("documents", 8)} hx),
        |ex AS (SELECT id, unnest(hs) AS h FROM hs),
        |shared AS (SELECT h FROM ex GROUP BY h HAVING count(*) > 1),
        |ns AS (SELECT ex.id, count(*) AS n_shared FROM ex JOIN shared USING (h) GROUP BY 1)
        |SELECT hs.id AS doc_id, len(hs.hs) AS n_shingles, ns.n_shared AS n_shared
        |FROM hs JOIN ns ON ns.id = hs.id""".stripMargin,

    // BM25: the identical scoring arithmetic in the identical operation
    // order (left-assoc, shared literals, ln both sides — the HLL-oracle
    // precedent), per-doc sum as an ordered list fold so float addition
    // order is deterministic; ranking on the RAW double, r6 on output
    "q_bm25_search" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |  FROM documents),
        |qt AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf FROM tok
        |       WHERE word IN ('table', 'join', 'window') GROUP BY 1, 2),
        |dfs AS (SELECT word, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tok
        |        WHERE word IN ('table', 'join', 'window') GROUP BY 1),
        |dls AS (SELECT doc_id,
        |          CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS dl
        |        FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dls),
        |sc AS (SELECT qt.doc_id, qt.word,
        |    ln(1.0 + (st.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
        |      * ((qt.tf * 2.2) / (qt.tf + 1.2 * (0.25 + 0.75 * dls.dl / st.avgdl))) AS tscore
        |  FROM qt JOIN dfs USING (word) JOIN dls ON dls.doc_id = qt.doc_id CROSS JOIN st),
        |ag AS (SELECT doc_id,
        |         list_reduce(list(tscore ORDER BY word), (a, x) -> a + x) AS score_raw
        |       FROM sc GROUP BY 1)
        |SELECT doc_id, floor(score_raw * 1000000 + 0.5) / 1000000 AS score
        |FROM ag ORDER BY score_raw DESC, doc_id LIMIT 10""".stripMargin,

    // CCNet LM terciles: the same add-α bigram model re-derived — counts,
    // vocab, per-doc position-ordered fold of ln probabilities, ntile(3)
    // per lang. ln / list_reduce order shared with the Spark plan
    // (operators/CorpusLm.scala discipline notes).
    "q_lm_bits" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |bg AS (SELECT doc_id, i AS pos, t[i] AS w1, t[i + 1] AS w2
        |       FROM toks, unnest(range(1, len(t))) AS u(i)),
        |c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM bg GROUP BY 1),
        |c2 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2 FROM bg GROUP BY 1, 2),
        |vc AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM
        |         (SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg)),
        |sc AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |         list_reduce(
        |           list(ln((c2.c2 + 0.1) / (c1.c1 + 0.1 * vc.v)) ORDER BY bg.pos),
        |           (a, x) -> a + x) AS s
        |       FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
        |            JOIN c1 ON bg.w1 = c1.w1 CROSS JOIN vc
        |       GROUP BY 1),
        |bt AS (SELECT doc_id, n_bigrams,
        |         floor((-(s / CAST(n_bigrams AS DOUBLE)) / 0.6931471805599453)
        |           * 1000000 + 0.5) / 1000000 AS bits
        |       FROM sc)
        |SELECT doc_id, lang, n_bigrams, bits,
        |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM (SELECT bt.doc_id, d.lang, bt.n_bigrams, bt.bits,
        |        ntile(3) OVER (PARTITION BY d.lang
        |          ORDER BY bt.bits, bt.doc_id) AS nt
        |      FROM bt JOIN documents d USING (doc_id)) q""".stripMargin,

    // entropy re-derived: identical per-term op order, micro-truncation
    // BEFORE the sum (integer aggregate — the order-free discipline),
    // ceiling/ratio computed after
    "q_token_entropy" ->
      """WITH tk AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |cw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
        |nd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |         CAST(count(*) AS BIGINT) AS n_distinct FROM cw GROUP BY 1),
        |tm AS (SELECT cw.doc_id, nd.n, nd.n_distinct,
        |    CAST(floor(((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS tm
        |  FROM cw JOIN nd USING (doc_id)),
        |ag AS (SELECT doc_id, max(n) AS n_tokens, max(n_distinct) AS n_distinct,
        |         CAST(sum(tm) AS BIGINT) AS hm FROM tm GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct,
        |  (-CAST(hm AS DOUBLE)) / 1000000.0 AS entropy,
        |  floor((CASE WHEN n_distinct = 1 THEN 0.0
        |         ELSE ((-CAST(hm AS DOUBLE)) / 1000000.0) / ln(CAST(n_distinct AS DOUBLE))
        |         END) * 1000000 + 0.5) / 1000000 AS entropy_norm
        |FROM ag""".stripMargin,

    // per-source KL re-derived: same counts as q_corpus_drift, identical
    // per-term op order, micro-integer sum
    "q_source_kl" ->
      """WITH tk AS (SELECT source,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |  FROM documents),
        |sc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
        |cc AS (SELECT word, CAST(count(*) AS BIGINT) AS cw FROM tk GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
        |         CAST(count(*) AS BIGINT) AS n_vocab FROM sc GROUP BY 1),
        |tt AS (SELECT CAST(sum(cw) AS BIGINT) AS n_total FROM cc),
        |tm AS (SELECT sc.source, ns.n_s, ns.n_vocab,
        |    CAST(floor(((CAST(c AS DOUBLE) / CAST(n_s AS DOUBLE))
        |      * ln((CAST(c AS DOUBLE) * CAST(n_total AS DOUBLE))
        |           / (CAST(cw AS DOUBLE) * CAST(n_s AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) AS tm
        |  FROM sc JOIN cc USING (word) JOIN ns USING (source) CROSS JOIN tt)
        |SELECT source, max(n_s) AS n_tokens, max(n_vocab) AS n_vocab,
        |  CAST(sum(tm) AS BIGINT) AS kl_micros,
        |  CAST(sum(tm) AS DOUBLE) / 1000000.0 AS kl
        |FROM tm GROUP BY 1""".stripMargin,

    // PMI re-derived: same bigram CTE shape as q_lm_bits, integer counts,
    // one ln over a two-multiply one-divide quotient (identical op
    // order), raw-double ordering with (w1, w2) tie-break, r6 on output
    "q_pmi_collocations" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |bg AS (SELECT t[i] AS w1, t[i + 1] AS w2
        |       FROM toks, unnest(range(1, len(t))) AS u(i)),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg
        |        GROUP BY 1, 2 HAVING count(*) >= 5),
        |cl AS (SELECT w1, CAST(count(*) AS BIGINT) AS cl FROM bg GROUP BY 1),
        |cr AS (SELECT w2, CAST(count(*) AS BIGINT) AS cr FROM bg GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg),
        |sc AS (SELECT w1, w2, c12,
        |         ln((CAST(c12 AS DOUBLE) * CAST(nn.n AS DOUBLE))
        |            / (CAST(cl AS DOUBLE) * CAST(cr AS DOUBLE))) AS pmi_raw
        |       FROM c12 JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN nn)
        |SELECT w1, w2, c12,
        |  floor(pmi_raw * 1000000 + 0.5) / 1000000 AS pmi
        |FROM sc ORDER BY pmi_raw DESC, w1, w2 LIMIT 50""".stripMargin,

    // Zipf fit re-derived: same rank tie-break, RANK-ordered list_reduce
    // folds (first-element seed ≡ fold-from-0.0), one canonical
    // slope/intercept op order, r6 on output
    "q_zipf_fit" ->
      """WITH tk AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
        |v AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |        CAST(count(*) AS BIGINT) AS n_vocab,
        |        CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |      FROM c),
        |top AS (SELECT row_number() OVER (ORDER BY cnt DESC, w) AS rank, cnt
        |        FROM c ORDER BY cnt DESC, w LIMIT 100),
        |pts AS (SELECT CAST(rank AS BIGINT) AS rank,
        |          ln(CAST(rank AS DOUBLE)) AS x,
        |          ln(CAST(cnt AS DOUBLE)) AS y FROM top),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k_fit,
        |        list_reduce(list(x ORDER BY rank), (a, b) -> a + b) AS sx,
        |        list_reduce(list(y ORDER BY rank), (a, b) -> a + b) AS sy,
        |        list_reduce(list(x * y ORDER BY rank), (a, b) -> a + b) AS sxy,
        |        list_reduce(list(x * x ORDER BY rank), (a, b) -> a + b) AS sxx
        |      FROM pts)
        |SELECT v.n_tokens, v.n_vocab, v.n_hapax,
        |  floor(CAST(v.n_hapax AS DOUBLE) / CAST(v.n_vocab AS DOUBLE) * 1000000 + 0.5) / 1000000 AS hapax_frac,
        |  f.k_fit,
        |  floor(((CAST(k_fit AS DOUBLE) * sxy - sx * sy)
        |         / (CAST(k_fit AS DOUBLE) * sxx - sx * sx)) * 1000000 + 0.5) / 1000000 AS slope,
        |  floor(((sy - ((CAST(k_fit AS DOUBLE) * sxy - sx * sy)
        |                / (CAST(k_fit AS DOUBLE) * sxx - sx * sx)) * sx)
        |         / CAST(k_fit AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS intercept
        |FROM f, v""".stripMargin,

    // DSIR: hashed-unigram importance log-weight re-derived — bucket
    // counts over the same sha60 feature hash, ln-ratio per position in
    // position order, top-100 by raw weight
    "q_dsir_select" ->
      s"""WITH toks AS (SELECT doc_id,
        |    source IN ('src0', 'src1', 'src2', 'src3') AS tgt,
        |    regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents),
        |pos AS (SELECT doc_id, tgt, i AS pos,
        |    ${sha60Sql("'dsir:' || t[i]")} % 8192 AS f
        |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
        |rc AS (SELECT f, CAST(count(*) AS DOUBLE) AS rc,
        |         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS DOUBLE) AS tc
        |       FROM pos GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS rt,
        |          CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS DOUBLE) AS tt
        |        FROM pos),
        |ag AS (SELECT pos.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |         list_reduce(
        |           list(ln(rc.tc + 0.5) - ln(tot.tt + 4096.0)
        |                - (ln(rc.rc + 0.5) - ln(tot.rt + 4096.0))
        |             ORDER BY pos.pos),
        |           (a, x) -> a + x) AS w_raw
        |       FROM pos JOIN rc USING (f) CROSS JOIN tot
        |       GROUP BY 1)
        |SELECT doc_id, n_toks,
        |  floor(w_raw * 1000000 + 0.5) / 1000000 AS weight
        |FROM ag ORDER BY w_raw DESC, doc_id LIMIT 100""".stripMargin,

    // winnowing coverage: identical token sha60 → 4-gram folds (ORDERED,
    // no distinct — the winnow-specific departure from hashedShinglesSql),
    // per-window minima via list comprehension, then the same inverted
    // index / HAVING / join-back derivation as q_dup_spans
    "q_winnow_fp" ->
      s"""WITH tokh AS (SELECT doc_id,
        |    [${sha60Sql("tk")} % ${Hashing.P}
        |     FOR tk IN regexp_split_to_array(lower(trim(text)), '\\s+')] AS ht
        |  FROM documents),
        |kg AS (SELECT doc_id, CAST(len(ht) - 3 AS BIGINT) AS n_kgrams,
        |    [list_reduce([ht[i + j] FOR j IN range(4)],
        |       (a, x) -> (a * 8191 + x) % ${Hashing.P})
        |     FOR i IN range(1, len(ht) - 2)] AS kh
        |  FROM tokh WHERE len(ht) >= 4),
        |wn AS (SELECT doc_id, n_kgrams,
        |    list_distinct([list_min([kh[i + j] FOR j IN range(4)])
        |                   FOR i IN range(1, len(kh) - 2)]) AS fps
        |  FROM kg WHERE len(kh) >= 4),
        |ex AS (SELECT doc_id, unnest(fps) AS f FROM wn),
        |sh AS (SELECT f FROM ex GROUP BY f HAVING count(*) > 1),
        |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |       FROM ex JOIN sh USING (f) GROUP BY 1)
        |SELECT wn.doc_id, wn.n_kgrams, CAST(len(fps) AS BIGINT) AS n_selected,
        |  coalesce(ns.n_shared, 0) AS n_shared,
        |  floor(CAST(len(fps) AS DOUBLE) / n_kgrams * 1000000 + 0.5) / 1000000 AS density
        |FROM wn LEFT JOIN ns USING (doc_id)""".stripMargin,

    // corpus drift: the same TVD derived over the FULL sources × vocabulary
    // grid (absent words materialized as c = 0 rows) — the engine never
    // builds this grid; it uses the present-words join + a closed form for
    // the complement, so agreement is two derivations meeting
    "q_corpus_drift" ->
      s"""WITH tok AS (SELECT source,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
        |  FROM documents),
        |sc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |cc AS (SELECT word, CAST(count(*) AS BIGINT) AS cw FROM tok GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
        |         CAST(count(*) AS BIGINT) AS n_vocab FROM sc GROUP BY 1),
        |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_total FROM cc),
        |grid AS (SELECT s.source, c2.word, coalesce(sc.c, 0) AS c, c2.cw
        |         FROM (SELECT DISTINCT source FROM sc) s CROSS JOIN cc c2
        |         LEFT JOIN sc ON sc.source = s.source AND sc.word = c2.word),
        |num AS (SELECT g.source, sum(abs(g.c * t.n_total - g.cw * n.n_s)) AS numer
        |        FROM grid g JOIN ns n USING (source) CROSS JOIN tot t GROUP BY 1)
        |SELECT n.source, n.n_s AS n_tokens, n.n_vocab,
        |  floor(numer / (2.0 * n.n_s * t.n_total) * 1000000 + 0.5) / 1000000 AS tvd
        |FROM num JOIN ns n USING (source) CROSS JOIN tot t""".stripMargin,

    // snapshot diff: the same derived snapshot B, but statuses classified
    // by DIRECT text comparison — the engine compares sha60 hashes, an
    // independent path to the same classification
    "q_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, text FROM documents),
        |b AS (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0 THEN 'v2 ' || text ELSE text END AS text
        |      FROM a WHERE doc_id % 13 <> 0
        |      UNION ALL
        |      SELECT doc_id + 600000 AS doc_id, text FROM a WHERE doc_id < 15)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.text <> b.text THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM a FULL JOIN b ON a.doc_id = b.doc_id""".stripMargin,

    // cardinality sketch: the same hashed-shingle universe the minhash
    // oracles derive (hashedShinglesSql — per-token sha60 % P + rolling
    // 8191 fold, within-doc distinct), rendered to decimal strings, then
    // the identical 256 max-registers re-derived from sha60 (bucket = top
    // 8 bits, rho = trailing-zeros+1 of the low 52 via the exact-integer
    // rest & -rest low-bit isolate), then the same harmonic estimator with
    // linear-counting small-range branch, operation order matching the
    // Spark side so the r6-rounded double is identical
    "q_cardinality_sketch" ->
      s"""WITH sh AS (
        |  SELECT CAST(unnest(hs) AS VARCHAR) AS s
        |  FROM ${hashedShinglesSql("documents", 3)} hx),
        |h AS (SELECT ('0x' || substr(sha256(s), 1, 15))::BIGINT AS h FROM sh),
        |b AS (SELECT h >> 52 AS bucket, h % 4503599627370496 AS rest FROM h),
        |r AS (SELECT bucket,
        |        CASE WHEN rest = 0 THEN 53
        |             ELSE CAST(floor(log2(rest & (-rest)) + 0.5) AS INT) + 1 END AS rho
        |      FROM b),
        |reg AS (SELECT bucket, max(rho) AS mj FROM r GROUP BY 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_occupied,
        |          coalesce(sum(pow(2.0, -mj)), 0.0) AS s FROM reg),
        |est AS (SELECT n_occupied,
        |          (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / (s + (256 - n_occupied)) AS e_raw
        |        FROM agg),
        |fin AS (SELECT n_occupied,
        |          CASE WHEN e_raw <= 2.5 * 256.0 AND n_occupied < 256
        |               THEN 256.0 * ln(256.0 / (256 - n_occupied)) ELSE e_raw END AS e
        |        FROM est),
        |ex AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS n_exact FROM sh)
        |SELECT CAST(256 AS BIGINT) AS m_buckets, n_occupied,
        |  floor(e * 1000000 + 0.5) / 1000000 AS estimate, n_exact,
        |  CASE WHEN n_exact = 0 THEN 0.0
        |       ELSE floor(abs(floor(e * 1000000 + 0.5) / 1000000 - n_exact) / n_exact * 1000000 + 0.5) / 1000000
        |  END AS err_frac
        |FROM fin, ex""".stripMargin,

    // vocabulary overlap matrix: per-source registers, per-source and
    // per-pair (register-wise max) estimates with the IDENTICAL op-order
    // estimator, inclusion–exclusion floored at 0, r6 on output only
    "q_vocab_overlap" ->
      s"""WITH tk AS (SELECT source AS src,
         |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
         |  FROM documents),
         |h AS (SELECT src, ${sha60Sql("tok")} AS h FROM tk),
         |b AS (SELECT src, h >> 52 AS bucket, h % 4503599627370496 AS rest FROM h),
         |r AS (SELECT src, bucket,
         |        CASE WHEN rest = 0 THEN 53
         |             ELSE CAST(floor(log2(rest & (-rest)) + 0.5) AS INT) + 1 END AS rho
         |      FROM b),
         |reg AS (SELECT src, bucket, max(rho) AS mj FROM r GROUP BY 1, 2),
         |sagg AS (SELECT src, CAST(count(*) AS BIGINT) AS n_occupied,
         |           coalesce(sum(pow(2.0, -mj)), 0.0) AS s FROM reg GROUP BY 1),
         |sest AS (SELECT src,
         |           CASE WHEN e_raw <= 2.5 * 256.0 AND n_occupied < 256
         |                THEN 256.0 * ln(256.0 / (256 - n_occupied)) ELSE e_raw END AS e
         |         FROM (SELECT src, n_occupied,
         |                 (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / (s + (256 - n_occupied)) AS e_raw
         |               FROM sagg) q0),
         |prs AS (SELECT a.src AS src_lo, b.src AS src_hi
         |        FROM (SELECT DISTINCT src FROM reg) a
         |        JOIN (SELECT DISTINCT src FROM reg) b ON a.src < b.src),
         |ureg AS (SELECT p.src_lo, p.src_hi, r2.bucket, max(r2.mj) AS mj
         |         FROM prs p JOIN reg r2 ON r2.src = p.src_lo OR r2.src = p.src_hi
         |         GROUP BY 1, 2, 3),
         |uagg AS (SELECT src_lo, src_hi, CAST(count(*) AS BIGINT) AS n_occupied,
         |           coalesce(sum(pow(2.0, -mj)), 0.0) AS s FROM ureg GROUP BY 1, 2),
         |uest AS (SELECT src_lo, src_hi,
         |           CASE WHEN e_raw <= 2.5 * 256.0 AND n_occupied < 256
         |                THEN 256.0 * ln(256.0 / (256 - n_occupied)) ELSE e_raw END AS e_u
         |         FROM (SELECT src_lo, src_hi, n_occupied,
         |                 (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / (s + (256 - n_occupied)) AS e_raw
         |               FROM uagg) q1)
         |SELECT u.src_lo, u.src_hi,
         |  floor(el.e * 1000000 + 0.5) / 1000000 AS e_lo,
         |  floor(eh.e * 1000000 + 0.5) / 1000000 AS e_hi,
         |  floor(u.e_u * 1000000 + 0.5) / 1000000 AS e_union,
         |  floor(greatest(0.0, (el.e + eh.e) - u.e_u) * 1000000 + 0.5) / 1000000 AS e_inter,
         |  floor((greatest(0.0, (el.e + eh.e) - u.e_u) / u.e_u) * 1000000 + 0.5) / 1000000 AS jaccard
         |FROM uest u JOIN sest el ON el.src = u.src_lo
         |            JOIN sest eh ON eh.src = u.src_hi""".stripMargin,

    // embedding outlier: identical r6 per-(label,dim) means; dims pair by
    // index (Spark 0-based posexplode vs DuckDB 1-based v[i], both in dim
    // order); dot/norm via list_dot_product == Spark's ordered fold
    "q_emb_outlier" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT label, i, v[i] AS x FROM e, range(1, 65) u(i)),
        |cent AS (SELECT label, i, floor(avg(x) * 1000000 + 0.5) / 1000000 AS c
        |         FROM d GROUP BY 1, 2),
        |cv AS (SELECT label, list(c ORDER BY i) AS cvec FROM cent GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label,
        |    floor((list_dot_product(e.v, cv.cvec)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv.cvec, cv.cvec))))
        |      * 1000000 + 0.5) / 1000000 AS cos_centroid
        |  FROM e JOIN cv USING (label))
        |SELECT vec_id, label, cos_centroid, rk FROM (
        |  SELECT sc.*, CAST(row_number() OVER (PARTITION BY label
        |    ORDER BY cos_centroid ASC, vec_id) AS INTEGER) AS rk
        |  FROM sc) t
        |WHERE rk <= 5""".stripMargin,

    // tf-idf: identical rational idf; the window ORDER BY repeats the
    // rounded-score expression so tie-breaking cannot diverge from Spark's
    // (r6(score) DESC, term) ordering
    "q_tfidf_topterms" ->
      """WITH tf AS (
        |  SELECT doc_id, word AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |        FROM documents) w
        |  GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, term, tf, df, score, rk FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |    floor((tf.tf * (n.n + 1.0) / (dfq.df + 1.0)) * 1000000 + 0.5) / 1000000 AS score,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY floor((tf.tf * (n.n + 1.0) / (dfq.df + 1.0)) * 1000000 + 0.5) / 1000000 DESC,
        |        tf.term) AS INTEGER) AS rk
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n) t
        |WHERE rk <= 3""".stripMargin,

    "q_stratified_sample" ->
      s"""SELECT doc_id, lang, rk FROM (
         |  SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY ${sha60Sql("'samp:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS INTEGER) AS rk
         |  FROM documents) t
         |WHERE rk <= 50""".stripMargin,

    // composition of the exact-dedup, minhash, lang-id and quality oracle
    // recipes over the same planted corpus — stage by stage
    "q_prep_pipeline" -> {
      val hits = TextAnalysis.stopwords.map { case (l, ws) =>
        val list = ws.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_filter(t, x -> list_contains($list, x))) AS h_$l"
      }.mkString(",\n    ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id < 30
         |  UNION ALL SELECT doc_id + 100000, text || ' tail tail' FROM documents
         |    WHERE doc_id < 100 AND len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 12),
         |uniq AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM corpus) u WHERE rn = 1),
         |hsh AS (SELECT id, hs FROM ${hashedShinglesSql("uniq", 3)} hx),
         |sigs AS (SELECT id, [list_min([${Hashing.mixSql("h", "i")} FOR h IN hs]) FOR i IN range(8)] AS sig FROM hsh),
         |bands AS (SELECT id, b AS band,
         |    ((sig[2 * b + 1] * 8191 + sig[2 * b + 2]) % 2147483647) AS bhash
         |  FROM sigs, range(4) t(b)),
         |cand AS (SELECT DISTINCT l.id AS a, r.id AS b
         |         FROM bands l JOIN bands r ON l.band = r.band AND l.bhash = r.bhash AND l.id < r.id),
         |pairs AS (
         |  SELECT a, b FROM (
         |    SELECT c.a, c.b, len(list_intersect(da.hs, db.hs)) AS inter,
         |           len(da.hs) AS sza, len(db.hs) AS szb
         |    FROM cand c JOIN hsh da ON da.id = c.a JOIN hsh db ON db.id = c.b) v
         |  WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= 0.6),
         |keep AS (
         |  SELECT u.doc_id, u.text FROM uniq u
         |  WHERE u.doc_id NOT IN (SELECT DISTINCT b FROM pairs)),
         |toks AS (SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM keep),
         |sc AS (SELECT doc_id, text, t,
         |    $hits
         |  FROM toks),
         |feats AS (
         |  SELECT doc_id,
         |    CASE WHEN greatest(h_en, h_es, h_de, h_fr, h_zh) = 0 THEN 'unknown'
         |         WHEN h_en = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'en'
         |         WHEN h_es = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'es'
         |         WHEN h_de = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'de'
         |         WHEN h_fr = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'fr'
         |         ELSE 'zh' END AS pred_lang,
         |    CAST(len(t) AS INTEGER) AS n_tokens,
         |    floor((CASE WHEN len(t) = 0 THEN 0.0 ELSE
         |      least(1.0, len(t) / 64.0) * 0.5
         |      + least(1.0, (floor((CASE WHEN len(t) > 0 THEN CAST(h_en AS DOUBLE) / len(t) ELSE 0.0 END) * 1000000 + 0.5) / 1000000) * 4) * 0.3
         |      + (1.0 - least(1.0, (floor((CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) * 1000000 + 0.5) / 1000000) * 5)) * 0.2 END) * 1000000 + 0.5) / 1000000 AS quality_score
         |  FROM sc)
         |SELECT doc_id, pred_lang, n_tokens, quality_score
         |FROM feats WHERE pred_lang = 'en' AND quality_score >= 0.4""".stripMargin
    },

    // capstone: the prep-pipeline recipe + the repetition-stat and
    // hash-split recipes composed over the kept set, with the third
    // (repeated-line) plant mirrored in the corpus CTE
    "q_curate_full" -> {
      val hits = TextAnalysis.stopwords.map { case (l, ws) =>
        val list = ws.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_filter(t, x -> list_contains($list, x))) AS h_$l"
      }.mkString(",\n    ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id < 30
         |  UNION ALL SELECT doc_id + 100000, text || ' tail tail' FROM documents
         |    WHERE doc_id < 100 AND len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 12
         |  UNION ALL SELECT doc_id + 300000,
         |    trim(repeat('the a of and to in is that it u' || CAST(doc_id AS VARCHAR) || ' ', 4))
         |    FROM documents WHERE doc_id >= 30 AND doc_id < 40),
         |uniq AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM corpus) u WHERE rn = 1),
         |hsh AS (SELECT id, hs FROM ${hashedShinglesSql("uniq", 3)} hx),
         |sigs AS (SELECT id, [list_min([${Hashing.mixSql("h", "i")} FOR h IN hs]) FOR i IN range(8)] AS sig FROM hsh),
         |bands AS (SELECT id, b AS band,
         |    ((sig[2 * b + 1] * 8191 + sig[2 * b + 2]) % 2147483647) AS bhash
         |  FROM sigs, range(4) t(b)),
         |cand AS (SELECT DISTINCT l.id AS a, r.id AS b
         |         FROM bands l JOIN bands r ON l.band = r.band AND l.bhash = r.bhash AND l.id < r.id),
         |pairs AS (
         |  SELECT a, b FROM (
         |    SELECT c.a, c.b, len(list_intersect(da.hs, db.hs)) AS inter,
         |           len(da.hs) AS sza, len(db.hs) AS szb
         |    FROM cand c JOIN hsh da ON da.id = c.a JOIN hsh db ON db.id = c.b) v
         |  WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= 0.6),
         |keep AS (
         |  SELECT u.doc_id, u.text FROM uniq u
         |  WHERE u.doc_id NOT IN (SELECT DISTINCT b FROM pairs)),
         |toks AS (SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM keep),
         |sc AS (SELECT doc_id, text, t,
         |    $hits
         |  FROM toks),
         |feats AS (
         |  SELECT doc_id,
         |    CASE WHEN greatest(h_en, h_es, h_de, h_fr, h_zh) = 0 THEN 'unknown'
         |         WHEN h_en = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'en'
         |         WHEN h_es = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'es'
         |         WHEN h_de = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'de'
         |         WHEN h_fr = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'fr'
         |         ELSE 'zh' END AS pred_lang,
         |    floor((CASE WHEN len(t) = 0 THEN 0.0 ELSE
         |      least(1.0, len(t) / 64.0) * 0.5
         |      + least(1.0, (floor((CASE WHEN len(t) > 0 THEN CAST(h_en AS DOUBLE) / len(t) ELSE 0.0 END) * 1000000 + 0.5) / 1000000) * 4) * 0.3
         |      + (1.0 - least(1.0, (floor((CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) * 1000000 + 0.5) / 1000000) * 5)) * 0.2 END) * 1000000 + 0.5) / 1000000 AS quality_score
         |  FROM sc),
         |ln2 AS (SELECT doc_id, CAST(ceil(len(t) / 10.0) AS BIGINT) AS n_lines,
         |         CAST(len(list_distinct([array_to_string(t[(j*10+1):(j*10+10)], ' ')
         |           FOR j IN range(CAST(ceil(len(t) / 10.0) AS BIGINT))])) AS BIGINT) AS n_uniq
         |       FROM toks),
         |bgi AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         |bgc AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, count(*) AS c
         |        FROM bgi GROUP BY 1, 2),
         |bgm AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg FROM bgc GROUP BY 1),
         |rep AS (SELECT l.doc_id,
         |    floor((CAST(l.n_lines - l.n_uniq AS DOUBLE) / l.n_lines) * 1000000 + 0.5) / 1000000 AS dup_line_frac,
         |    floor(coalesce(CAST(m.top_c AS DOUBLE) / m.n_bg, 0.0) * 1000000 + 0.5) / 1000000 AS top_bigram_frac
         |  FROM ln2 l LEFT JOIN bgm m ON l.doc_id = m.doc_id)
         |SELECT doc_id, pred_lang, quality_score, dup_line_frac, top_bigram_frac,
         |  CASE WHEN hsplit < 980 THEN 'train' WHEN hsplit < 990 THEN 'val' ELSE 'test' END AS split
         |FROM (
         |  SELECT f.doc_id, f.pred_lang, f.quality_score, r.dup_line_frac, r.top_bigram_frac,
         |    (${sha60Sql("'split:' || CAST(f.doc_id AS VARCHAR)")}) % 1000 AS hsplit
         |  FROM feats f JOIN rep r ON f.doc_id = r.doc_id) z
         |WHERE pred_lang = 'en' AND quality_score >= 0.4
         |  AND dup_line_frac <= 0.2 AND top_bigram_frac <= 0.2""".stripMargin
    },

    "q_lang_id" -> (langCte +
      """SELECT doc_id, lang,
        |  CASE WHEN greatest(h_en, h_es, h_de, h_fr, h_zh) = 0 THEN 'unknown'
        |       WHEN h_en = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'en'
        |       WHEN h_es = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'es'
        |       WHEN h_de = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'de'
        |       WHEN h_fr = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |FROM sc""".stripMargin),

    "q_quality" -> (langCte +
      """SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, mean_token_len,
        |  punct_ratio, stopword_ratio,
        |  floor((CASE WHEN n_tokens = 0 THEN 0.0 ELSE
        |    least(1.0, n_tokens / 64.0) * 0.5
        |    + least(1.0, stopword_ratio * 4) * 0.3
        |    + (1.0 - least(1.0, punct_ratio * 5)) * 0.2 END) * 1000000 + 0.5) / 1000000 AS quality_score
        |FROM (
        |  SELECT doc_id, len(t) AS n_tokens,
        |    floor((CASE WHEN len(t) > 0 THEN CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t) ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS mean_token_len,
        |    floor((CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS punct_ratio,
        |    floor((CASE WHEN len(t) > 0 THEN CAST(h_en AS DOUBLE) / len(t) ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS stopword_ratio
        |  FROM sc) r""".stripMargin),

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS ws_tokens,
        |  CAST(greatest(
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END,
        |    CAST(ceil(length(text) / 4.0) AS INTEGER)) AS INTEGER) AS bpe_est_tokens
        |FROM documents""".stripMargin,

    "q_doc_fingerprint" ->
      """SELECT doc_id,
        |  list_min([sha256(array_to_string(t[i:i+4], ' ')) FOR i IN range(1, len(t) - 3)]) AS fp
        |FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents)
        |WHERE len(t) >= 5""".stripMargin,

    "q_binary_features" ->
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS byte_len,
        |  sha256(text) AS sha, lower(hex(encode(substring(text, 1, 8)))) AS head_hex
        |FROM documents""".stripMargin,

    "q_events_sessionize" ->
      """SELECT user_id, CAST(session_idx AS INTEGER) AS session_idx,
        |  count(*) AS n_events, min(ts) AS t_start, max(ts) AS t_end FROM (
        |  SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |      CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
        |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |    FROM events) a) b GROUP BY 1, 2""".stripMargin,

    // as-of attribution through DuckDB's NATIVE ASOF LEFT JOIN — a genuinely
    // independent derivation of the union+window engine path; the click side
    // is collapsed to one row per (user_id, ts) in both engines so the match
    // is unique by construction
    "q_asof_attribution" ->
      """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |     p AS (SELECT event_id, user_id, ts
        |           FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS event_id, p.user_id AS user_id,
        |       c.click_id AS click_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin
  )

  // the bloom pre-filter variant is exact-equivalent by construction, so
  // it shares q_decontaminate's oracle verbatim; q_dedup_clusters_star
  // runs the same label propagation as q_dedup_clusters and shares its
  // recursive-CTE oracle (declared AFTER oracleBase: object-init order —
  // a forward reference would read null)
  val oracleSql: Map[String, String] = oracleBase +
    ("q_decontaminate_bloom" -> oracleBase("q_decontaminate")) +
    ("q_dedup_clusters_star" -> oracleBase("q_dedup_clusters")) +
    // data card: the component oracles embedded verbatim as derived
    // tables — the capstone cannot drift from its verified parts
    ("q_data_card" ->
      s"""SELECT r.source, r.n_docs, r.n_langs, r.total_tokens,
         |  r.mean_quality, d.n_vocab, d.tvd, k.kl,
         |  t.rate_permille, t.sampled_docs, t.sampled_tokens
         |FROM (${oracleBase("q_source_report")}) r
         |JOIN (${oracleBase("q_corpus_drift")}) d ON d.source = r.source
         |JOIN (${oracleBase("q_source_kl")}) k ON k.source = r.source
         |JOIN (${oracleBase("q_mix_temperature")}) t ON t.source = r.source""".stripMargin)

  /** Oracle body for the periodic-fixture FSM queries: `lineExpr` rebuilds
    * the synthetic line from turn_idx, `segExpr` is the closed-form record
    * index — both pure turn arithmetic, so the expected segments (including
    * the end-of-conversation residual flush, which is just the last,
    * possibly partial, group) derive with no FSM anywhere in the oracle.
    */
  private def periodicSegOracle(lineExpr: String, segExpr: String): String =
    s"""SELECT conv_id, CAST(seg AS INTEGER) AS record_idx,
       |  string_agg(line, chr(10) ORDER BY turn_idx) AS record,
       |  CAST(count(*) AS INTEGER) AS n_lines
       |FROM (
       |  SELECT conv_id, turn_idx, $lineExpr AS line, $segExpr AS seg
       |  FROM transcripts) p
       |GROUP BY 1, 2""".stripMargin

  /** Shared boundary-window oracle body for the lag-1 multiline modes,
    * derived independently of the Spark FSM; `boundaryExpr` decides whether
    * the current row starts a record (in addition to first-in-conversation).
    */
  private def multilineOracle(boundaryExpr: String): String =
    s"""SELECT conv_id, CAST(seg AS INTEGER) AS record_idx,
       |  string_agg(text, chr(10) ORDER BY turn_idx) AS record,
       |  CAST(count(*) AS INTEGER) AS n_lines
       |FROM (
       |  SELECT conv_id, turn_idx, text,
       |    sum(CASE WHEN is_first OR ($boundaryExpr) THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) - 1 AS seg
       |  FROM (
       |    SELECT conv_id, turn_idx, text,
       |      lag(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) IS NULL AS is_first
       |    FROM transcripts) f) s
       |GROUP BY 1, 2""".stripMargin
}
