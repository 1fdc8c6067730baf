package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}

import graft.functions.PowMod

/** Conversation-level training-data operators over the transcript table
  * (conv_id, turn_idx, role, text, tool, ts — BASELINE.json `input_hint`).
  *
  * Where the document-side family (TextAnalysis / Dedup) curates a CORPUS,
  * these curate CONVERSATIONS — the unit an SFT/RL dataloader consumes. All
  * three are built on the same per-turn whitespace token count the corpus
  * side uses ([[TextAnalysis.tokenCounts]] / q_token_count), so turn-level
  * and document-level token accounting cannot drift apart.
  *
  * Scale shape (all three operators): ONE exchange on conv_id — the lag /
  * cumulative-sum windows and the per-conversation aggregate all partition
  * by the same key, so Catalyst reuses a single hash partitioning end to
  * end; nothing here adds a second shuffle or a driver funnel. Rows carry
  * (conv_id, turn_idx, role, n_tok) — token counts, never concatenated
  * text. Mega-conversation skew: the windows are order-sensitive per
  * conversation, the exact contract priced in BENCH.md's skew table (the
  * FSM-pin row); decomposable aggregates can instead route through
  * [[Salt.twoPhaseOrderedConcat]]'s bucket-partial shape.
  *
  * Reference tie-in: the reference accounts delivered/blank lines per file
  * (internal/tailer/tail_reader.go:272-279, collector counters) — [[qc]]
  * is that accounting re-aimed at the transcript unit, extended with the
  * structural checks a training pipeline gates on before a conversation
  * may enter a training shard.
  */
object Conversations {

  /** Whitespace token count of one turn — the exact expression of
    * [[TextAnalysis.tokenCounts]]'s `ws_tokens` (and its DuckDB oracle
    * twin in q_token_count): blank-after-trim counts 0.
    */
  def nTok(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Per-conversation structural QC report — the gate a conversation must
    * pass before it becomes a training example:
    *
    *  - `n_turns`, `total_tokens`: size accounting;
    *  - `starts_with_user`: turn 0 carries role `user` (a dataloader that
    *    prepends a system prompt assumes it);
    *  - `n_blank`: blank-text turns (the reference's blank-record counter,
    *    tail_reader.go:272-279, at conversation grain);
    *  - `n_role_repeats`: adjacent turns with the SAME role — alternation
    *    violations that break chat-template rendering;
    *  - `n_err_calls`: tool turns that recorded `status=err` (failed tool
    *    invocations a curation pass may cap or drop);
    *  - `assistant_tokens` + `trainable_frac`: the loss-masked token yield
    *    — conversations that are nearly all context and no completion are
    *    poor value per sequence slot ([[lossSpans]] is the row-level form).
    *
    * One lag window + one aggregate, both keyed by conv_id (single
    * exchange).
    */
  def qc(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val t = transcripts
      .withColumn("__n_tok", nTok(col("text")).cast("long"))
      .withColumn("__prev_role", lag(col("role"), 1).over(w))
    t.groupBy("conv_id").agg(
      count(lit(1)).as("n_turns"),
      (max(when(col("turn_idx") === 0 && col("role") === "user", 1)
        .otherwise(0)) === 1).as("starts_with_user"),
      sum(when(col("text") === "", 1L).otherwise(0L)).as("n_blank"),
      sum(when(col("role") === col("__prev_role"), 1L).otherwise(0L))
        .as("n_role_repeats"),
      sum(when(col("role") === "tool" && col("text").contains("status=err"), 1L)
        .otherwise(0L)).as("n_err_calls"),
      sum(when(col("role") === "assistant", col("__n_tok")).otherwise(0L))
        .as("assistant_tokens"),
      sum(col("__n_tok")).as("total_tokens"))
      .withColumn("trainable_frac",
        TextAnalysis.r6(when(col("total_tokens") > 0,
          col("assistant_tokens").cast("double") / col("total_tokens"))
          .otherwise(lit(0.0))))
  }

  /** Loss-mask span table — the row-level artifact a dataloader consumes
    * after concatenating a conversation's turns into one token sequence:
    * for every turn, its half-open token span [span_start, span_end) in
    * the concatenation order and whether the span is TRAINABLE (assistant
    * turns contribute loss; user/tool turns are context). Span starts are
    * the exclusive prefix sum of per-turn token counts — the same
    * cumulative-window shape as sequence packing (q_pack_sequences), keyed
    * by conv_id instead of shard.
    */
  def lossSpans(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    transcripts
      .select(col("conv_id"), col("turn_idx"), col("role"),
        nTok(col("text")).cast("long").as("n_tok"))
      .withColumn("span_start", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("span_end", col("span_start") + col("n_tok"))
      .withColumn("trainable", col("role") === "assistant")
      .select("conv_id", "turn_idx", "n_tok", "span_start", "span_end",
        "trainable")
  }

  /** Order-sensitive conversation content fingerprint: the polynomial
    * fold `acc = (acc·8191 + sha60(role ‖ ':' ‖ text) mod P) mod P` over
    * turns in turn_idx order — two conversations collide iff they carry
    * the same (role, text) sequence, making this the conversation-grain
    * twin of document exact dedup (same fold family as
    * [[graft.functions.CdcChunksHelper]]; DuckDB re-derives it with
    * `list(h ORDER BY turn_idx)` + `list_reduce`, whose first-element
    * seed equals the fold from 0).
    *
    * Scale shape: ONE shuffle on conv_id carrying (turn_idx, 8-byte hash)
    * pairs — never turn text; the fold runs inside the aggregate. Returns
    * (conv_id, conv_fp, n_turns).
    */
  def fingerprint(transcripts: DataFrame): DataFrame = {
    val h = (graft.functions.Hashing.sha60(
      concat(col("role"), lit(":"), col("text"))) % graft.functions.Hashing.P)
    transcripts
      .select(col("conv_id"), struct(col("turn_idx"), h.as("h")).as("__th"))
      .groupBy("conv_id")
      .agg(sort_array(collect_list("__th")).as("__ths"))
      .select(col("conv_id"),
        aggregate(transform(col("__ths"), t => t.getField("h")), lit(0L),
          (acc, x) => (acc * 8191L + x) % graft.functions.Hashing.P)
          .as("conv_fp"),
        size(col("__ths")).cast("long").as("n_turns"))
  }

  /** Mega-conversation-safe [[fingerprint]]: the polynomial fold COMPOSES —
    * `fp(A ‖ B) = fp(A)·8191^|B| + fp(B) (mod P)` — so a conversation is
    * split into contiguous `bucketWidth`-turn ranges, each range folds
    * independently under a (conv_id, bucket) key, and the per-bucket
    * partials merge with [[graft.functions.PowMod]] (square-and-multiply,
    * exact below P² < 2^62). Identical output to [[fingerprint]] by
    * construction — pinned by spec AND by the q_conv_fp_salted oracle,
    * which re-derives the value through the PLAIN fold.
    *
    * Why: [[fingerprint]]'s one shuffle keys on conv_id, so a 10M-turn
    * mega conversation lands on ONE task (the skew mode BENCH.md's skew
    * table prices for the FSM). Here the heavy shuffle keys on
    * (conv_id, bucket) — the hot conversation spreads over
    * ceil(n/bucketWidth) tasks — and the second shuffle carries one
    * (bucket fp, length) pair per RANGE, ≤ a few thousand rows for even
    * a 10M-turn conversation.
    */
  def fingerprintSalted(transcripts: DataFrame,
      bucketWidth: Int = 4096): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1: $bucketWidth")
    val P = graft.functions.Hashing.P
    val h = (graft.functions.Hashing.sha60(
      concat(col("role"), lit(":"), col("text"))) % P)
    val parts = transcripts
      .select(col("conv_id"),
        (col("turn_idx").cast("long") / bucketWidth).cast("long").as("bkt"),
        struct(col("turn_idx"), h.as("h")).as("__th"))
      .groupBy("conv_id", "bkt")
      .agg(sort_array(collect_list("__th")).as("__ths"))
      .select(col("conv_id"), col("bkt"),
        aggregate(transform(col("__ths"), t => t.getField("h")), lit(0L),
          (acc, x) => (acc * 8191L + x) % P).as("fp_b"),
        size(col("__ths")).cast("long").as("n_b"))
    parts
      .select(col("conv_id"), struct(col("bkt"), col("fp_b"), col("n_b")).as("__p"))
      .groupBy("conv_id")
      .agg(sort_array(collect_list("__p")).as("__ps"))
      .select(col("conv_id"),
        aggregate(col("__ps"), lit(0L),
          (acc, p) => (acc * column(PowMod(expression(lit(8191L)),
            expression(p.getField("n_b")))) + p.getField("fp_b")) % P).as("conv_fp"),
        aggregate(transform(col("__ps"), p => p.getField("n_b")), lit(0L),
          (acc, x) => acc + x).as("n_turns"))
  }

  /** Conversation-grain exact dedup: group [[fingerprint]]s, keep the
    * lowest conv_id per identical (role, text) turn sequence — the unit a
    * dataloader consumes is the unit that must be deduplicated; document
    * dedup over flattened turns misses whole-conversation copies with
    * different conv_ids. One additional shuffle on the 8-byte fp.
    */
  def dedupExact(transcripts: DataFrame): DataFrame =
    fingerprint(transcripts)
      .groupBy("conv_fp")
      .agg(min("conv_id").as("keep_conv"), count(lit(1)).as("n_copies"),
        max("n_turns").as("n_turns"))

  /** Token-budget prefix truncation: keep the longest PREFIX of each
    * conversation whose cumulative token count stays within `budget` —
    * the context-window fit pass. Kept rows carry the running total so
    * the dataloader needs no second pass; a conversation whose first turn
    * alone exceeds the budget contributes no rows (nothing fits). The
    * cumulative sum is monotone, so the filter provably keeps a prefix —
    * no turn after the first overflow can re-enter.
    */
  def truncateToBudget(transcripts: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, 0)
    transcripts
      .select(col("conv_id"), col("turn_idx"),
        nTok(col("text")).cast("long").as("n_tok"))
      .withColumn("cum_tok", sum("n_tok").over(w))
      .filter(col("cum_tok") <= budget)
      .select("conv_id", "turn_idx", "n_tok", "cum_tok")
  }
}
