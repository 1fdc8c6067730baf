package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.matching.Regex

import graft.operators.{Enrich, Parse, Route}

/** Dump `.explain("formatted")` output for named queries to files — the
  * optimization-round before/after plan artifacts
  * (plans/rNN/<query>_<suffix>.txt).
  *
  *   runMain graft.tools.PlanDump <outDir> <suffix> [names...]
  *
  * No names = the heavy-query slice the optimization round touches, plus
  * two pseudo-names: `e2e_scaling`, the e2e scaling job (the Bench part-2
  * workload), and `q_neardup_incremental_staged`, the staged LSH plan of
  * q_neardup_incremental (whose own plan is only the scan of its
  * materialized result). Runs over $SPARK_GRAFT_SF_DIR (default sf0.1) so
  * the plans match the benched scale.
  *
  * Expression ids (`#123`), exchange plan ids (`plan_id=45`) and the RDD
  * ids of checkpointed scans (`RDD[192]`) are renumbered by first
  * appearance ([[renumbered]]): the raw ids depend on how many the session
  * handed out before, so without this two dumps of one plan differ; with
  * it they are byte-identical and diff cleanly. The call site of a
  * checkpointed scan keeps its file but drops its line (`at Dedup.scala`),
  * so an edit elsewhere in that file does not show as a plan change.
  */
object PlanDump {

  private val defaultNames = Seq(
    "e2e_scaling",
    "q_dedup_ngram", "q_dedup_minhash", "q_neardup_incremental",
    "q_neardup_incremental_staged",
    "q_curate_full",
    "q_prep_pipeline", "q_dedup_retract", "q_knn_recall",
    "q_knn_brute", "q_knn_lsh", "q_knn_ivf",
    "q_dedup_clusters_star", "q_dedup_clusters", "q_dedup_canonical",
    "q_emb_neardup", "q_conv_neardup", "q_dedup_incremental",
    "q_dsir_select", "q_csv_typed", "q_bm25_search", "q_semdedup",
    "q_dup_spans", "q_data_card", "q_corpus_drift", "q_knn_ivf_kmeans",
    "q_source_dup_matrix", "q_parse_kv", "q_decontaminate", "q1_agg")

  /** `plan` with each id namespace (`#`, `plan_id=`, `RDD[`) renumbered
    * 0, 1, 2, ... in order of first appearance, and call-site line numbers
    * dropped.
    */
  private def renumbered(plan: String): String = {
    val ids = mutable.Map.empty[String, mutable.Map[String, Int]]
    """(#|plan_id=|RDD\[)(\d+)""".r.replaceAllIn(plan, m => {
      val seen = ids.getOrElseUpdate(m.group(1), mutable.Map.empty)
      Regex.quoteReplacement(m.group(1) + seen.getOrElseUpdate(m.group(2), seen.size))
    }).replaceAll("""(at \w+\.scala):\d+""", "$1")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r07")
    val suffix = args.drop(1).headOption.getOrElse("before")
    val names = if (args.length <= 2) defaultNames else args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = Probe.session(cpus)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = n match {
        case "e2e_scaling" =>
          Route.sinkCounts(Route.routed(Enrich.enrich(Parse.parseTurns(
            graft.sources.Transcripts.fromEvents(s, sfDir)))), graft.Queries.demoRules)
        case "q_neardup_incremental_staged" =>
          graft.Queries.neardupIncrementalStaged(s, sfDir).fresh
        case _ => graft.SparkEntry.queries(n)(s, sfDir)
      }
      val plan = renumbered(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] $n -> $outDir/${n}_$suffix.txt (${plan.length} chars)")
    }
    s.stop()
  }
}
