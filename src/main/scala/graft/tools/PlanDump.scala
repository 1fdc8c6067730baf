package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

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
  */
object PlanDump {

  private val defaultNames = Seq(
    "e2e_scaling",
    "q_dedup_ngram", "q_neardup_incremental", "q_neardup_incremental_staged",
    "q_curate_full",
    "q_prep_pipeline", "q_dedup_retract", "q_knn_recall",
    "q_dedup_clusters_star", "q_dedup_clusters", "q_dedup_canonical",
    "q_emb_neardup", "q_conv_neardup", "q_dedup_incremental",
    "q_dsir_select", "q_csv_typed", "q_bm25_search", "q_semdedup",
    "q_dup_spans", "q_data_card", "q_corpus_drift", "q_knn_ivf_kmeans",
    "q_source_dup_matrix", "q_parse_kv", "q_decontaminate", "q1_agg")

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
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] $n -> $outDir/${n}_$suffix.txt (${plan.length} chars)")
    }
    s.stop()
  }
}
