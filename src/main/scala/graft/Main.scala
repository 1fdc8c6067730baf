package graft

import org.apache.spark.sql.SparkSession

import graft.checkpoint.LineageStore
import graft.model.PipelineConfig
import graft.sources.{SnapshotTable, Transcripts}

/** spark-submit entry point:
  *
  *   spark-submit --class graft.Main <jar> run   <tableRoot> <lineageRoot> <outDir>
  *   spark-submit --class graft.Main <jar> seed  <tableRoot> <numConvs> <turnsPerConv>
  *
  * `seed` appends a deterministic synthesized snapshot to the transcript
  * table; `run` executes one resumable pipeline pass (the freader collector
  * loop as a batch) and prints the run report. Repeated `run`s are
  * incremental: only un-committed / invalidated snapshot files process.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
    // spark-submit injects spark.master; running via sbt/java needs one
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    args.toList match {
      case "seed" :: tableRoot :: numConvs :: turnsPerConv :: rest =>
        val mega = rest.headOption.map(_.toLong).getOrElse(0L)
        val table = new SnapshotTable(spark, tableRoot)
        val snap = table.append(Transcripts.synthesize(
          spark, numConvs.toLong, turnsPerConv.toInt, megaTurns = mega).toDF())
        println(s"""{"seeded_snapshot":$snap}""")

      case "run" :: tableRoot :: lineageRoot :: outDir :: rest if rest.size <= 1 =>
        // config file: positional arg or GRAFT_CONFIG env (the reference's
        // --config flag / FREADER_CONFIG binding, cmd/freader/config.go:66-77);
        // no file → built-in demo rules
        val cfgFile = rest.headOption.orElse(sys.env.get("GRAFT_CONFIG"))
        val cfg = cfgFile match {
          case Some(f) =>
            graft.config.ConfigLoader.load(Some(f), sys.env) match {
              case Right(c) => c
              case Left(err) =>
                System.err.println(s"config error: $err")
                sys.exit(2)
                throw new IllegalStateException("unreachable")
            }
          case None => PipelineConfig(sinks = Queries.demoRules)
        }
        // optional /metrics endpoint (reference main.go:69-84): starts
        // before the run like the daemon, serves the report's counters
        // after it; GRAFT_METRICS_LINGER_MS holds the process open for a
        // scrape window before the batch exits (the daemon never exits —
        // the one structural difference)
        @volatile var metricsState = graft.metrics.Metrics.State()
        val lingerMs = sys.env.get("GRAFT_METRICS_LINGER_MS")
          .flatMap(_.toLongOption).getOrElse(0L)
        val stopMetrics = cfg.prometheusAddr.map { addr =>
          val (port, stop) = graft.metrics.Metrics.serve(addr,
            () => graft.metrics.Metrics.renderText(metricsState))
          System.err.println(s"[graft] serving /metrics on port $port")
          stop
        }
        // the endpoint's dispatcher thread is non-daemon: stop() must run
        // on EVERY exit path or a failed run leaves a zombie JVM holding
        // the port — linger only on success (a scrape window for the
        // final counters), never on the failure path
        try {
          val report = Pipeline.run(spark, new SnapshotTable(spark, tableRoot),
            new LineageStore(spark, lineageRoot), cfg, outDir)
          metricsState = metricsState.add(report)
          println(graft.metrics.Metrics.runLine(report))
          if (stopMetrics.nonEmpty && lingerMs > 0) Thread.sleep(lingerMs)
        } finally stopMetrics.foreach(_.apply())

      case other =>
        System.err.println(s"usage: graft.Main seed <table> <convs> <turns> [megaTurns] | " +
          s"run <table> <lineage> <out> [configFile]   (got: $other)")
        sys.exit(2)
    }
    spark.stop()
  }
}
