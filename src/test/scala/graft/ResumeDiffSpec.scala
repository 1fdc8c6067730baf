package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.{LineageEntry, LineageStore}

/** `Pipeline.resumeDiff` against a plain driver-side model, over random
  * lineage states written to a real [[LineageStore]] and an in-memory
  * manifest of fingerprints — no `Pipeline.run`, so the property affords
  * hundreds of cases.
  */
class ResumeDiffSpec extends AnyFunSuite {
  import ResumeDiffSpec.State
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val files = (0 until 6).map(i => s"/data/part-$i.parquet")
  private val hashes = Seq("h0", "h1", "h2")
  // the last one is never configured: lineage a past config left behind
  private val sinkPool = Seq("all", "errors", "audit", "retired")

  private val genState: Gen[State] = for {
    nSinks <- Gen.choose(1, 3)
    sinks <- Gen.pick(nSinks, sinkPool.init)
    inManifest <- Gen.someOf(files)
    manifestHashes <- Gen.listOfN(inManifest.size, Gen.oneOf(hashes))
    manifest = inManifest.toSeq.zip(manifestHashes).toMap
    // files with lineage: kept (same hash), rewritten (another hash) or
    // vanished (not in the manifest); any subset of sinks, some covered
    // twice with different commit times (or the same, then the hash
    // breaks the tie)
    tracked <- Gen.someOf(files)
    perFile <- Gen.sequence[Seq[Seq[LineageEntry]], Seq[LineageEntry]](
      tracked.toSeq.map { f =>
        for {
          covered <- Gen.someOf(sinkPool)
          perSink <- Gen.sequence[Seq[Seq[LineageEntry]], Seq[LineageEntry]](
            covered.toSeq.map { s =>
              Gen.choose(1, 2).flatMap(n => Gen.listOfN(n, for {
                hash <- manifest.get(f) match {
                  case Some(h) => Gen.frequency(2 -> Gen.const(h), 1 -> Gen.oneOf(hashes))
                  case None => Gen.oneOf(hashes)
                }
                at <- Gen.choose(1L, 4L)
                delivered <- Gen.choose(0L, 9L)
                failed <- Gen.choose(0L, 3L)
              } yield LineageEntry(s"run-$at", at, f, s, delivered, failed, hash, at)))
            })
        } yield perSink.flatten
      })
    entries = perFile.flatten
    nCommits <- Gen.choose(1, 3)
    slots <- Gen.listOfN(entries.size, Gen.choose(0, nCommits - 1))
    firstIsOld <- Gen.oneOf(true, false)
  } yield State(sinks.toSeq, manifest, (0 until nCommits).map { c =>
    (c == 0 && firstIsOld, entries.zip(slots).collect { case (e, `c`) => e })
  })

  /** The diff's answer, as `Pipeline.run` derives it from `readAll()` and
    * the manifest, in driver-side collections.
    */
  private def model(entries: Seq[LineageEntry], manifest: Map[String, String],
      sinks: Seq[String]): Pipeline.ResumeDiff = {
    val byFile = entries.groupBy(_.file)
    val prev = byFile.map { case (f, es) =>
      f -> es.maxBy(e => (e.committedAtMs, e.contentHash)).contentHash }
    val ns = byFile.map { case (f, es) =>
      f -> es.map(_.sink).filter(sinks.contains).distinct.size }
    val live = manifest.keys.toSeq.sorted
    Pipeline.ResumeDiff(
      vanished = (byFile.keySet -- manifest.keySet).toSeq.sorted,
      invalidated = live.filter(f => prev.get(f).exists(_ != manifest(f)))
        .map(f => f -> prev(f)),
      todo = live.filter(f => !prev.get(f).contains(manifest(f)) || ns(f) < sinks.size)
        .map(f => f -> manifest(f)))
  }

  private def check(st: State): Prop = {
    val root = Files.createTempDirectory("graft-diff").toString
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val lineage = new LineageStore(spark, s"$root/lineage")
      st.commits.zipWithIndex.foreach {
        case ((true, es), i) if es.nonEmpty =>
          es.map(e => (e.runId, e.snapshotId, e.file, e.sink, e.rowsDelivered,
              e.contentHash, e.committedAtMs))
            .toDF("runId", "snapshotId", "file", "sink", "rowsDelivered",
              "contentHash", "committedAtMs")
            .coalesce(1).write.parquet(s"$root/lineage/commit-old-$i")
        case ((false, es), i) if es.nonEmpty =>
          lineage.commitDf(spark.createDataset(es).toDF().coalesce(1), s"c$i")
        case _ =>
      }
      // an old-schema row reads back with rowsFailed defaulted to 0
      val written = st.commits.flatMap { case (old, es) =>
        if (old) es.map(_.copy(rowsFailed = 0L)) else es }
      val read = lineage.readAll()
      val diff = Pipeline.resumeDiff(lineage.entriesDf(),
        st.manifest.toSeq.toDF("file", "contentHash"), st.sinks)
      val expected = model(read, st.manifest, st.sinks)
      val readOk = read.sortBy(_.toString) == written.sortBy(_.toString)
      (readOk :| s"readAll: $read, written: $written") &&
        ((diff == expected) :| s"diff: $diff, model: $expected")
    } finally fs.delete(rootPath, true)
  }

  test("resume diff equals the driver-side model over random lineage states") {
    val seed = Seed.random()
    val params = Test.Parameters.default
      .withMinSuccessfulTests(200).withWorkers(1).withInitialSeed(seed)
    val result = Test.check(params, Prop.forAllNoShrink(genState)(check))
    assert(result.passed,
      s"seed ${seed.toBase64}: ${Pretty.pretty(result, Pretty.Params(1))}")
  }
}

object ResumeDiffSpec {
  /** One lineage state: configured sinks, the manifest (file → current
    * hash) and the commits in order, each flagged when it is written in the
    * schema from before `rowsFailed` existed.
    */
  final case class State(
      sinks: Seq[String],
      manifest: Map[String, String],
      commits: Seq[(Boolean, Seq[LineageEntry])])
}
