package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.{CommitLog, Fingerprint, LineageEntry, LineageStore}
import graft.model.{PipelineConfig, SinkRule}
import graft.operators.Dedup
import graft.sources.{SnapshotTable, Transcripts}

/** Crash states of the dir-per-commit stores — the lineage store and the
  * dedup seen-store (exact and minhash) — at each commit point of their
  * shared commit log. One table of cases runs against every store. Each
  * crash state is built directly on disk with file-system calls, then the
  * store's answer is checked against a model of the batches it committed.
  * The snapshot table's append and the protocol's single ownership of
  * renames and deletes are checked beside them.
  */
class CommitLogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = FileSystem.getLocal(conf)

  /** One store under test. Batch `k` is a fixed unit of content; `model`
    * is what the store must answer once exactly the batches `ks` are
    * committed.
    */
  private abstract class Store {
    def root: Path
    def prefix: String
    def commit(k: Int): Unit
    /** Commit batch `k` through a store whose compaction threshold is 0,
      * so the commit compacts every live dir.
      */
    def commitCompacting(k: Int): Unit
    def retract(k: Int): Unit
    /** The answer of a read taken now and evaluated when called. */
    def pinned(): () => Set[String]
    def answer(): Set[String] = pinned()()
    def model(ks: Set[Int]): Set[String]
    /** A resume against the store re-processes nothing. */
    def resumeIsNoop(): Boolean = true
  }

  /** Batch `k` = one appended table snapshot; its entries are the lineage
    * rows a delivery of every file to every sink would commit, content
    * hash included, so a `Pipeline.run` resume treats the files as done.
    * The answer is the latest entry per (file, sink), as resume reads it.
    */
  private final class LineageUnderTest(dir: String) extends Store {
    val root = new Path(s"$dir/lineage")
    val prefix = "commit-"
    private val cfg = PipelineConfig(sinks = Seq(
      SinkRule("all"), SinkRule("errors", include = Seq("status=err"))))
    private val table = new SnapshotTable(spark, s"$dir/table")
    private val store = new LineageStore(spark, root.toString)
    private val files = scala.collection.mutable.Map.empty[Int, Seq[String]]

    private def filesOf(k: Int): Seq[String] = synchronized {
      files.getOrElseUpdate(k, {
        val before = table.currentSnapshotId.map(table.filesAt).getOrElse(Nil).toSet
        val snap = table.append(Transcripts.synthesize(spark, 2, 3).toDF()
          .withColumn("conv_id", concat(lit(s"b$k-"), $"conv_id")))
        table.filesAt(snap).filterNot(before)
      })
    }

    private def entries(k: Int): Seq[LineageEntry] =
      for (f <- filesOf(k); s <- cfg.sinks) yield LineageEntry(s"run-$k", k, f,
        s.name, 10L + k, 0L, Fingerprint.ofFile(spark, f, cfg.fingerprintSize), 1000L + k)

    private def render(e: LineageEntry): String =
      s"${e.file}|${e.sink}|${e.rowsDelivered}|${e.contentHash}"

    def commit(k: Int): Unit = store.commit(entries(k))
    def commitCompacting(k: Int): Unit =
      new LineageStore(spark, root.toString, maxCommitDirs = 0).commit(entries(k))
    def retract(k: Int): Unit =
      store.pruneTo(synchronized(files.toMap).removed(k).values.flatten.toSet)
    def pinned(): () => Set[String] = {
      val df = store.entriesDf()
      () => df.as[LineageEntry].collect().groupBy(e => (e.file, e.sink))
        .values.map(es => render(es.maxBy(_.committedAtMs))).toSet
    }
    def model(ks: Set[Int]): Set[String] = ks.flatMap(entries(_).map(render))
    override def resumeIsNoop(): Boolean =
      Pipeline.run(spark, table, store, cfg, s"$dir/sinks").processedFiles.isEmpty
  }

  /** Batch `k` = two docs with a vocabulary of their own, from source
    * `f<k>`. The answer is the survivors of a probe batch holding every
    * batch's docs, staged against the store and never committed.
    */
  private final class SeenUnderTest(dir: String, minhash: Boolean) extends Store {
    val root = new Path(s"$dir/store")
    val prefix = "seen-"
    private val batches = 0 until 4

    private def texts(k: Int): Seq[String] =
      Seq("a", "b").map(d => (0 until 12).map(j => s"b$k${d}w$j").mkString(" "))

    private def stage(src: String, ks: Seq[Int],
        maxSeenDirs: Int = 16): Dedup.IncrementalBatch = {
      val df: DataFrame = ks.flatMap(texts).zipWithIndex
        .map { case (t, i) => (s"$src#$i", t, src) }.toDF("id", "text", "src")
      if (minhash) Dedup.incrementalMinhashStaged(df, "id", "text", root.toString,
        bands = 8, rowsPerBand = 2, threshold = 0.6, maxSeenDirs = maxSeenDirs,
        srcCol = Some("src"))
      else Dedup.incrementalExactStaged(df, "id", "text", root.toString,
        maxSeenDirs = maxSeenDirs, srcCol = Some("src"))
    }

    def commit(k: Int): Unit = stage(s"f$k", Seq(k)).commit()
    def commitCompacting(k: Int): Unit = stage(s"f$k", Seq(k), maxSeenDirs = 0).commit()
    def retract(k: Int): Unit = Dedup.retractSources(spark, root.toString, Seq(s"f$k"))
    def pinned(): () => Set[String] = {
      val probe = stage("probe", batches)
      () => probe.fresh.select("text").as[String].collect().toSet
    }
    def model(ks: Set[Int]): Set[String] = batches.filterNot(ks).flatMap(texts).toSet
  }

  private val stores: Seq[(String, String => Store)] = Seq(
    "lineage store" -> (d => new LineageUnderTest(d)),
    "exact seen-store" -> (d => new SeenUnderTest(d, minhash = false)),
    "minhash seen-store" -> (d => new SeenUnderTest(d, minhash = true)))

  /** One row of the case table: `body` gets the store under test, a
    * sibling store of the same kind (a source of valid commit dirs) and a
    * scratch dir.
    */
  private def crashCase(name: String)(body: (Store, Store, Path) => Unit): Unit =
    stores.foreach { case (label, make) =>
      test(s"$label: $name") {
        val dir = Files.createTempDirectory("graft-commitlog").toString
        body(make(s"$dir/main"), make(s"$dir/sibling"), new Path(s"$dir/scratch"))
      }
    }

  private def named(s: Store, p: String => Boolean): Seq[Path] =
    fs.listStatus(s.root).toSeq.map(_.getPath).filter(d => p(d.getName))

  private def commitDirs(s: Store): Seq[Path] = named(s, _.startsWith(s.prefix))

  /** Copy every data file under `src` into `dest`, keeping subdirs; names
    * get the source dir's name as a prefix, so several sources can merge
    * into one dest. Metadata files (`_*`, `.*`) are left out.
    */
  private def copyData(src: Path, dest: Path): Unit = {
    val it = fs.listFiles(src, true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (!p.getName.startsWith("_") && !p.getName.startsWith(".")) {
        val sub = p.getParent.toUri.getPath.stripPrefix(src.toUri.getPath)
        FileUtil.copy(fs, p, fs,
          new Path(dest.toString + sub, s"${src.getName}-${p.getName}"), false, conf)
      }
    }
  }

  crashCase("(a) a commit that crashed before its rename is never read, and swept once stale") {
    (s, sibling, _) =>
      s.commit(0); s.commit(1)
      sibling.commit(3)
      val Seq(made) = commitDirs(sibling)
      val stale = new Path(s.root, "_tmp-crashed")
      val inFlight = new Path(s.root, "_tmp-inflight")
      copyData(made, stale); copyData(made, inFlight)
      assert(s.answer() == s.model(Set(0, 1)))
      fs.setTimes(stale, System.currentTimeMillis() - 2L * 60 * 60 * 1000, -1)
      s.commit(2)
      assert(!fs.exists(stale), "a stale _tmp-* dir must be swept by the next commit")
      assert(fs.exists(inFlight), "a fresh _tmp-* dir may be a commit in flight")
      assert(s.answer() == s.model(Set(0, 1, 2)))
  }

  crashCase("(b) a merged commit whose sources were never superseded changes no answer") {
    (s, _, _) =>
      Seq(0, 1, 2).foreach(s.commit)
      assert(s.answer() == s.model(Set(0, 1, 2)))
      val merged = new Path(s.root, s"${s.prefix}crash-merged")
      commitDirs(s).foreach(copyData(_, merged))
      assert(commitDirs(s).size == 4)
      assert(s.answer() == s.model(Set(0, 1, 2)))
      assert(s.resumeIsNoop())
  }

  crashCase("(c) a retraction re-run after a crash before its supersede converges") {
    (s, _, scratch) =>
      Seq(0, 1, 2).foreach(s.commit)
      val before = commitDirs(s)
      before.foreach(d => FileUtil.copy(fs, d, fs, new Path(scratch, d.getName), false, conf))
      s.retract(0)
      val want = s.answer()
      assert(want == s.model(Set(1, 2)))
      // roll the supersede back: the rewrite landed, but the sources were
      // neither deleted nor retired
      before.foreach { d =>
        if (!fs.exists(d)) FileUtil.copy(fs, new Path(scratch, d.getName), fs, d, false, conf)
        fs.delete(new Path(d, "_retired"), false)
      }
      assert(s.answer() != want, "the crash state still holds the retracted batch")
      s.retract(0)
      assert(s.answer() == want)
  }

  crashCase("(d) two committers on two threads both land; the reader sees the union") {
    (s, _, _) =>
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(Seq(0, 1).map(k => Future(s.commit(k)))), 5.minutes)
      finally pool.shutdown()
      assert(commitDirs(s).size == 2)
      assert(s.answer() == s.model(Set(0, 1)))
      assert(named(s, _.startsWith("_tmp-")).isEmpty)
  }

  crashCase("(f) a read taken before a compaction or a rewrite reads the same rows after it") {
    (s, _, _) =>
      Seq(0, 1).foreach(s.commit)
      val beforeCompaction = s.pinned()
      s.commitCompacting(2)
      val beforeRewrite = s.pinned()
      s.retract(0)
      assert(beforeCompaction() == s.model(Set(0, 1)))
      assert(beforeRewrite() == s.model(Set(0, 1, 2)))
      assert(s.answer() == s.model(Set(1, 2)))
  }

  test("two lineage commits under one id both land and both read back") {
    val store = new LineageStore(spark,
      Files.createTempDirectory("graft-commit-twice").resolve("lineage").toString)
    def entry(file: String) = LineageEntry("run-1", 1L, file, "all", 1L, 0L, "h", 1000L)
    store.commit(Seq(entry("a")))
    store.commit(Seq(entry("b")))
    assert(store.readAll().map(_.file).toSet == Set("a", "b"))
  }

  test("a snapshot table sweeps a crashed append's stale _tmp-* dir and keeps a fresh one") {
    val dir = Files.createTempDirectory("graft-table").toString
    val table = new SnapshotTable(spark, dir)
    def rows = Transcripts.synthesize(spark, 1, 2).toDF()
    val first = table.filesAt(table.append(rows))
    // a crashed append leaves its staged data under the manifests dir,
    // never in `data/` or a manifest
    val manifests = new Path(dir, "manifests")
    val stale = new Path(manifests, "_tmp-crashed")
    val inFlight = new Path(manifests, "_tmp-inflight")
    Seq(stale, inFlight).foreach(p => rows.write.parquet(p.toString))
    fs.setTimes(stale, System.currentTimeMillis() - 2L * 60 * 60 * 1000, -1)
    val snap = table.append(rows)
    assert(!fs.exists(stale), "a stale _tmp-* dir must be swept by the next append")
    assert(fs.exists(inFlight), "a fresh _tmp-* dir may be an append in flight")
    val files = table.filesAt(snap)
    assert(files.take(first.size) == first && files.size > first.size)
    assert(fs.listStatus(manifests).map(_.getPath.getName).filter(_.startsWith("_"))
      .toSeq == Seq("_tmp-inflight"))
    assert(table.read(spark, snap).count() == 2 * rows.count())
  }

  test("src/main renames and deletes store commits, manifests and _tmp-* only in CommitLog") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    // the named exceptions: Pipeline publishes each (sink, batch) dir and
    // deletes a rewritten file's stale batch dirs; Bucketed overwrites the
    // location of a catalog table, which has no commit protocol
    val allowed = Seq(
      "Pipeline.scala" -> "require(fs.rename(src, dest),",
      "Pipeline.scala" -> "fs.delete(new Path(root, s\"batch=$old\"), true)",
      "Bucketed.scala" -> "if (fs.exists(loc)) fs.delete(loc, true)")
    val call = raw"\.(rename|delete\w*|fullyDelete)\((?!\))".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = files.filter(_.getFileName.toString != "CommitLog.scala").flatMap { f =>
      val name = f.getFileName.toString
      val lines = new String(Files.readAllBytes(f), StandardCharsets.UTF_8).split("\n")
      lines.zipWithIndex.collect {
        case (l, i) if call.findFirstIn(l).isDefined &&
            !allowed.exists { case (n, text) => n == name && l.contains(text) } =>
          s"${root.relativize(f)}:${i + 1}: ${l.trim}"
      }
    }
    assert(files.size > 40)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the store lease has one holder at a time: 4 threads released together contend it") {
    val (threads, rounds) = (4, 10)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val overlapped = (0 until rounds).count { _ =>
        val root = new Path(Files.createTempDirectory("graft-lease").toString, "store")
        val log = new CommitLog(fs, root, "seen-")
        val start = new CyclicBarrier(threads)
        val inFlight = new AtomicInteger(0)
        val peak = new AtomicInteger(0)
        Await.result(Future.sequence(Seq.fill(threads)(Future {
          start.await()
          log.withLock {
            peak.accumulateAndGet(inFlight.incrementAndGet(), math.max(_, _))
            Thread.sleep(50)
            inFlight.decrementAndGet()
          }
        })), 2.minutes)
        peak.get > 1
      }
      assert(overlapped == 0, s"$overlapped of $rounds rounds had two lease holders at once")
    } finally pool.shutdown()
  }
}
