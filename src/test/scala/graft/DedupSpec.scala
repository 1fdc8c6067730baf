package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SimHashHelper
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = {
    val base = (0 until 60).map { i =>
      // unique leading token prevents accidental exact collisions; the
      // shared vocabulary keeps shingle overlap realistic
      val words = s"doc$i" +: (0 until 20).map(j => s"w${(i * 7 + j * 13) % 40}")
      (i.toLong, words.mkString(" "))
    }
    // plant: exact dup of doc 3, near-dup of doc 5 (two words appended)
    val planted = Seq(
      (1003L, base(3)._2),
      (1005L, base(5)._2 + " tail tail"))
    (base ++ planted).toDF("doc_id", "text")
  }

  test("exact dedup groups exact copies only") {
    val groups = Dedup.exact(docs, "doc_id", "text")
      .filter($"n_copies" > 1).as[(String, Long, Long)].collect()
    assert(groups.map(g => (g._2, g._3)).toSet == Set((3L, 2L)))
  }

  test("ngram jaccard finds the planted near-dup (and the exact dup)") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 1003L)))
    assert(pairs.contains((5L, 1005L)))
  }

  test("prefix-filtered ngram jaccard equals the naive inverted-index computation") {
    // the r7 AllPairs/PPJoin rewrite must return the IDENTICAL pair set and
    // jaccard values as the naive shape it replaced: explode string
    // shingles, self-join on shingle equality, per-pair intersection counts
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val sizes = sets.select($"id", size($"sh").as("sz"))
    val inv = sets.select($"id", explode($"sh").as("s"))
    val naive = inv.as("l").join(inv.as("r"),
        $"l.s" === $"r.s" && $"l.id" < $"r.id")
      .groupBy($"l.id".as("a"), $"r.id".as("b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jaccard",
        $"inter".cast("double") / ($"sza" + $"szb" - $"inter"))
      .filter($"jaccard" >= 0.6)
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val fast = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    assert(fast == naive)
    assert(fast.nonEmpty) // the planted pairs guarantee a non-trivial check
  }

  test("minhash LSH over hashed shingles verifies the same pairs as exact jaccard") {
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // LSH candidates are verified with exact jaccard (over the hashed
    // shingle sets) => lsh ⊆ exact barring 2^-31 collisions; with 8 bands
    // the planted pairs must be recalled
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((3L, 1003L)) && lsh.contains((5L, 1005L)))
  }

  test("connectedComponents: bounded rounds — a deep chain throws at a low cap, converges under the default") {
    // one 12-node chain: min-label propagation needs ~11 rounds
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxRounds = 3).count()
    }
    assert(ex.getMessage.contains("deeper than the maxRounds bound of 3 hops"))
    val labels = Dedup.connectedComponents(chain)
      .select("id", "cluster", "n_members").as[(Long, Long, Long)].collect()
    assert(labels.length == 12)
    assert(labels.forall { case (_, c, n) => c == 0L && n == 12L })
  }

  /** The JVM model: (id, minimum id of its component, component size) for
    * every id of `edges`, by union-find that always links the larger root
    * under the smaller, so each root is its component's minimum.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // iterate a copy of the keys: find's path compression writes `parent`,
    // and a write can grow the hash table, which skips keys of a live
    // iteration over it
    val root = parent.keys.toList.map(i => i -> find(i)).toMap
    val size = root.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    root.map { case (i, r) => (i, r, size(r)) }.toSet
  }

  /** A random graph over fewer than 25 local ids, so every component is
    * far shallower than the 50-round bound: chains and cycles over random
    * node orders, random edges and self-loops, each edge possibly reversed
    * and possibly repeated.
    */
  private val genGraph: Gen[Seq[(Long, Long)]] = Gen.choose(1, 24).flatMap { n =>
    val node = Gen.choose(0L, n - 1L)
    val order = Gen.listOfN(n, Gen.choose(0, Int.MaxValue))
      .map(ks => (0L until n).zip(ks).sortBy(_._2).map(_._1))
    val chain = Gen.zip(order, Gen.choose(1, n), Gen.oneOf(false, true)).map {
      case (o, k, closed) =>
        val p = o.take(k)
        p.zip(p.drop(1)) ++ (if (closed && k > 2) Seq((p.last, p.head)) else Nil)
    }
    val piece = Gen.frequency(
      3 -> chain,
      2 -> Gen.zip(node, node).map(Seq(_)),
      1 -> node.map(x => Seq((x, x))))
    val edge = (e: (Long, Long)) => Gen.frequency(
      4 -> Seq(e), 2 -> Seq(e.swap), 1 -> Seq(e, e), 1 -> Seq(e, e.swap))
    Gen.choose(1, 4).flatMap(Gen.listOfN(_, piece))
      .flatMap(ps => Gen.sequence[Seq[Seq[(Long, Long)]], Seq[(Long, Long)]](ps.flatten.map(edge)))
      .map(_.flatten)
  }

  test("connectedComponents matches a union-find model over random graphs") {
    val mixed = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),        // triangle
      (10L, 11L), (11L, 12L), (12L, 13L),  // path
      (20L, 21L),                          // pair
      (30L, 30L))                          // self-loop only => singleton
    val span = 1000L // every case's ids lie in [i·span, (i+1)·span)
    Cases.check(genGraph, Seq(mixed)) { cases =>
      val shifted = cases.zipWithIndex.map { case (es, i) =>
        es.map { case (a, b) => (a + i * span, b + i * span) }
      }
      // ONE connectedComponents call over every case's edges
      val got = Dedup.connectedComponents(shifted.flatten.toDF("a", "b"))
        .select("id", "cluster", "n_members").as[(Long, Long, Long)].collect()
        .groupBy(_._1 / span)
      shifted.zipWithIndex.flatMap { case (es, i) =>
        val want = unionFind(es)
        val have = got.getOrElse(i.toLong, Array.empty[(Long, Long, Long)]).toSet
        if (have == want) None
        else Some((cases(i), "missing", want -- have, "extra", have -- want))
      }
    }
  }

  test("retractSources (exact store): only the retracted source's exclusive hashes reopen") {
    val dir = java.nio.file.Files.createTempDirectory("graft-retract").toString
    def batch(src: String, texts: Seq[String]) = texts.zipWithIndex
      .map { case (t, i) => (s"$src#$i", t, src) }.toDF("id", "text", "src")
    // f1 introduces T1, T2; f2 then carries T2 (suppressed), introduces T3
    val b1 = Dedup.incrementalExactStaged(batch("f1", Seq("T1 alpha", "T2 beta")),
      "id", "text", dir, srcCol = Some("src"))
    assert(b1.fresh.count() == 2); b1.commit()
    val b2 = Dedup.incrementalExactStaged(batch("f2", Seq("T2 beta", "T3 gamma")),
      "id", "text", dir, srcCol = Some("src"))
    assert(b2.fresh.select("text").as[String].collect().toSet == Set("T3 gamma"))
    b2.commit()

    // retract f1: T1 and T2 reopen (their ONLY provenance row is f1 — f2's
    // suppressed copy never committed), T3 stays seen
    Dedup.retractSources(spark, dir, Seq("f1"))
    val b3 = Dedup.incrementalExactStaged(
      batch("f3", Seq("T1 alpha", "T2 beta", "T3 gamma")),
      "id", "text", dir, srcCol = Some("src"))
    assert(b3.fresh.select("text").as[String].collect().toSet
      == Set("T1 alpha", "T2 beta"))
    b3.commit()
    // and the rewritten store still works incrementally
    val b4 = Dedup.incrementalExactStaged(batch("f4", Seq("T1 alpha", "T4 delta")),
      "id", "text", dir, srcCol = Some("src"))
    assert(b4.fresh.select("text").as[String].collect().toSet == Set("T4 delta"))
  }

  test("retractSources (minhash store): bands/sets/exact all drop the retracted source") {
    val dir = java.nio.file.Files.createTempDirectory("graft-retract-mh").toString
    val longA = "alpha " + (0 until 15).map(i => s"w$i").mkString(" ")
    val longB = "bravo " + (0 until 15).map(i => s"v$i").mkString(" ")
    def batch(src: String, texts: Seq[String]) = texts.zipWithIndex
      .map { case (t, i) => (s"$src#$i", t, src) }.toDF("id", "text", "src")
    val b1 = Dedup.incrementalMinhashStaged(batch("f1", Seq(longA)),
      "id", "text", dir, bands = 8, rowsPerBand = 2, threshold = 0.6,
      srcCol = Some("src"))
    assert(b1.fresh.count() == 1); b1.commit()
    // a near-dup of longA from f2 is dropped cross-batch
    val b2 = Dedup.incrementalMinhashStaged(batch("f2", Seq(longA + " tail tail", longB)),
      "id", "text", dir, bands = 8, rowsPerBand = 2, threshold = 0.6,
      srcCol = Some("src"))
    assert(b2.fresh.select("text").as[String].collect().toSet == Set(longB))
    b2.commit()

    Dedup.retractSources(spark, dir, Seq("f1"))
    // longA's state (exact hash, bands, sets) is gone: both the exact
    // replay and the near-dup now pass; longB (src f2) stays suppressed
    val b3 = Dedup.incrementalMinhashStaged(
      batch("f3", Seq(longA, longB)),
      "id", "text", dir, bands = 8, rowsPerBand = 2, threshold = 0.6,
      srcCol = Some("src"))
    assert(b3.fresh.select("text").as[String].collect().toSet == Set(longA))
  }

  private def hadoopFs(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def seenDirs(dir: String): Seq[org.apache.hadoop.fs.Path] = {
    val fs = hadoopFs(dir)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath).filter(_.getName.startsWith("seen-"))
      .sortBy(_.getName)
  }

  /** Recursive (relative-path, length, mtime) listing — byte-identity
    * evidence for untouched store partitions.
    */
  private def fileStamps(dir: org.apache.hadoop.fs.Path): Set[(String, Long, Long)] = {
    val fs = hadoopFs(dir.toString)
    val it = fs.listFiles(dir, true)
    val buf = scala.collection.mutable.Set.empty[(String, Long, Long)]
    while (it.hasNext) {
      val st = it.next()
      buf += ((st.getPath.toString.stripPrefix(dir.toString),
        st.getLen, st.getModificationTime))
    }
    buf.toSet
  }

  test("retraction is partition-scoped: manifest-disjoint store dirs stay byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-retract-part").toString
    def batch(src: String, texts: Seq[String]) = texts.zipWithIndex
      .map { case (t, i) => (s"$src#$i", t, src) }.toDF("id", "text", "src")
    val b1 = Dedup.incrementalExactStaged(batch("f1", Seq("T1 alpha")),
      "id", "text", dir, srcCol = Some("src"))
    b1.commit()
    val Seq(d1) = seenDirs(dir)
    val b2 = Dedup.incrementalExactStaged(batch("f2", Seq("T2 beta")),
      "id", "text", dir, srcCol = Some("src"))
    b2.commit()
    val Seq(dA, dB) = seenDirs(dir)
    val d2 = if (dA == d1) dB else dA
    val d2Before = fileStamps(d2)

    Dedup.retractSources(spark, dir, Seq("f1"))
    val fs = hadoopFs(dir)
    // f2's commit dir was never opened for write: identical listing, no
    // retirement marker
    assert(fileStamps(d2) == d2Before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d2, "_retired")))
    // f1's dir is RETIRED, not deleted: marker present, parquet intact
    assert(fs.exists(new org.apache.hadoop.fs.Path(d1, "_retired")))
    assert(spark.read.parquet(d1.toString).count() == 1L)
    // semantics: T1 reopened, T2 still suppressed
    val b3 = Dedup.incrementalExactStaged(
      batch("f3", Seq("T1 alpha", "T2 beta")), "id", "text", dir,
      srcCol = Some("src"))
    assert(b3.fresh.select("text").as[String].collect().toSet == Set("T1 alpha"))
  }

  test("a staged batch's pinned plan survives a concurrent retraction") {
    val dir = java.nio.file.Files.createTempDirectory("graft-retract-race").toString
    val longA = "alpha " + (0 until 15).map(i => s"w$i").mkString(" ")
    val longB = "bravo " + (0 until 15).map(i => s"v$i").mkString(" ")
    def batch(src: String, texts: Seq[String]) = texts.zipWithIndex
      .map { case (t, i) => (s"$src#$i", t, src) }.toDF("id", "text", "src")
    val b1 = Dedup.incrementalMinhashStaged(batch("f1", Seq(longA)),
      "id", "text", dir, bands = 8, rowsPerBand = 2, threshold = 0.6,
      srcCol = Some("src"))
    b1.commit()
    // stage a batch whose plan pins f1's store dirs (the streaming
    // near-dup stage shares the store with batch retraction exactly here)
    val staged = Dedup.incrementalMinhashStaged(
      batch("f2", Seq(longA + " tail tail", longB)),
      "id", "text", dir, bands = 8, rowsPerBand = 2, threshold = 0.6,
      srcCol = Some("src"))
    // retraction rewrites and retires those dirs mid-stage...
    val Seq(d1) = seenDirs(dir)
    Dedup.retractSources(spark, dir, Seq("f1"))
    val fs = hadoopFs(dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(d1, "_retired")))
    // ...and the staged plan still evaluates against its pinned snapshot:
    // the near-dup of longA is suppressed (pre-retraction view), no
    // FileNotFound from deleted paths
    assert(staged.fresh.select("text").as[String].collect().toSet == Set(longB))
    staged.commit()
    // a later stage's compaction retires pinned dirs the same way: stage a
    // batch that pins the live dirs, then a stage that merges them all
    val pinned = Dedup.listSeen(fs, new org.apache.hadoop.fs.Path(dir))
    assert(pinned.nonEmpty)
    val longC = "charlie " + (0 until 15).map(i => s"u$i").mkString(" ")
    val second = Dedup.incrementalMinhashStaged(
      batch("f3", Seq(longB + " tail tail", longC)),
      "id", "text", dir, bands = 8, rowsPerBand = 2, threshold = 0.6,
      srcCol = Some("src"))
    val compacting = Dedup.incrementalMinhashStaged(batch("f4", Seq(longC)),
      "id", "text", dir, bands = 8, rowsPerBand = 2, threshold = 0.6,
      maxSeenDirs = 0, srcCol = Some("src"))
    pinned.foreach(d =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(d, "_retired")), s"$d not retired"))
    // the near-dup of longB is suppressed against the pinned, now retired,
    // dirs
    assert(second.fresh.select("text").as[String].collect().toSet == Set(longC))
    second.commit()
    compacting.commit()
  }

  test("a src with a newline in its name retracts exactly (manifest escaping)") {
    // POSIX allows "\n" in file names; the line-delimited _srcs manifest
    // percent-escapes it, so the retraction matches the manifest entry
    // instead of silently skipping the dir as disjoint
    val dir = java.nio.file.Files.createTempDirectory("graft-retract-nl").toString
    val evil = "a\nb.log"
    def batch(src: String, texts: Seq[String]) = texts.zipWithIndex
      .map { case (t, i) => (s"$src#$i", t, src) }.toDF("id", "text", "src")
    Dedup.incrementalExactStaged(batch(evil, Seq("T1 alpha")),
      "id", "text", dir, srcCol = Some("src")).commit()
    // the content is suppressed for a replay...
    val replay = Dedup.incrementalExactStaged(
      batch("g2", Seq("T1 alpha")), "id", "text", dir, srcCol = Some("src"))
    assert(replay.fresh.count() == 0L)
    replay.commit()
    // ...until the newline-named source is retracted
    Dedup.retractSources(spark, dir, Seq(evil))
    val again = Dedup.incrementalExactStaged(
      batch("g3", Seq("T1 alpha")), "id", "text", dir, srcCol = Some("src"))
    assert(again.fresh.count() == 1L,
      "retraction must match the escaped manifest entry")
  }

  test("retired store dirs are swept once the retention window passes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-retract-sweep").toString
    def batch(src: String, texts: Seq[String]) = texts.zipWithIndex
      .map { case (t, i) => (s"$src#$i", t, src) }.toDF("id", "text", "src")
    val b1 = Dedup.incrementalExactStaged(batch("f1", Seq("T1 alpha")),
      "id", "text", dir, srcCol = Some("src"))
    b1.commit()
    val Seq(d1) = seenDirs(dir)
    Dedup.retractSources(spark, dir, Seq("f1"))
    val fs = hadoopFs(dir)
    val marker = new org.apache.hadoop.fs.Path(d1, "_retired")
    assert(fs.exists(marker))
    // age the marker past the 1h retention, then any stage-time sweep
    // physically deletes the dir
    fs.setTimes(marker, System.currentTimeMillis() - 2L * 60 * 60 * 1000, -1)
    val b2 = Dedup.incrementalExactStaged(batch("f2", Seq("T2 beta")),
      "id", "text", dir, srcCol = Some("src"))
    b2.commit()
    assert(!fs.exists(d1), s"retired dir $d1 should be swept")
  }

  test("a stale mutation lock is broken instead of blocking retraction") {
    val dir = java.nio.file.Files.createTempDirectory("graft-retract-lock").toString
    def batch(src: String, texts: Seq[String]) = texts.zipWithIndex
      .map { case (t, i) => (s"$src#$i", t, src) }.toDF("id", "text", "src")
    val b1 = Dedup.incrementalExactStaged(batch("f1", Seq("T1 alpha")),
      "id", "text", dir, srcCol = Some("src"))
    b1.commit()
    val fs = hadoopFs(dir)
    val lock = new org.apache.hadoop.fs.Path(dir, "_lock")
    fs.create(lock, false).close() // a crashed mutator's leftover lease
    fs.setTimes(lock, System.currentTimeMillis() - 11L * 60 * 1000, -1)
    Dedup.retractSources(spark, dir, Seq("f1")) // must not hang
    assert(!fs.exists(lock), "lock should be released after the mutation")
    val b2 = Dedup.incrementalExactStaged(batch("f2", Seq("T1 alpha")),
      "id", "text", dir, srcCol = Some("src"))
    assert(b2.fresh.count() == 1L) // T1 reopened by the retraction
  }

  test("crossDocShingleCoverage counts exactly the shingles shared across docs") {
    // one 8-token span planted in three docs; doc 4 is all-unique tokens;
    // doc 3 has the span plus one extra token (2 shingles, 1 shared)
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, span),                       // 1 shingle, shared
      (2L, span),                       // 1 shingle, shared
      (3L, span + " tail"),             // 2 shingles, 1 shared
      (4L, (1 to 9).map(i => s"u$i").mkString(" ")), // 2 shingles, none shared
      (5L, "too short")                 // < 8 tokens: no shingles at all
    ).toDF("doc_id", "text")
    val out = Dedup.crossDocShingleCoverage(d, "doc_id", "text", 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 1L), (2L, 1L, 1L), (3L, 2L, 1L)))
  }

  test("canonicalRepresentatives keeps the longest member per cluster") {
    // the same chain fixture as the clusters test: family {3, 1003} is an
    // exact pair (equal length → tie falls to the lower id), family
    // {5, 1005, 2005} grows strictly longer along the chain, so the
    // canonical pick is the LAST link — the opposite of min-id dedup
    val base = (0L until 20L).map(i =>
      (i, (0 until 20).map(j => s"t${i}_$j").mkString(" ")))
    val chain = Seq(
      (1003L, base(3)._2),
      (1005L, base(5)._2 + " tail tail"),
      (2005L, base(5)._2 + " tail tail tail tail"))
    val df = (base ++ chain).toDF("doc_id", "text")
    val out = Dedup.canonicalRepresentatives(df, "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6)
      .as[(Long, Long, Long, Boolean)].collect()
    val keepByCluster = out.filter(_._4).groupBy(_._2)
    // exactly one keeper per cluster
    assert(keepByCluster.values.forall(_.length == 1))
    // tie on equal length → lowest id wins
    assert(keepByCluster(3L).head._1 == 3L)
    // strictly growing chain → the longest (2005), not the min id (5)
    assert(keepByCluster(5L).head._1 == 2005L)
    // every clustered member is present exactly once, keep or drop
    assert(out.map(_._1).toSet == Set(3L, 1003L, 5L, 1005L, 2005L))
  }

  test("native minhash_bands equals the Column signature/band formulation") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graft.Catalyst.{column, expression}
    import org.scalacheck.Gen
    import graft.functions.{Hashing, MinhashBands, ShingleHashes}
    // the Column formulation of one band geometry: k = bands·rpb
    // signature minima, folded per band
    def colForm(hs: Column, bands: Int, rpb: Int): Column = {
      val sig = (0 until bands * rpb).map(i =>
        array_min(transform(hs, h => Hashing.mix(h, i))))
      array((0 until bands).map(b =>
        (0 until rpb).foldLeft(lit(0L): Column) { (acc, r) =>
          (acc * 8191L + sig(b * rpb + r)) % Hashing.P
        }): _*)
    }
    def native(hs: Column, bands: Int, rpb: Int): Column =
      column(MinhashBands(expression(hs), bands, rpb))

    // fixed case: the shared-vocabulary fixture at 4 bands × 2 rows
    val sets = Dedup.shingleHashSets(docs, "doc_id", "text", 3)
    def bandRows(c: Column) = sets.select($"id", posexplode(c).as(Seq("band", "bhash")))
      .as[(Long, Int, Long)].collect().toSet
    val fixed = bandRows(native($"hs", 4, 2))
    assert(fixed == bandRows(colForm($"hs", 4, 2)) && fixed.nonEmpty)

    // property: random texts over a small vocabulary (many shorter than
    // the n = 3 shingle width, so their sets are empty) at a random
    // geometry each. One CASE branch per geometry keeps every case a row
    // of one DataFrame, and an empty set yields an empty array natively
    // (documented on MinhashBandsHelper) where the Column form yields nulls
    val geoms = for (b <- 1 to 5; r <- 1 to 3) yield (b, r)
    val genCase = for {
      nTok <- Gen.choose(0, 10)
      toks <- Gen.listOfN(nTok, Gen.oneOf("a", "b", "c", "d", "e", "F", "a b", " "))
      g <- Gen.choose(0, geoms.size - 1)
    } yield (toks.mkString(" "), g)
    def byGeom(f: (Column, Int, Int) => Column): Column =
      geoms.zipWithIndex.foldLeft(lit(null): Column) { case (acc, ((b, r), i)) =>
        when($"g" === i, f($"hs", b, r)).otherwise(acc)
      }
    Cases.check(genCase) { cases =>
      cases.toDF("text", "g")
        .select($"text", $"g", column(ShingleHashes(expression($"text"), 3)).as("hs"))
        .select($"text", $"g", size($"hs").as("n_hs"),
          byGeom(native).as("native"), byGeom(colForm).as("col_form"))
        .as[(String, Int, Int, Seq[Long], Seq[Option[Long]])].collect().toSeq
        .filterNot { case (_, _, nHs, nat, cf) =>
          if (nHs == 0) nat.isEmpty else nat.map(Option(_)) == cf
        }
    }
  }

  test("hashed shingle sets equal sha60-of-string shingles in size (no in-doc collisions here)") {
    val strs = Dedup.shingleSets(docs, "doc_id", "text", 3)
      .select($"id", size($"sh").as("n")).as[(Long, Int)].collect().toMap
    val hashed = Dedup.shingleHashSets(docs, "doc_id", "text", 3)
      .select($"id", size($"hs").as("n")).as[(Long, Int)].collect().toMap
    assert(hashed == strs)
  }

  test("native shingle_hashes equals its documented Column composition") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graft.Catalyst.{column, expression}
    import graft.functions.{Hashing, ShingleHashes}
    // the Column form: token hashes sha60 % P, each n-token window folded
    // (acc·8191 + h) mod P left to right, then distinct; fewer than n
    // tokens yield an empty array and a null text a null one
    def colForm(t: Column, n: Int): Column = {
      val ht = transform(split(lower(trim(t)), "\\s+"), x => Hashing.sha60(x) % Hashing.P)
      val folds = transform(sequence(lit(1), size(ht) - (n - 1)), i =>
        aggregate(slice(ht, i, lit(n)), lit(0L), (acc, h) => (acc * 8191L + h) % Hashing.P))
      when(size(ht) >= n, array_distinct(folds))
        .when(ht.isNotNull, array().cast("array<bigint>"))
    }
    def native(t: Column, n: Int): Column = column(ShingleHashes(expression(t), n))
    val ns = 1 to 4
    def byN(f: (Column, Int) => Column): Column =
      ns.foldLeft(lit(null): Column)((acc, n) => when($"n" === n, f($"text", n)).otherwise(acc))
    // texts over a small vocabulary, so shingles repeat within and across
    // texts; separators mix spaces, tabs and runs; some texts are empty,
    // blank or null, and many are shorter than n
    val genText: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.oneOf("", " ", "\t").map(Some(_)),
      12 -> (for {
        nTok <- Gen.choose(1, 9)
        toks <- Gen.listOfN(nTok, Gen.oneOf("a", "b", "B", "c", "straße", "Ärger", "x1"))
        seps <- Gen.listOfN(nTok + 1, Gen.oneOf("", " ", " ", "  ", "\t", " \t "))
      } yield Some(seps.head + toks.zip(seps.tail).map { case (t, sp) =>
        t + (if (sp.isEmpty) " " else sp) }.mkString)))
    val genCase = for (t <- genText; n <- Gen.oneOf(ns)) yield (t, n)
    val fixed = Seq(None -> 3, Some("") -> 1, Some("a b") -> 3, Some("a a a a") -> 2,
      Some(" A\tb  a b ") -> 2)
    Cases.check(genCase, fixed) { cases =>
      cases.toDF("text", "n")
        .select($"text", $"n", byN(native).as("native"), byN(colForm).as("col_form"))
        .as[(Option[String], Int, Option[Seq[Long]], Option[Seq[Long]])].collect().toSeq
        .filter { case (_, _, nat, cf) => nat != cf }
    }
  }

  test("minhashLsh equals a model: pairs sharing a band value with Jaccard ≥ t") {
    import org.apache.spark.sql.graft.Catalyst.{column, expression}
    import graft.functions.MinhashBands
    val (n, bands, rpb, t) = (2, 6, 2, 0.5)
    // a case: 2–7 docs over a 5-word vocabulary, bases and one-token edits
    // of them, so pairs land on both sides of t and exactly on it
    val vocab = Seq("p", "q", "r", "s", "t")
    val genDoc = Gen.choose(1, 7).flatMap(Gen.listOfN(_, Gen.oneOf(vocab)))
    def edit(b: List[String]): Gen[List[String]] = for {
      op <- Gen.choose(0, 2); i <- Gen.choose(0, b.size - 1); w <- Gen.oneOf(vocab)
    } yield op match {
      case 0 => b.updated(i, w)
      case 1 => b :+ w
      case _ => if (b.size > 1) b.patch(i, Nil, 1) else b
    }
    val genCase: Gen[Seq[List[String]]] = for {
      bases <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, genDoc))
      derived <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.oneOf(bases).flatMap(edit)))
    } yield bases ++ derived
    // copies (Jaccard 1), Jaccard exactly 1/2 ({pq, qr} vs {pq, qr, rs, st})
    // and a doc too short to shingle
    val fixed = Seq(Seq(List("p", "q", "r"), List("p", "q", "r"), List("p", "q", "r", "s", "t"),
      List("p")))
    Cases.check(genCase, fixed) { cases =>
      // every token carries its case id, so no two cases share a shingle
      val docs = cases.zipWithIndex.flatMap { case (c, ci) =>
        c.zipWithIndex.map { case (toks, i) =>
          (f"c$ci%03d-$i%02d", toks.map(w => s"c${ci}_$w").mkString(" ")) }
      }.toDF("id", "text")
      val got = Dedup.minhashLsh(docs, "id", "text", n, bands, rpb, t)
        .as[(String, String, Double)].collect().toSet
      // the model: native shingle sets and band values, paired on the
      // driver by any equal (band, value), verified by exact Jaccard
      val sets = Dedup.shingleHashSets(docs, "id", "text", n)
        .select($"id", $"hs", column(MinhashBands(expression($"hs"), bands, rpb)).as("bh"))
        .as[(String, Seq[Long], Seq[Long])].collect().toSeq
      val hs = sets.map(r => r._1 -> r._2.toSet).toMap
      val model = sets.flatMap { case (id, _, bh) => bh.zipWithIndex.map(_.swap -> id) }
        .groupBy(_._1).values.flatMap { ids =>
          for (a <- ids.map(_._2); b <- ids.map(_._2) if a < b) yield (a, b)
        }.toSet.flatMap { (p: (String, String)) =>
          val inter = (hs(p._1) & hs(p._2)).size
          val j = inter.toDouble / (hs(p._1).size + hs(p._2).size - inter)
          if (j >= t) Some((p._1, p._2, j)) else None
        }
      (got -- model).toSeq.map(p => s"not in model: $p") ++
        (model -- got).toSeq.map(p => s"missed: $p")
    }
  }

  test("simhash: expression equals model; identical docs at distance 0; near-dups close") {
    val got = docs.select($"doc_id", Dedup.simhash($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    val model = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> SimHashHelper.simhash(t) }.toMap
    assert(got == model)
    assert(java.lang.Long.bitCount(got(3L) ^ got(1003L)) == 0)
    // near-dup is markedly closer than an unrelated doc (simhash is noisy
    // on short docs; exact radius guarantees only hold for tiny edits)
    val nearDist = java.lang.Long.bitCount(got(5L) ^ got(1005L))
    val farDist = java.lang.Long.bitCount(got(5L) ^ got(40L))
    assert(nearDist < farDist, s"near=$nearDist far=$farDist")
  }

  test("simhashPairs finds exact copies within hamming radius") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 1003L)))
  }

  test("incremental minhash: cross-batch near-dup store, idempotent replay") {
    val store = java.nio.file.Files.createTempDirectory("graft-incmh").toString
    // disjoint-vocabulary base docs (the shared-vocab `docs` fixture has
    // genuine high-Jaccard pairs between UNplanted docs — its tails are
    // offsets of one cyclic word progression), so only the plants pair up
    val base = (0L until 20L).map(i =>
      (i, (0 until 20).map(j => s"t${i}_$j").mkString(" ")))
    val b1 = (base ++ Seq((1003L, base(3)._2), (1005L, base(5)._2 + " tail tail")))
      .toDF("doc_id", "text")
    val r1 = Dedup.incrementalMinhash(b1, "doc_id", "text", storeDir = store,
        n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(r1 == (0L until 20L).toSet)
    // batch 2: a near-dup of stored doc 7 and one genuinely new doc
    val batch2 = Seq(
      (2007L, base(7)._2 + " tail tail"),
      (2008L, (0 until 21).map(j => s"z$j").mkString(" "))).toDF("doc_id", "text")
    val r2 = Dedup.incrementalMinhash(batch2, "doc_id", "text", storeDir = store,
        n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6)
      .select("doc_id").as[Long].collect().toSeq
    assert(r2 == Seq(2008L))
    // replay (crash-and-retry): batch 2's survivor matches its own stored
    // signatures at Jaccard 1.0 — nothing new
    val r3 = Dedup.incrementalMinhash(batch2, "doc_id", "text", storeDir = store,
        n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6)
    assert(r3.isEmpty)
  }

  test("incremental minhash: shingle-less docs are exact-deduped and replay-idempotent") {
    val store = java.nio.file.Files.createTempDirectory("graft-incmh-short").toString
    // every doc here is shorter than n=3 tokens, so the LSH path cannot
    // see any of them — the exact component must carry the invariant
    val b1 = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "cc dd")).toDF("doc_id", "text")
    val r1 = Dedup.incrementalMinhash(b1, "doc_id", "text", storeDir = store,
        n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(r1 == Set(1L, 3L)) // within-batch exact dup (2) dropped, min id kept
    // replay of the same batch: survivors were committed (shingle-less
    // included), so nothing comes back — the documented invariant
    val r2 = Dedup.incrementalMinhash(b1, "doc_id", "text", storeDir = store,
      n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6)
    assert(r2.isEmpty)
    // a later batch: one repeat of stored short content, one genuinely new
    val b2 = Seq((10L, "aa bb"), (11L, "ee ff")).toDF("doc_id", "text")
    val r3 = Dedup.incrementalMinhash(b2, "doc_id", "text", storeDir = store,
        n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6)
      .select("doc_id").as[Long].collect().toSeq
    assert(r3 == Seq(11L))
  }

  test("rows staged without srcCol (src = null) survive a retraction and still suppress") {
    import org.apache.hadoop.fs.Path
    // shingle-less docs (< 3 tokens): under minhash only the exact
    // pre-filter can suppress them
    val seen = "aa bb"
    // a near-copy (last token changed, Jaccard 9/11): under minhash only
    // the band join and verification can suppress it
    val long = (0 until 12).map(j => s"w$j").mkString(" ")
    val nearCopy = long.replace("w11", "zz")
    def stage(mode: String, store: String, src: Option[String], maxDirs: Int,
        rows: (Long, String)*) = {
      val df = rows.toDF("doc_id", "text").withColumn("src", lit(src.orNull).cast("string"))
      if (mode == "exact") Dedup.incrementalExactStaged(df, "doc_id", "text", store,
        maxSeenDirs = maxDirs, srcCol = src.map(_ => "src"))
      else Dedup.incrementalMinhashStaged(df, "doc_id", "text", store, bands = 8,
        rowsPerBand = 2, threshold = 0.6, maxSeenDirs = maxDirs, srcCol = src.map(_ => "src"))
    }
    def ids(b: Dedup.IncrementalBatch) = b.fresh.select("doc_id").as[Long].collect().sorted.toSeq
    Seq("exact", "minhash").foreach { mode =>
      val store = java.nio.file.Files.createTempDirectory(s"graft-nullsrc-$mode").toString
      val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
      stage(mode, store, None, 16, (1L, seen), (2L, long)).commit()
      stage(mode, store, Some("g"), 16, (3L, "cc dd")).commit()
      // a stage past maxSeenDirs merges the null-src rows and g's rows
      // into one dir, which the retraction of g must rewrite
      val h = stage(mode, store, Some("h"), 1, (5L, "ii jj"))
      assert(Dedup.listSeen(fs, new Path(store)).size == 1, mode)
      assert(ids(h) == Seq(5L), mode)
      h.commit()
      Dedup.retractSources(spark, store, Seq("g"))
      val b = stage(mode, store, Some("p"), 16,
        (10L, seen), (11L, nearCopy), (12L, "cc dd"), (13L, "ii jj"), (14L, "kk ll"))
      // the null-src rows suppress the re-submitted row (and, under
      // minhash, the near-copy), read together with h's row; g's row is
      // gone, so its content is fresh again
      assert(ids(b) == (if (mode == "exact") Seq(11L, 12L, 14L) else Seq(12L, 14L)), mode)
    }
  }

  test("a store with live dirs but no _meta is refused by a stage and by a retraction") {
    import org.apache.hadoop.fs.Path
    Seq("exact", "minhash").foreach { mode =>
      val store = java.nio.file.Files.createTempDirectory(s"graft-nometa-$mode").toString
      val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val df = Seq((1L, "aa bb cc dd", "f")).toDF("doc_id", "text", "src")
      def stage() =
        if (mode == "exact") Dedup.incrementalExactStaged(df, "doc_id", "text", store,
          srcCol = Some("src"))
        else Dedup.incrementalMinhashStaged(df, "doc_id", "text", store, srcCol = Some("src"))
      stage().commit()
      assert(fs.delete(new Path(store, "_meta"), false), mode)
      val live = Dedup.listSeen(fs, new Path(store))
      assert(live.nonEmpty, mode)
      Seq(intercept[IllegalArgumentException](stage()),
        intercept[IllegalArgumentException](Dedup.retractSources(spark, store, Seq("f"))))
        .map(_.getMessage).foreach { msg =>
          assert(msg.contains(new Path(store).getName) && msg.contains("predates format 2"),
            s"$mode: $msg")
        }
      // refused, not rewritten: the live dirs are as they were
      assert(Dedup.listSeen(fs, new Path(store)) == live, mode)
      assert(!fs.exists(new Path(store, "_meta")), mode)
    }
  }

  test("a store's shingle size, band geometry, mode and id type are fixed by its first stage") {
    def tmp() = java.nio.file.Files.createTempDirectory("graft-geometry").toString
    val store = tmp()
    val x = (0 until 40).map(i => s"g$i").mkString(" ")
    val edit = Seq(("e", x.replace("g20", "edited"))).toDF("id", "text")
    def stage(df: org.apache.spark.sql.DataFrame, n: Int = 3, bands: Int = 4, rpb: Int = 2) =
      Dedup.incrementalMinhashStaged(df, "id", "text", store, n, bands, rpb)
    def failure(body: => Any): String = intercept[IllegalArgumentException](body).getMessage
    stage(Seq(("x", x)).toDF("id", "text")).commit()
    // at the store's own geometry the one-word edit is a near-dup of X
    assert(stage(edit).fresh.count() == 0L)
    // at another geometry its bands could never match X's: a clear error
    val geometry = failure(stage(edit, bands = 8, rpb = 1))
    Seq("bands=4", "rowsPerBand=2", "bands=8", "rowsPerBand=1").foreach(v =>
      assert(geometry.contains(v), geometry))
    val ngram = failure(stage(edit, n = 4))
    assert(ngram.contains("n=3") && ngram.contains("n=4"), ngram)
    // and likewise for another id type, or a minhash stage of an exact store
    val idType = failure(stage(Seq((1L, x)).toDF("id", "text")))
    assert(idType.contains("id=string") && idType.contains("id=bigint"), idType)
    val exactStore = tmp()
    Dedup.incrementalExactStaged(Seq(("x", x)).toDF("id", "text"), "id", "text",
      exactStore).commit()
    val mode = failure(Dedup.incrementalMinhashStaged(edit, "id", "text", exactStore))
    assert(mode.contains("mode=exact") && mode.contains("mode=minhash"), mode)
  }

  test("commit budget: a staged minhash batch with provenance commits in ≤ 2 Spark jobs") {
    val store = java.nio.file.Files.createTempDirectory("graft-commit-jobs").toString
    def batch(src: String, k: Int) = (0 until 30).map(i =>
      (s"$src#$i", (0 until 12).map(j => s"c${k}_${i}_$j").mkString(" "), src))
      .toDF("id", "text", "src")
    def stage(df: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalMinhashStaged(df, "id", "text", store, srcCol = Some("src"))
    stage(batch("f1", 1)).commit()
    // batch 2: new docs, a replay and a near-dup of batch 1, a shingle-less doc
    val b = stage(batch("f2", 2)
      .unionByName(batch("f2", 1).limit(2).withColumn("id", concat($"id", lit("r"))))
      .unionByName(Seq(("f2#n", (0 until 12).map(j => s"c1_3_$j").mkString(" ") + " x",
        "f2"), ("f2#s", "aa bb", "f2")).toDF("id", "text", "src")))
    assert(b.fresh.count() == 31L)
    val work = SparkWork(spark)(b.commit())
    assert(work.jobs <= 2, s"commit ran ${work.jobs} Spark jobs")
    // the commit landed in full: a replay of batch 2 returns nothing
    assert(stage(batch("f3", 2).unionByName(Seq(("f3#s", "aa bb", "f3"))
      .toDF("id", "text", "src"))).fresh.count() == 0L)
  }

  test("incremental ≡ one-shot: any split of a batch into 1–3 stages (exact and minhash)") {
    import org.scalacheck.Gen
    // a case: docs over an 8-word vocabulary — originals, and copies or
    // one-token edits of them — each with the stage it is submitted at
    val vocab = Seq("p", "q", "r", "s", "t", "u", "v", "w")
    val genDoc = Gen.choose(1, 14).flatMap(Gen.listOfN(_, Gen.oneOf(vocab)))
    def edit(b: List[String]): Gen[List[String]] = for {
      op <- Gen.choose(0, 3); i <- Gen.choose(0, b.size - 1); w <- Gen.oneOf(vocab)
    } yield op match {
      case 0 => b
      case 1 => b.updated(i, w)
      case 2 => b :+ w
      case _ => if (b.size > 1) b.patch(i, Nil, 1) else b
    }
    val genCase: Gen[Seq[(List[String], Int)]] = for {
      k <- Gen.choose(1, 3)
      bases <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, genDoc))
      derived <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf(bases).flatMap(edit)))
      stages <- Gen.listOfN(bases.size + derived.size, Gen.choose(0, k - 1))
    } yield (bases ++ derived).zip(stages)
    // a chain across three stages: X, a copy and an appended-token edit of
    // X, and a last-token edit (Jaccard 9/11 with X)
    val x = (0 until 12).map(j => vocab(j % 5) + vocab(j % 3)).toList
    val fixed = Seq(Seq(x -> 0, x -> 1, (x :+ "p") -> 1, x.updated(11, "w") -> 2))
    val (n, bands, rpb, threshold) = (3, 8, 2, 0.6)
    Seq("exact", "minhash").foreach { mode =>
      Cases.check(genCase, fixed) { cases =>
        // every token carries its case id, so no two cases share a text or
        // a shingle; the j-th stage of every case is one DataFrame
        val submitted = cases.zipWithIndex.flatMap { case (c, ci) =>
          c.zipWithIndex.map { case ((toks, stage), i) =>
            (f"c$ci%03d-$i%02d", toks.map(t => s"c${ci}_$t").mkString(" "), stage) }
        }
        val store = java.nio.file.Files.createTempDirectory(s"graft-split-$mode").toString
        val survivors = (0 until 3).flatMap { j =>
          val batch = submitted.collect { case (id, t, `j`) => (id, t) }.toDF("id", "text")
          val out =
            if (mode == "exact") Dedup.incrementalExact(batch, "id", "text", store)
            else Dedup.incrementalMinhash(batch, "id", "text", store, n, bands, rpb, threshold)
          out.select("id", "text").as[(String, String)].collect()
        }
        def caseOf(id: String) = id.takeWhile(_ != '-')
        def pairs(rows: Seq[(String, String)]): Seq[(String, String)] =
          Dedup.minhashLsh(rows.toDF("id", "text"), "id", "text", n, bands, rpb, threshold)
            .select("a", "b").as[(String, String)].collect().toSeq
        val union = submitted.map { case (id, t, _) => (id, t) }
        val kept = survivors.groupBy(p => caseOf(p._1))
        val unionPaired = if (mode == "exact") Set.empty[String]
          else pairs(union).flatMap { case (a, b) => Seq(a, b) }.toSet
        val keptPairs = if (mode == "exact") Nil else pairs(survivors)
        union.groupBy(p => caseOf(p._1)).toSeq.sortBy(_._1).flatMap { case (c, all) =>
          val mine = kept.getOrElse(c, Nil)
          val texts = mine.map(_._2)
          if (mode == "exact") {
            if (texts.sorted == all.map(_._2).distinct.sorted) Nil
            else Seq(s"$c: survivors ${texts.sorted} != distinct ${all.map(_._2).distinct.sorted}")
          } else {
            val copies = all.groupBy(_._2).filter(_._2.size > 1).keySet
            val lost = all.filter { case (id, t) =>
              !copies(t) && !unionPaired(id) && !mine.exists(_._1 == id) }
            Seq(
              Some(s"$c: a text survives twice: $texts").filter(_ => texts.distinct.size < texts.size),
              keptPairs.find(p => caseOf(p._1) == c).map(p => s"$c: survivors $p are a verified pair"),
              lost.headOption.map(l => s"$c: $l has no copy and no pair, yet was dropped")
            ).flatten
          }
        }
      }
    }
  }

  test("incremental minhash: seen-dir count stays bounded by compaction") {
    val store = java.nio.file.Files.createTempDirectory("graft-incmh-compact").toString
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // LIVE dirs (reader-side view): compaction retires superseded dirs in
    // place (retention-delayed delete), so the raw listing legitimately
    // holds tombstones for up to an hour — boundedness is about what a
    // reader unions, which skips `_retired` dirs
    def seenDirs(): Seq[String] =
      Dedup.listSeen(fs, new org.apache.hadoop.fs.Path(store))
        .map(_.getName)
    for (k <- 0 until 8) {
      val b = Seq((k.toLong, (0 until 10).map(j => s"c${k}_$j").mkString(" ")))
        .toDF("doc_id", "text")
      val r = Dedup.incrementalMinhash(b, "doc_id", "text", storeDir = store,
          n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6, maxSeenDirs = 3)
        .count()
      assert(r == 1L, s"batch $k should be fresh")
      // compaction runs at stage time, so the bound holds up to the one
      // dir the batch itself just committed
      assert(seenDirs().size <= 4, s"after batch $k: ${seenDirs()}")
    }
    // the compacted store still holds every batch: full replay returns nothing
    val all = (0 until 8).map(k =>
      (100L + k, (0 until 10).map(j => s"c${k}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.incrementalMinhash(all, "doc_id", "text", storeDir = store,
      n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6, maxSeenDirs = 3).isEmpty)
  }

  test("maxBucket caps quadratic candidate generation from near-identical mega-families") {
    // a 40-member near-identical family: every member shares every band,
    // so uncapped candidate generation is quadratic in the family size
    val family = (0L until 40L).map(i =>
      (i, (0 until 20).map(j => s"f$j").mkString(" ") + s" v$i"))
    val solo = Seq((100L, (0 until 20).map(j => s"z$j").mkString(" ")),
      (101L, (0 until 20).map(j => s"z$j").mkString(" ") + " tail tail"))
    val df = (family ++ solo).toDF("doc_id", "text")
    val uncapped = Dedup.minhashLsh(df, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6).count()
    assert(uncapped > 500L, s"family should explode quadratically: $uncapped")
    // capped: family buckets (40 rows each) drop; the small pair survives
    val capped = Dedup.minhashLsh(df, "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6, maxBucket = Some(10))
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(capped.contains((100L, 101L)))
    assert(capped.forall { case (a, b) => a >= 100L && b >= 100L },
      s"family pairs must be suppressed by the cap: $capped")
  }

  test("nearDupClusters: transitive chains collapse to the component minimum") {
    // disjoint vocab per base doc; a 3-link chain 5 -> 1005 -> 2005 where
    // the ends may not pair directly — only transitivity joins them
    val base = (0L until 20L).map(i =>
      (i, (0 until 20).map(j => s"t${i}_$j").mkString(" ")))
    val chain = Seq(
      (1003L, base(3)._2),                          // exact copy of 3
      (1005L, base(5)._2 + " tail tail"),           // near-dup of 5
      (2005L, base(5)._2 + " tail tail tail tail")) // near-dup of 1005
    val df = (base ++ chain).toDF("doc_id", "text")
    val out = Dedup.nearDupClusters(df, "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 2, threshold = 0.6)
      .select("id", "cluster", "n_members")
      .as[(Long, Long, Long)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // the exact-copy pair clusters under its minimum
    assert(byId(3L)._2 == 3L && byId(1003L)._2 == 3L && byId(3L)._3 == 2L)
    // the whole chain shares one component labeled 5, regardless of
    // whether (5, 2005) paired directly
    assert(byId(5L)._2 == 5L && byId(1005L)._2 == 5L && byId(2005L)._2 == 5L)
    assert(byId(5L)._3 == 3L)
    // unclustered docs are absent
    assert(!byId.contains(7L))
  }

  test("embedding cosine near-dup finds planted duplicate vector") {
    val vecs = (0 until 30).map { i =>
      (i.toLong, (0 until 16).map(d => math.sin(i * 16 + d).toFloat).toArray)
    } :+ (500L, (0 until 16).map(d => math.sin(7 * 16 + d).toFloat).toArray)
    val df = vecs.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, "vec_id", "embedding", minCosine = 0.999)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((7L, 500L)))
    // the components core composes onto ANY pair producer in the family
    val clusters = Dedup.connectedComponents(
        Dedup.embeddingNearDup(df, "vec_id", "embedding", minCosine = 0.999))
      .select("id", "cluster", "n_members").as[(Long, Long, Long)].collect().toSet
    assert(clusters == Set((7L, 7L, 2L), (500L, 7L, 2L)))
  }

  test("semDedup drops planted copies, keeps originals, covers every row") {
    val vecs = (0 until 30).map { i =>
      (i.toLong, (0 until 16).map(d => math.sin(i * 16 + d).toFloat).toArray)
    } :+ (500L, (0 until 16).map(d => math.sin(7 * 16 + d).toFloat).toArray)
    val df = vecs.toDF("vec_id", "embedding")
    val out = Dedup.semDedup(df, "vec_id", "embedding", k = 4, iters = 2, eps = 0.999)
      .select("vec_id", "kept").as[(Long, Int)].collect().toMap
    // total coverage: one verdict per input row
    assert(out.size == 31)
    // the planted exact copy loses to its original: equal centroid cosine,
    // the keep-low tie-break retains the smaller id
    assert(out(7L) == 1 && out(500L) == 0)
    // nothing else in this well-separated fixture is within eps=0.999
    assert(out.values.count(_ == 0) == 1)
    // deterministic across runs (fit, assignment and tie-breaks are RNG-free)
    val again = Dedup.semDedup(df, "vec_id", "embedding", k = 4, iters = 2, eps = 0.999)
      .select("vec_id", "kept").as[(Long, Int)].collect().toMap
    assert(again == out)
  }

  test("spanScrub removes later duplicated blocks, keeps first occurrence") {
    // k=2 blocks: doc1 = (a b)(c d); doc2's (a b) loses keep-first; doc3's
    // only block (z a) straddles the duplicate content — alignment matters
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b x"),
      (3L, "z a b"),
      (4L, "q r s")).toDF("doc_id", "text")
    val out = Dedup.spanScrub(df, "doc_id", "text", k = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_blocks"), r.getAs[Long]("n_removed_blocks"),
          r.getAs[Long]("removed_tokens"), r.getAs[String]("clean_text"))))
      .toMap
    assert(out(1L) == ((2L, 0L, 0L, "a b c d")))
    assert(out(2L) == ((1L, 1L, 2L, "x")))
    assert(out(3L) == ((1L, 0L, 0L, "z a b")))
    assert(out(4L) == ((1L, 0L, 0L, "q r s")))
  }

  test("spanScrub: within-doc repetition collapses to the first block") {
    // self-concatenation at exact block alignment: X || X keeps one X
    val df = Seq(
      (7L, "t1 t2 t3 t4 t1 t2 t3 t4"), // 8 tokens, k=4: block1 == block0
      (8L, "u1 u2 u3")                 // shorter than k: untouched tail
    ).toDF("doc_id", "text")
    val out = Dedup.spanScrub(df, "doc_id", "text", k = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_blocks"),
          r.getAs[Long]("n_removed_blocks"), r.getAs[String]("clean_text"))))
      .toMap
    assert(out(7L) == ((8L, 2L, 1L, "t1 t2 t3 t4")))
    assert(out(8L) == ((3L, 0L, 0L, "u1 u2 u3")))
  }
}
