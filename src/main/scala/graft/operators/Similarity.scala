package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}

import graft.functions.{Hashing, PlaneSketch, VecDot}

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - [[bruteForceKnn]] — exact cosine top-k: broadcast the (small) query
  *    set, one pass over the corpus, per-query top-k via window. The
  *    correctness baseline.
  *  - [[lshKnn]] — random-hyperplane LSH bucketing: sign-bit sketches
  *    against a deterministic plane matrix, candidates = bucket collisions
  *    (multi-probe over b bands), exact rerank of candidates. The scale
  *    path: corpus is bucketed once (shuffle on bucket key), each query
  *    probes its buckets instead of scanning 10^12 rows.
  *  - [[ivfKnn]] — IVF bucketing with a pure-projection centroid argmax:
  *    the coarse quantizer is collected once (it IS the model), inlined as
  *    literals, and assignment adds zero shuffles.
  *
  * The plane matrix is sha256-derived ([[Hashing.sha60Jvm]]) so the DuckDB
  * oracle re-derives the identical matrix in SQL — no RNG state anywhere.
  *
  * All arithmetic is promoted to double before any accumulation so results
  * are reproducible across engines and partitionings (the fold order inside
  * one row's array is fixed).
  *
  * `rerank` (the two vector joins plus the r6 cosine) serves [[ivfKnnWith]]
  * and [[lshKnn]]; `topK` (the per-query window) serves those two and
  * [[bruteForceKnn]], which scores its broadcast cross join directly. The
  * candidate joins stay with their callers: each pairs queries with a
  * corpus (on `cid`, or on (band, sketch)), not a set with itself as the
  * near-dup bucket joins of [[Dedup]] do.
  */
object Similarity {

  /** Cast float vector to double to make downstream folds deterministic. */
  def toDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  /** Native codegen'd dot product ([[graft.functions.VecDot]]) — the same
    * left fold of the same products as the interpreted
    * `aggregate(zip_with(...))` composition it replaced (SimilaritySpec
    * pins the equality). A plain Column: building it needs no session.
    */
  def dot(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b)))

  /** sqrt of the self-dot — identical arithmetic to the previous
    * `aggregate(v, 0.0, (acc, x) => acc + x*x)` fold.
    */
  def l2norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Exact top-k neighbors for each query row (queries ≪ corpus: broadcast).
    * Output: (query_id, neighbor_id, cosine, rank). Self-pairs excluded.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      toDoubleVec(col(embCol)).as("cv"))
      .withColumn("cnorm", l2norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"),
      toDoubleVec(col(embCol)).as("qv"))
      .withColumn("qnorm", l2norm(col("qv")))
    topK(c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", TextAnalysis.r6(
        cosine(col("qv"), col("cv"), col("qnorm"), col("cnorm")))), k)
  }

  /** The `k` highest-`cosine` rows per `query_id`, ties to the smaller
    * `neighbor_id`, numbered by `rank`.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Exact rerank of ids-only candidates `cand` (query_id, neighbor_id):
    * the vectors rejoin from `queries` (query_id, query_id_v,
    * query_id_norm) and `corpus` (neighbor_id, neighbor_id_v,
    * neighbor_id_norm), and `cosine` is their r6-rounded exact cosine.
    */
  private def rerank(cand: DataFrame, queries: DataFrame, corpus: DataFrame): DataFrame =
    cand.join(queries, "query_id").join(corpus, "neighbor_id")
      .withColumn("cosine", TextAnalysis.r6(
        cosine(col("query_id_v"), col("neighbor_id_v"),
          col("query_id_norm"), col("neighbor_id_norm"))))

  /** Deterministic hyperplane matrix: component (p, i) is sha256-derived
    * and affinely mapped into [-1, 1). Computed once on the driver
    * (nPlanes × dims doubles — a few KB, like any fitted model) and inlined
    * as literals, so per-row sketching is pure arithmetic with NO hashing:
    * round 1 hashed every (row × plane × dim) triple. The DuckDB oracle
    * derives the identical matrix from the same recipe in SQL.
    */
  def planeMatrix(nPlanes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dims)(Hashing.planeComponent)

  /** Projection of `v` onto a literal plane (left-fold dot — fold order is
    * part of the cross-engine contract).
    */
  private def projection(v: Column, plane: Array[Double]): Column =
    aggregate(zip_with(v, typedlit(plane.toSeq), (x, p) => x * p),
      lit(0.0), (acc, x) => acc + x)

  /** Sign-bit sketch of band `b`: `planesPerBand` bits packed into a long,
    * plane j weighted 2^(planesPerBand−1−j). Reference (pure-Column)
    * formulation — the hot paths use [[allBandSketches]], whose native
    * loops are pinned bit-identical to this in SimilaritySpec.
    */
  def bandSketch(v: Column, b: Int, planesPerBand: Int,
      mat: Array[Array[Double]]): Column =
    (0 until planesPerBand).map { j =>
      when(projection(v, mat(b * planesPerBand + j)) >= 0,
        lit(1L << (planesPerBand - 1 - j))).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All band sketches at once via the native codegen'd expression
    * ([[graft.functions.PlaneSketch]]): one static call per row instead
    * of an interpreted lambda per (plane × dimension).
    */
  def allBandSketches(v: Column, bands: Int, planesPerBand: Int): Column =
    column(PlaneSketch(expression(v), bands, planesPerBand))

  /** Embedding width, fetched once at plan time (one tiny job). */
  def dimsOf(df: DataFrame, embCol: String): Int =
    df.select(size(col(embCol))).first().getInt(0)

  /** A fitted coarse quantizer: (cid, vector, norm) triples — driver-side
    * model state, inlined as literals wherever rows need assigning.
    */
  type Centroids = Array[(Long, Array[Double], Double)]

  private def withNorms(cents: Array[(Long, Array[Double])]): Centroids =
    cents.map { case (cid, v) =>
      (cid, v, math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)))
    }

  /** Deterministic seed quantizer: the first `nCentroids` corpus rows by
    * id, labeled with their row ids (reproducible, no RNG).
    */
  def seedCentroids(corpus: DataFrame, idCol: String, embCol: String,
      nCentroids: Int): Centroids =
    withNorms(corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).cast("long"), toDoubleVec(col(embCol)))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)))

  /** `df` + a `cid` column: each row's `probes` nearest centroids by
    * cosine, as a PURE PROJECTION over literal centroid structs — zero
    * shuffle. (csim, -cid) struct max = highest csim, ties to the smallest
    * cid (the same order as a `csim DESC, cid` window).
    */
  def assignCentroids(df: DataFrame, idCol: String, embCol: String,
      cents: Centroids, id: String, probes: Int): DataFrame = {
    val base = df.select(col(idCol).as(id), toDoubleVec(col(embCol)).as(s"${id}_v"))
      .withColumn(s"${id}_norm", l2norm(col(s"${id}_v")))
    val simStructs = array(cents.map { case (cid, cv, cn) =>
      struct(
        (dot(col(s"${id}_v"), typedlit(cv.toSeq)) /
          (col(s"${id}_norm") * lit(cn))).as("csim"),
        lit(-cid).as("negCid"))
    }: _*)
    if (probes == 1)
      base.withColumn("cid", -array_max(simStructs).getField("negCid"))
    else
      base.withColumn("cid",
        explode(transform(slice(reverse(array_sort(simStructs)), 1, probes),
          s => -s.getField("negCid"))))
  }

  /** Lloyd-refined coarse quantizer: seeds = first `k` rows by id
    * relabeled 0..k−1, then `iters` distributed k-means steps — assign
    * every row to its nearest centroid (pure projection, zero shuffle),
    * recompute each centroid as the per-dimension mean (posexplode +
    * one groupBy(cid, dim) — k·D result rows, model-sized). Means are
    * rounded to 1e-6 before reuse so the fit is bit-reproducible across
    * engines and shuffle orders (float-sum order wobble is ~1e-13 —
    * far inside the rounding). Empty clusters keep their previous
    * centroid. The whole fit is `iters` tiny jobs; the model never
    * exceeds k·D doubles on the driver.
    */
  def kmeansFit(corpus: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int): Centroids =
    kmeansFitFrom(seedCentroids(corpus, idCol, embCol, k),
      corpus, idCol, embCol, iters)

  /** [[kmeansFit]] from an already-collected seed quantizer — lets a
    * caller that also runs the seed-quantizer IVF leg (q_knn_recall)
    * collect the deterministic seeds once instead of once per leg.
    * Identical fit: the seeds are relabeled 0..k−1 exactly as before.
    */
  def kmeansFitFrom(seedRows: Centroids, corpus: DataFrame, idCol: String,
      embCol: String, iters: Int): Centroids = {
    val seeds = seedRows
      .zipWithIndex.map { case ((_, v, n), i) => (i.toLong, v, n) }
    (1 to iters).foldLeft(seeds: Centroids) { (cents, _) =>
      val dims = cents.head._2.length
      val means = assignCentroids(corpus, idCol, embCol, cents, "rid", probes = 1)
        .select(col("cid"), posexplode(col("rid_v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim").agg(TextAnalysis.r6(avg(col("x"))).as("m"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
      withNorms(cents.map { case (cid, prev, _) =>
        (cid, Array.tabulate(dims)(d => means.getOrElse((cid, d), prev(d))))
      })
    }
  }

  /** IVF-bucketed ANN over an explicit quantizer: corpus rows take their
    * single nearest centroid, queries their `nProbe` nearest (both pure
    * projections — round 1 shuffled corpus × nCentroids rows through a
    * window here); candidates are the bucket joins, exactly reranked.
    * The 10^12-row shape: corpus bucketed once (shuffle on cid), each
    * query touches nProbe/nCentroids of the corpus.
    */
  def ivfKnnWith(cents: Centroids, corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int, nProbe: Int): DataFrame = {
    val cb = assignCentroids(corpus, idCol, embCol, cents, "neighbor_id", probes = 1)
    val qb = assignCentroids(queries, idCol, embCol, cents, "query_id", probes = nProbe)
    // the bucket join and pair-dedup move ids only; vectors rejoin for the
    // exact rerank (narrow candidate shuffle — see embeddingNearDup)
    val pairs = qb.select(col("query_id"), col("cid"))
      .join(cb.select(col("neighbor_id"), col("cid")), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    topK(rerank(pairs,
      qb.select(col("query_id"), col("query_id_v"), col("query_id_norm"))
        .dropDuplicates("query_id"),
      cb.select(col("neighbor_id"), col("neighbor_id_v"), col("neighbor_id_norm"))
        .dropDuplicates("neighbor_id")), k)
  }

  /** [[ivfKnnWith]] over the deterministic seed quantizer (first
    * `nCentroids` rows by id, labeled with their ids).
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 4): DataFrame =
    ivfKnnWith(seedCentroids(corpus, idCol, embCol, nCentroids),
      corpus, queries, idCol, embCol, k, nProbe)

  /** [[ivfKnnWith]] over a Lloyd-refined quantizer ([[kmeansFit]]) — the
    * production IVF shape: fitted buckets follow the data distribution,
    * so bucket sizes are balanced and recall at equal nProbe is higher
    * than the seed quantizer's.
    */
  def ivfKnnKmeans(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
      iters: Int = 2): DataFrame =
    ivfKnnWith(kmeansFit(corpus, idCol, embCol, nCentroids, iters),
      corpus, queries, idCol, embCol, k, nProbe)

  /** LSH-bucketed ANN: `bands` independent sketches of `planesPerBand` bits
    * each; query and corpus rows sharing any (band, sketch) bucket become
    * candidates; candidates are exactly reranked. Recall grows with bands;
    * cost is bands shuffled equi-joins instead of a cross join.
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, bands: Int = 8, planesPerBand: Int = 12): DataFrame = {
    def withNorm(df: DataFrame, id: String): DataFrame = {
      val v = toDoubleVec(col(embCol))
      df.select(col(idCol).as(id), v.as(s"${id}_v"))
        .withColumn(s"${id}_norm", l2norm(col(s"${id}_v")))
    }
    def buckets(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
        posexplode(allBandSketches(toDoubleVec(col(embCol)), bands, planesPerBand))
          .as(Seq("band", "sk")))
    // ids only through the bucket join + dedup; vectors rejoin for rerank
    val cand = buckets(corpus, "neighbor_id").join(buckets(queries, "query_id"), Seq("band", "sk"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    topK(rerank(cand, withNorm(queries, "query_id"), withNorm(corpus, "neighbor_id")), k)
  }
}
