package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("brute-force knn: k rows per query, ranked, no self-pairs") {
    val q = emb.filter($"vec_id" < 4)
    val res = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 7)
      .as[(Long, Long, Double, Int)].collect()
    assert(res.length == 4 * 7)
    assert(res.forall { case (qid, nid, _, _) => qid != nid })
    res.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to 7))
      // cosine non-increasing with rank
      assert(sorted.sliding(2).forall(p => p(0)._3 >= p(1)._3))
    }
  }

  test("lsh knn: recall of top-5 vs brute force is usable (>= 0.5)") {
    val q = emb.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshKnn(emb, q, "vec_id", "embedding",
      k = 5, bands = 24, planesPerBand = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
    // lsh scores, where present, agree with brute-force scores exactly
    val bScores = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val lScores = Similarity.lshKnn(emb, q, "vec_id", "embedding",
      k = 5, bands = 24, planesPerBand = 4)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    lScores.keySet.intersect(bScores.keySet).foreach { k2 =>
      assert(lScores(k2) == bScores(k2))
    }
  }

  test("ivf knn: candidates exactly scored; self-bucket always recalls an exact duplicate") {
    val q = emb.filter($"vec_id" < 10)
    val ivf = Similarity.ivfKnn(emb, q, "vec_id", "embedding",
      k = 5, nCentroids = 8, nProbe = 4)
      .as[(Long, Long, Double, Int)].collect()
    assert(ivf.nonEmpty)
    // scores agree exactly with brute force where pairs overlap
    val brute = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 200)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    ivf.foreach { case (qid, nid, cos, _) =>
      brute.get((qid, nid)).foreach(b => assert(b == cos)) }
    // planted duplicate vector must be found at rank 1 with cosine 1
    val dup = emb.filter($"vec_id" === 7)
      .withColumn("vec_id", $"vec_id" * 0 + 999999)
    val withDup = emb.unionByName(dup)
    val res = Similarity.ivfKnn(withDup, withDup.filter($"vec_id" === 999999),
      "vec_id", "embedding", k = 3, nCentroids = 8, nProbe = 3)
      .filter($"rank" === 1).as[(Long, Long, Double, Int)].head()
    assert(res._2 == 7L && res._3 == 1.0)
  }

  test("native plane sketches are bit-identical to the Column formulation") {
    val dims = Similarity.dimsOf(emb, "embedding")
    val mat = Similarity.planeMatrix(24 * 4, dims)
    val v = Similarity.toDoubleVec($"embedding")
    val colForm = emb.select($"vec_id",
        array((0 until 24).map(b => Similarity.bandSketch(v, b, 4, mat)): _*).as("sk"))
      .as[(Long, Seq[Long])].collect().toMap
    val native = emb.select($"vec_id",
        Similarity.allBandSketches(v, 24, 4).as("sk"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == colForm)
  }

  test("kmeans quantizer: deterministic fit, exact candidate scores, planted-dup recall") {
    val fit1 = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 2)
    val fit2 = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(fit1.map(c => (c._1, c._2.toSeq, c._3)).toSeq ==
      fit2.map(c => (c._1, c._2.toSeq, c._3)).toSeq, "fit must be run-deterministic")
    assert(fit1.map(_._1).toSeq == (0L until 8L))

    val q = emb.filter($"vec_id" < 10)
    val ivf = Similarity.ivfKnnKmeans(emb, q, "vec_id", "embedding",
      k = 5, nCentroids = 8, nProbe = 4, iters = 2)
      .as[(Long, Long, Double, Int)].collect()
    assert(ivf.nonEmpty)
    val brute = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 200)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    ivf.foreach { case (qid, nid, cos, _) =>
      brute.get((qid, nid)).foreach(b => assert(b == cos)) }
    // planted duplicate vector lands in the same (refined) bucket: rank 1, cosine 1
    val dup = emb.filter($"vec_id" === 7)
      .withColumn("vec_id", $"vec_id" * 0 + 999999)
    val withDup = emb.unionByName(dup)
    val res = Similarity.ivfKnnKmeans(withDup, withDup.filter($"vec_id" === 999999),
      "vec_id", "embedding", k = 3, nCentroids = 8, nProbe = 3, iters = 2)
      .filter($"rank" === 1).as[(Long, Long, Double, Int)].head()
    assert(res._2 == 7L && res._3 == 1.0)
  }

  test("native vec_dot is bit-identical to the interpreted zip_with/aggregate fold") {
    val v = Similarity.toDoubleVec($"embedding")
    val interpreted = aggregate(zip_with(v, reverse(v), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val interpNorm = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
    // a null element nulls the interpreted fold; the native form must too
    val vn = transform(v, (x, i) => when(i === 1, lit(null).cast("double")).otherwise(x))
    val interpNull = aggregate(zip_with(vn, v, (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val mismatches = emb.select(
        Similarity.dot(v, reverse(v)).as("nd"), interpreted.as("id_"),
        Similarity.l2norm(v).as("nn"), interpNorm.as("in_"),
        Similarity.dot(vn, v).as("ndn"), interpNull.as("idn"))
      .filter($"nd" =!= $"id_" || $"nn" =!= $"in_" || !($"ndn" <=> $"idn") ||
        $"idn".isNotNull)
      .count()
    assert(mismatches == 0L)
    // length mismatch nulls out, exactly like the zip_with null padding
    val r = emb.limit(1)
      .select(Similarity.dot(v, slice(v, 1, 3)).as("d")).collect().head
    assert(r.isNullAt(0))

    // property: random lengths (often unequal), null elements and null
    // arrays, special values included; `<=>` equates NaN with NaN
    import org.scalacheck.Gen
    val genElem: Gen[Option[Double]] = Gen.frequency(
      8 -> Gen.choose(-1e3, 1e3).map(Some(_)),
      1 -> Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.MinPositiveValue)
        .map(Some(_)),
      1 -> Gen.const(None))
    val genVec: Gen[Option[Seq[Option[Double]]]] = Gen.frequency(
      12 -> Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, genElem)).map(Some(_)),
      1 -> Gen.const(None))
    val genCase = for (a <- genVec; b <- genVec) yield (a, b)
    Cases.check(genCase) { cases =>
      val fold = aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x)
      cases.toDF("a", "b")
        .filter(!(Similarity.dot($"a", $"b") <=> fold))
        .as[(Option[Seq[Option[Double]]], Option[Seq[Option[Double]]])].collect().toSeq
    }
  }

  test("cosine of a vector with itself is 1") {
    val one = emb.limit(3)
    val res = Similarity.bruteForceKnn(
      one.withColumn("vec_id", $"vec_id" + 1000000), one, "vec_id", "embedding", k = 3)
    // shifted ids make self-pairs non-self; the identical vector must rank 1 with cosine 1
    val top = res.filter($"rank" === 1).as[(Long, Long, Double, Int)].collect()
    assert(top.forall { case (qid, nid, cos, _) => nid == qid + 1000000 && cos == 1.0 })
  }
}
