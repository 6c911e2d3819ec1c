package minietl.sim

import minietl.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toSeq.toDF("vec_id", "embedding")

  private val corpus = vecs(
    0L -> Seq(1f, 0f, 0f),
    1L -> Seq(0.9f, 0.1f, 0f),
    2L -> Seq(0f, 1f, 0f),
    3L -> Seq(0f, 0f, 1f),
    4L -> Seq(1f, 0f, 0f)) // exact duplicate of 0

  private def cosineScala(a: Seq[Float], b: Seq[Float]): Double = {
    val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
  }

  test("dot / norm / cosine match scalar math") {
    val row = vecs(0L -> Seq(1f, 2f, 3f)).select(
      Similarity.dot(col("embedding"), col("embedding")).as("d"),
      Similarity.norm(col("embedding")).as("n"),
      Similarity.cosine(col("embedding"), col("embedding")).as("c")).collect()(0)
    assert(row.getDouble(0) === 14.0)
    assert(math.abs(row.getDouble(1) - math.sqrt(14)) < 1e-12)
    assert(math.abs(row.getDouble(2) - 1.0) < 1e-12)
  }

  test("normalized yields unit vectors") {
    val n = vecs(0L -> Seq(3f, 4f)).select(
      Similarity.norm(Similarity.normalized(col("embedding"))).as("n"))
      .as[Double].collect()(0)
    assert(math.abs(n - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by exact cosine with id tie-break") {
    val out = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 0), k = 3)
      .orderBy("rank").select("n_id", "cos", "rank")
      .as[(Long, Double, Long)].collect().toSeq
    assert(out.map(_._1) === Seq(4L, 1L, 2L))
    assert(out(0)._2 === 1.0)
    val expect1 = math.floor(cosineScala(Seq(1f, 0f, 0f), Seq(0.9f, 0.1f, 0f)) * 10000 + 0.5) / 10000
    assert(math.abs(out(1)._2 - expect1) < 1e-9)
  }

  test("lshTopK finds the exact duplicate (same bucket by construction)") {
    val out = Similarity.lshTopK(corpus, corpus.filter(col("vec_id") === 0),
      k = 2, bits = 2, dim = 3)
      .orderBy("rank").select("n_id", "cos").as[(Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    assert(out.head === ((4L, 1.0)))
  }

  test("cosineNearDupPairsExact finds planted duplicate at threshold ~1") {
    val pairs = Similarity.cosineNearDupPairsExact(corpus, threshold = 0.999)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(pairs === Set((0L, 4L, 1.0)))
  }

  test("banded near-dup agrees with exact on planted duplicates") {
    val exact = Similarity.cosineNearDupPairsExact(corpus, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val bucketed = Similarity.cosineNearDupPairs(corpus, threshold = 0.999,
      bitsPerBand = 2, bands = 4, dim = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed === exact) // identical vectors always share every bucket
  }

  test("semanticContaminationPairs flags corpus rows near any benchmark row, cross-frame only") {
    // bench row 100 duplicates corpus row 0 (and 4); bench 101 is orthogonal
    // to everything; corpus rows 2/3 are orthogonal to both bench rows.
    val bench = vecs(100L -> Seq(1f, 0f, 0f), 101L -> Seq(0f, 0.7f, 0.7f))
    val flagged = Similarity.semanticContaminationPairs(
        corpus, bench, threshold = 0.95, bitsPerBand = 2, bands = 6, dim = 3)
      .select("corpus_id", "bench_id", "cos")
      .as[(Long, Long, Double)].collect().toSet
    // duplicates (0, 4) share every bucket with bench 100 → guaranteed
    // found; the near-dup 1 (cos ≈ 0.9939 ≥ 0.95) is found too
    assert(flagged.map(t => (t._1, t._2)) === Set((0L, 100L), (1L, 100L), (4L, 100L)))
    assert(flagged.filter(t => Set(0L, 4L)(t._1)).forall(_._3 === 1.0))
    // no corpus-corpus or bench-bench pairs leak into the output
    assert(flagged.forall(t => t._2 >= 100L && t._1 < 100L))
    // the drop variant keeps exactly the unflagged corpus rows
    val kept = Similarity.semanticDecontaminate(
        corpus, bench, threshold = 0.95, bitsPerBand = 2, bands = 6, dim = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L))
  }

  test("cosineNearDupPairs inside a run scope leaves no pins once the scope ends") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pairs = minietl.pipeline.RunCaches.scoped {
      Similarity.cosineNearDupPairs(corpus, threshold = 0.999,
          bitsPerBand = 2, bands = 4, dim = 3)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    assert(pairs === Set((0L, 4L)))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(minietl.SparkTestBase.awaitUnpinned(spark, before))
  }

  test("banded near-dup recall on a planted mid-threshold corpus") {
    // 40 planted near-dup pairs (base + jittered copy, cos ~0.97) over a
    // random background; recall for p=agreement prob at cos 0.97 with
    // 4-bit x 16-band amplification is 1-(1-p^4)^16 ~ 1.0
    val rnd = new scala.util.Random(7)
    def randVec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val rows = (0 until 40).flatMap { i =>
      val base = randVec()
      val jit = base.map(x => x + 0.1f * rnd.nextGaussian().toFloat)
      Seq((i * 2L, base.toSeq), (i * 2L + 1, jit.toSeq))
    } ++ (80 until 120).map(i => (i.toLong, randVec().toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val exact = Similarity.cosineNearDupPairsExact(df, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = Similarity.cosineNearDupPairs(df, threshold = 0.9,
      bitsPerBand = 4, bands = 16, dim = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 35) // the plant worked
    assert(banded.subsetOf(exact)) // exact-cosine verify: no false positives
    val recall = banded.size.toDouble / exact.size
    assert(recall >= 0.9, s"banded recall $recall (${banded.size}/${exact.size})")
  }

  test("cosineDedup keeps one representative per near-identical cluster") {
    val withDupes = vecs(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(1f, 0f, 0f),    // dup of 0
      2L -> Seq(0.9999f, 0.0001f, 0f), // near-dup chains to 0/1
      3L -> Seq(0f, 1f, 0f))
    val kept = Similarity.cosineDedup(withDupes, threshold = 0.999,
      bitsPerBand = 2, bands = 4, dim = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(0L, 3L))
  }

  test("cosineNearDupPairs drops oversized buckets with a warning") {
    // 150 identical vectors collapse into one bucket per band; a planted
    // near-dup pair of distinct vectors keeps its small buckets
    val degenerate = vecs(
      ((100L until 250L).map(i => i -> Seq(1f, 0f, 0f)) ++
        Seq(0L -> Seq(0f, 1f, 0.01f), 1L -> Seq(0f, 1f, 0.02f))): _*)
    val (pairs, warns) = minietl.LogCapture.warnings("minietl.dedup.Dedup$") {
      val p = Similarity.cosineNearDupPairs(degenerate, threshold = 0.9,
        bitsPerBand = 2, bands = 4, dim = 3, maxBucketSize = 50)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      Thread.sleep(2000) // census log arrives async on the listener bus
      p
    }
    assert(pairs === Set((0L, 1L)))
    assert(warns.exists(w => w.contains("cosineNearDup") && w.contains("non-discriminative")))
  }

  test("knnClassify votes the majority neighbor label with deterministic ties") {
    // labeled corpus: x-axis cluster labeled 1, y-axis cluster labeled 2
    val labeled = Seq(
      (10L, Seq(1f, 0f, 0f), 1),
      (11L, Seq(0.95f, 0.05f, 0f), 1),
      (12L, Seq(0.9f, 0.1f, 0f), 1),
      (20L, Seq(0f, 1f, 0f), 2),
      (21L, Seq(0.05f, 0.95f, 0f), 2),
      (0L, Seq(0.98f, 0.02f, 0f), 9) // query's own row, excluded by id
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(labeled,
      labeled.where(col("vec_id") === 0L), k = 3, labelCol = "label")
      .collect()(0)
    assert(out.getAs[Long]("q_id") === 0L)
    assert(out.getAs[Long]("pred_label") === 1L)
    assert(out.getAs[Long]("votes") === 3L)
  }

  test("knnClassify tie-break prefers the closer, then smaller, label") {
    val labeled = Seq(
      (1L, Seq(1f, 0f), 7), // cos 1.0 with query
      (2L, Seq(0.5f, 0.5f), 3), // cos ~0.707
      (0L, Seq(1f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(labeled,
      labeled.where(col("vec_id") === 0L), k = 2, labelCol = "label")
      .collect()(0)
    // one vote each → best_cos decides: label 7 (cos 1.0) beats 3 (0.7071)
    assert(out.getAs[Long]("pred_label") === 7L)
    assert(out.getAs[Long]("votes") === 1L)
  }

  test("groupCentroids averages scaled-integer components exactly") {
    val df = Seq(
      (1, Array(1.0f, -2.0f)),
      (1, Array(3.0f, 4.0f)),
      (2, Array(0.5f, 0.25f)))
      .toDF("label", "embedding")
    val out = Similarity.groupCentroids(df, "label", "embedding")
      .orderBy("grp", "dim").collect()
    // label 1: dims (1+3)/2 = 2.0, (-2+4)/2 = 1.0; label 2: 0.5, 0.25 —
    // all exactly representable at scale 1e7, so the centroids are exact
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      === Seq((1, 1L, 2L, 2.0), (1, 2L, 2L, 1.0), (2, 1L, 1L, 0.5), (2, 2L, 1L, 0.25)))
  }

  test("lshSignature is deterministic and within [0, 2^bits)") {
    val sigs = corpus.select(Similarity.lshSignature(col("embedding"), 4, 3).as("s"))
      .as[Int].collect()
    assert(sigs.forall(s => s >= 0 && s < 16))
    val again = corpus.select(Similarity.lshSignature(col("embedding"), 4, 3).as("s"))
      .as[Int].collect()
    assert(sigs.toSeq === again.toSeq)
  }
}
