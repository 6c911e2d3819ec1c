package minietl.sim

import minietl.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // three well-separated clusters around axis corners, 30 vectors each
  private def clustered = {
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.5f).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("autoNlist: ceil(n/target), clamped to maxNlist and to n") {
    val df = spark.range(2500).toDF("vec_id")
    assert(Ivf.autoNlist(df) === 5)                               // 2500/500
    assert(Ivf.autoNlist(df, targetClusterRows = 400) === 7)      // ceil
    assert(Ivf.autoNlist(df, targetClusterRows = 10000) === 1)    // floor 1
    assert(Ivf.autoNlist(df, targetClusterRows = 1, maxNlist = 64) === 64)
    // train requires corpus >= nlist, so the derivation clamps to n
    assert(Ivf.autoNlist(spark.range(3).toDF("vec_id"), targetClusterRows = 1) === 3)
    intercept[IllegalArgumentException] {
      Ivf.autoNlist(spark.range(0).toDF("vec_id"))
    }
  }

  test("train recovers well-separated clusters (each list gets ~a third)") {
    val model = Ivf.train(clustered, nlist = 3, iters = 4)
    assert(model.nlist === 3 && model.dim === 4)
    val counts = clustered
      .select(Ivf.assignList(transform(col("embedding"), _.cast("double")), model).as("l"))
      .groupBy("l").count().as[(Int, Long)].collect().toMap
    assert(counts.size === 3)
    assert(counts.values.forall(c => c >= 25 && c <= 35), counts.toString)
  }

  test("clusterComposition partitions the corpus and aggregates by the label column") {
    val model = Ivf.train(clustered, nlist = 3, iters = 4)
    // label = the planted cluster id (i % 3)
    val labeled = clustered.withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
    val comp = Ivf.clusterComposition(labeled, model, byCols = Seq("label"))
      .collect()
    // every row is counted exactly once across the composition cells
    assert(comp.map(_.getAs[Long]("n")).sum === 90L)
    assert(comp.forall(r => r.getAs[Long]("cluster") >= 0 && r.getAs[Long]("cluster") < 3))
    // well-separated data: each k-means cluster is label-pure, so the
    // composition is exactly 3 cells of 30
    assert(comp.length === 3 && comp.forall(_.getAs[Long]("n") === 30L))
  }

  test("train is deterministic across invocations") {
    val a = Ivf.train(clustered, nlist = 3, iters = 3)
    val b = Ivf.train(clustered, nlist = 3, iters = 3)
    assert(a.centroids === b.centroids)
  }

  test("topK with nprobe=1 matches brute force on clustered data") {
    val model = Ivf.train(clustered, nlist = 3, iters = 4)
    val queries = clustered.filter(col("vec_id") < 3)
    val ivf = Ivf.topK(clustered, queries, model, k = 5, nprobe = 1)
      .select("q_id", "n_id", "rank").as[(Long, Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(clustered, queries, k = 5)
      .select("q_id", "n_id", "rank").as[(Long, Long, Long)].collect().toSet
    // same-cluster neighbors dominate cosine here, so IVF@nprobe=1 is exact
    assert(ivf === brute)
  }

  test("probing more lists can only widen the candidate set") {
    val model = Ivf.train(clustered, nlist = 3, iters = 4)
    val queries = clustered.filter(col("vec_id") === 0)
    def candidates(np: Int) =
      Ivf.topK(clustered, queries, model, k = 90, nprobe = np).count()
    assert(candidates(1) <= candidates(2))
    assert(candidates(2) <= candidates(3))
  }

  // VERDICT r17 "Next" #5: the five IVF-family battery queries run under
  // SERVING oracles — the oracle SQL embeds the Spark-trained centroids, so
  // the driver's correctness gate re-checks only the assignment math and is
  // structurally blind to ANY training change (the r17 hash-spread init
  // changed five queries' outputs with the gate green by construction).
  // These digests pin the exact trained models for the battery's two
  // configurations at every battery SF: an init/train edit now FAILS here
  // until the digest is deliberately updated alongside the change's
  // rationale — training changes become visible, reviewed diffs.
  private def centroidDigest(model: Ivf.Model): String = {
    val rendered = model.centroids
      .map(_.map(_.toString).mkString(",")).mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(rendered.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("training determinism: per-SF centroid digests are pinned") {
    // golden values: md5 over the 1e-6-rounded centroid doubles, rendered
    // row-major (r18). To regenerate them after a deliberate training
    // change, run this test: each mismatch message prints the new digest.
    val expected = Map(
      ("sf0.001", 8) -> "3656015323ba4de6a27af482bbd6f2c5",
      ("sf0.001", 4) -> "e2b970df1d6db6de5b9c88ff79efb2dc",
      ("sf0.01", 8) -> "c60e5f91472cc0dfa8cbe1e58fd93d66",
      ("sf0.01", 4) -> "3616548ba077a90f8cbeee8b69084919",
      ("sf0.1", 8) -> "e028d581606b05e350b9c3f0dc98d14f",
      ("sf0.1", 4) -> "2f465e7a1e1a00952384aec2fa2cc280")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); nlist <- Seq(8, 4)) {
      val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val d = centroidDigest(Ivf.train(e, nlist = nlist, iters = 3))
      assert(d === expected((sf, nlist)),
        s"Ivf.train($sf, nlist=$nlist, iters=3) centroid digest changed to " +
          s"$d — training output is different from the pinned model. If the " +
          "change is deliberate, update the digest AND note the training " +
          "change in the round log (the battery's serving oracles cannot " +
          "see it).")
    }
  }

  test("works on the shared embeddings testdata with sane recall") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val model = Ivf.train(e, nlist = 8, iters = 3)
    val queries = e.filter(col("vec_id") < 5)
    val ivf = Ivf.topK(e, queries, model, k = 10, nprobe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(e, queries, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
  }
}
