package minietl.dedup

import minietl.SparkTestBase
import minietl.graph.PageRank
import minietl.multimodal.{Multimodal, PerceptualAudio, PerceptualHash}
import minietl.sim.{Ivf, SemDedup, Similarity}
import minietl.sketch.Sketches
import minietl.text.{Decontaminate, LmScore, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{explode, length, split}
import org.scalatest.funsuite.AnyFunSuite

/** The kernels that checkpoint what they re-read, called as a library with
  * no run scope open: they make no CacheManager entry, and the checkpoints
  * they take are not pinned: each leaves the session once its frame is
  * dropped and a GC runs.
  */
class KernelCheckpointSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** 40 docs of 30 words; docs 2i and 2i+1 differ in their last word. */
  private def corpus: DataFrame =
    (0 until 40).map { i =>
      val words = (1 to 29).map(j => s"w${(i / 2) * 31 + j}") :+ s"end$i"
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")

  /** 12 vectors in three tight groups of four. */
  private def vectors: DataFrame =
    (0 until 12).map { i =>
      val v = Array.fill(3)(0.05f)
      v(i % 3) = 1f + i * 0.01f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")

  private def images: DataFrame =
    (0 until 8).map(i => (i.toLong, PerceptualHash.gradientPng(16, 16, 3 + i % 4, 5, 7)))
      .toDF("media_id", "content")

  private def wavs: DataFrame =
    Multimodal.syntheticWavs((0L until 8L).toDF("doc_id"), "doc_id")
      .select("media_id", "content")

  /** Runs a kernel and collects its frame; once this returns, nothing
    * holds the frame.
    */
  private def force(kernel: () => Any): Unit = kernel() match {
    case df: DataFrame => df.collect(); ()
    case _ => ()
  }

  private def check(kernels: Seq[(String, () => Any)]): Unit = {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    kernels.foreach { case (name, kernel) =>
      force(kernel)
      assert(spark.sharedState.cacheManager.isEmpty, s"$name made a CacheManager entry")
      assert(SparkTestBase.awaitUnpinned(spark, before),
        s"$name left persistent RDDs after its frame was dropped")
    }
  }

  test("dedup kernels outside a scope leave no cache entry, and their checkpoints leave with their frames") {
    check(Seq(
      "minhashNearDupPairs" -> (() => Dedup.minhashNearDupPairs(corpus, "text", "doc_id", threshold = 0.5)),
      "simhashNearDupPairs" -> (() => Dedup.simhashNearDupPairs(corpus, "text", "doc_id")),
      "minhashDedup" -> (() => Dedup.minhashDedup(corpus, "text", "doc_id", threshold = 0.5)),
      "spanDedupFixpoint" -> (() => Winnow.spanDedupFixpoint(corpus, "text", "doc_id")),
      "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(
        corpus.withColumn("len", length($"text")),
        "text", "doc_id", "len")),
      "ngramContainmentPairs" -> (() => Dedup.ngramContainmentPairs(corpus, "text", "doc_id"))))
  }

  test("text, sketch, similarity, graph and media kernels outside a scope leave no cache entry") {
    val bench = corpus.where($"doc_id" < 3)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L), (1L, 3L)).toDF("src", "dst")
    check(Seq(
      "tfidf" -> (() => TextAnalysis.tfidf(corpus, "doc_id", "text")),
      "bm25" -> (() => TextAnalysis.bm25(corpus, "doc_id", "text")),
      "bigramSurprise" -> (() => LmScore.bigramSurprise(corpus, "doc_id", "text")),
      "decontaminateBloom" -> (() => Decontaminate.decontaminateBloom(
        corpus, bench, "doc_id", "text", n = 8, estimatedGrams = 1000)),
      "countMinTopK" -> (() => Sketches.countMinTopK(
        corpus.select(explode(split($"text", " ")).as("tok")),
        "tok", depth = 3, width = 64, k = 5)),
      "cosineNearDupPairs" -> (() => Similarity.cosineNearDupPairs(vectors, threshold = 0.9,
        bitsPerBand = 2, bands = 4, dim = 3)),
      "semanticDecontaminate" -> (() => Similarity.semanticDecontaminate(
        vectors, vectors.where($"vec_id" < 2), threshold = 0.9,
        bitsPerBand = 2, bands = 4, dim = 3)),
      "Ivf.train" -> (() => Ivf.train(vectors, nlist = 3)),
      "semDedup" -> (() => SemDedup.semDedup(vectors, Ivf.train(vectors, nlist = 2),
        tau = 0.9, maxClusterSize = 3)),
      "pageRankFixedPoint" -> (() => PageRank.pageRankFixedPoint(spark, edges, iterations = 2)),
      "image dedupExact" -> (() => PerceptualHash.dedupExact(images, "media_id", "content")),
      "image dedupNear" -> (() => PerceptualHash.dedupNear(images, "media_id", "content")),
      "audio dedupExact" -> (() => PerceptualAudio.dedupExact(wavs, "media_id", "content")),
      "audio dedupNear" -> (() => PerceptualAudio.dedupNear(wavs, "media_id", "content"))))
  }
}
