package minietl.dedup

import minietl.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The dedup kernels called as a library, with no run scope open: they
  * make no CacheManager entry, and the checkpoints they take are not
  * pinned: each leaves the session once its frame is dropped and a GC
  * runs.
  */
class KernelCheckpointSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** 40 docs of 30 words; docs 2i and 2i+1 differ in their last word. */
  private def corpus: DataFrame =
    (0 until 40).map { i =>
      val words = (1 to 29).map(j => s"w${(i / 2) * 31 + j}") :+ s"end$i"
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")

  private val kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
    "minhashNearDupPairs" -> (df => Dedup.minhashNearDupPairs(df, "text", "doc_id", threshold = 0.5)),
    "simhashNearDupPairs" -> (df => Dedup.simhashNearDupPairs(df, "text", "doc_id")),
    "minhashDedup" -> (df => Dedup.minhashDedup(df, "text", "doc_id", threshold = 0.5)),
    "spanDedupFixpoint" -> (df => Winnow.spanDedupFixpoint(df, "text", "doc_id")))

  test("dedup kernels outside a scope leave no cache entry, and their checkpoints leave with their frames") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    kernels.foreach { case (name, kernel) =>
      assert(kernel(corpus).collect().nonEmpty, name)
      assert(spark.sharedState.cacheManager.isEmpty, s"$name made a CacheManager entry")
      assert(SparkTestBase.awaitUnpinned(spark, before),
        s"$name left persistent RDDs after its frame was dropped")
    }
  }
}
