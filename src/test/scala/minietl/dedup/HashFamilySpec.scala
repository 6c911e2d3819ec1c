package minietl.dedup

import java.nio.file.Files

import minietl.SparkTestBase
import minietl.functions.HashFamily
import minietl.streaming.Streaming
import minietl.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object HashFamilySpec {
  private def words(prefix: String, from: Int, to: Int): Seq[String] =
    (from to to).map(i => s"$prefix$i")

  /** Docs whose every duplicate relation holds by construction, so no hash
    * family can see it differently: an exact-duplicate pair (1, 2), a pair
    * sharing one 12-token span and nothing else (3, 4), a near-duplicate
    * pair that differs only by swapping its last two tokens (5, 6: the
    * same token bag, shingle Jaccard 36/40), and two unrelated docs (7, 8).
    * No token appears in two groups.
    */
  val docs: Seq[(Long, String)] = {
    val span = words("s", 1, 12)
    val near = words("n", 1, 40)
    Seq(
      1L -> words("e", 1, 20),
      2L -> words("e", 1, 20),
      3L -> (words("a", 1, 10) ++ span ++ words("a", 11, 20)),
      4L -> (words("b", 1, 8) ++ span ++ words("b", 9, 16)),
      5L -> near,
      6L -> (near.take(38) ++ Seq("n40", "n39")),
      7L -> words("u", 1, 25),
      8L -> words("v", 1, 30)
    ).map { case (id, toks) => id -> toks.mkString(" ") }
  }

  def planted(spark: SparkSession): DataFrame =
    spark.createDataFrame(docs).toDF("doc_id", "text")
}

/** Every kernel that takes a [[HashFamily]] gives the same pairs, spans and
  * rewritten texts on the production and the portable family: the oracle
  * replays the portable one, so this is what carries its verdict over to
  * production. `Winnow.spanDedupFixpoint` is compared in
  * [[SpanPropertiesSpec]] on this corpus too.
  */
class HashFamilySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val families = Seq(HashFamily.Production, HashFamily.Portable)
  private def df = HashFamilySpec.planted(spark)

  /** The kernel's answer on each family must be `expected`. */
  private def same[T](expected: T)(run: HashFamily => T): Unit =
    families.foreach(f => assert(run(f) === expected, s"family $f"))

  test("fingerprint: only the exact duplicates collide") {
    same(Set(Set(1L, 2L)) ++ (3L to 8L).map(Set(_))) { f =>
      df.select($"doc_id", TextAnalysis.fingerprint($"text", f).as("fp"))
        .as[(Long, Long)].collect().groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    }
  }

  test("Winnow.fingerprints and overlapPairs: the three related pairs share fingerprints") {
    val related = Set((1L, 2L), (3L, 4L), (5L, 6L))
    same(related) { f =>
      val fps = Winnow.fingerprints(df, "text", "doc_id", family = f)
        .select("id", "fp").as[(Long, Long)].collect()
      fps.groupBy(_._2).values.flatMap { holders =>
        val ids = holders.map(_._1).distinct.sorted.toSeq
        for (i <- ids; j <- ids if i < j) yield (i, j)
      }.toSet
    }
    same(related) { f =>
      Winnow.overlapPairs(df, "text", "doc_id", minShared = 1, family = f)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
  }

  test("Winnow.sharedSpans and spanDedup: the same spans and rewritten texts") {
    same(Set((1L, 2L, 0, 0, 20L), (3L, 4L, 10, 8, 12L), (5L, 6L, 0, 0, 38L))) { f =>
      Winnow.sharedSpans(df, "text", "doc_id", family = f)
        .as[(Long, Long, Int, Int, Long)].collect().toSet
    }
    val texts = HashFamilySpec.docs.toMap
    same(texts ++ Map(2L -> "",
        4L -> HashFamilySpec.docs(3)._2.split(" ").filterNot(_.startsWith("s")).mkString(" "),
        6L -> "n40 n39")) { f =>
      Winnow.spanDedup(df, "text", "doc_id", family = f)
        .select("doc_id", "text").as[(Long, String)].collect().toMap
    }
  }

  test("Dedup.minhashNearDupPairs and simhashNearDupPairs: the same verified pairs") {
    same(Set((1L, 2L, 1.0), (5L, 6L, 0.9))) { f =>
      Dedup.minhashNearDupPairs(df, "text", "doc_id", family = f)
        .select("id_a", "id_b", "jac").as[(Long, Long, Double)].collect().toSet
    }
    same(Set((1L, 2L, 0), (5L, 6L, 0))) { f =>
      Dedup.simhashNearDupPairs(df, "text", "doc_id", family = f)
        .as[(Long, Long, Int)].collect().toSet
    }
  }

  test("Streaming.nearDupDedupAndRecordHistory: the same admitted docs per batch") {
    // batch 0 is the corpus (the within-batch pass drops 2 and 6); batch 1
    // re-sights doc 7's text under id 9, which the digest drops, next to a
    // new doc 10
    val batches = Seq(HashFamilySpec.docs,
      Seq(9L -> HashFamilySpec.docs(6)._2, 10L -> "w1 w2 w3 w4 w5 w6 w7 w8"))
    same(Seq(Set(1L, 3L, 4L, 5L, 7L, 8L), Set(10L))) { f =>
      val dir = Files.createTempDirectory("minietl-family-stream")
      val in = s"$dir/in"
      val admitted = Seq.newBuilder[Set[Long]]
      batches.foreach { rows =>
        rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
        val q = Streaming.nearDupDedupAndRecordHistory(
          spark.readStream.schema("doc_id LONG, text STRING").parquet(in),
          "doc_id", "text", s"$dir/digest", s"$dir/chk", family = f) { (batch, _) =>
          admitted += batch.select("doc_id").as[Long].collect().toSet
        }
        try q.processAllAvailable() finally q.stop()
      }
      admitted.result()
    }
  }
}
