package graft

import minietl.SparkTestBase
import minietl.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `ScaleProbe.genDocuments` keeps its header's promise: Nx the rows,
  * replica 0 untouched, ids disjoint by the 2^40 stride, and the near-dup
  * structure preserved within each replica but never shared across them.
  */
class ScaleProbeSpec extends AnyFunSuite with SparkTestBase {

  test("two replicas of sf0.001 documents preserve the exact-duplicate structure") {
    // sf0.001's 500 texts are all distinct, so every 25th doc gets an exact
    // copy under a new id: the duplicate groups the replicas must mirror
    val src = java.nio.file.Files.createTempDirectory("scale-src").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.unionByName(docs.where(pmod(col("doc_id"), lit(25)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
      .write.parquet(s"$src/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("scale-docs").toString
    ScaleProbe.genDocuments(spark, src, out, 2)
    val orig = spark.read.parquet(s"$src/documents.parquet").select("doc_id", "text")
    val gen = spark.read.parquet(s"$out/documents.parquet")
      .withColumn("replica", (col("doc_id") / lit(ScaleProbe.ReplicaStride)).cast("long"))
      .withColumn("base_id", pmod(col("doc_id"), lit(ScaleProbe.ReplicaStride)))
      .cache()
    val n = orig.count()
    assert(gen.count() === 2 * n)
    assert(gen.groupBy("replica").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(0L -> n, 1L -> n))

    // replica 0 is the source; replica 1 holds the same ids one stride up
    val r0 = gen.where(col("replica") === 0L).select("doc_id", "text")
    assert(r0.exceptAll(orig).isEmpty && orig.exceptAll(r0).isEmpty)
    val ids = gen.select("doc_id").distinct().count()
    assert(ids === 2 * n)
    assert(gen.where(col("replica") === 1L).select(col("base_id").as("doc_id"))
      .exceptAll(orig.select("doc_id")).isEmpty)

    // exact-duplicate groups: replica 1's partition of base ids equals
    // replica 0's, and no fingerprint is shared by the two replicas
    val fp = gen.withColumn("fp", TextAnalysis.fingerprint(col("text")))
    def groups(replica: Long): Set[Set[Long]] =
      fp.where(col("replica") === replica).groupBy("fp")
        .agg(collect_set(col("base_id")).as("ids")).collect()
        .map(_.getSeq[Long](1).toSet).toSet
    val g0 = groups(0L)
    assert(g0.count(_.size > 1) === 20)
    assert(groups(1L) === g0)
    assert(fp.groupBy("fp").agg(countDistinct(col("replica")).as("r"))
      .where(col("r") > 1).isEmpty)
    gen.unpersist()
  }
}
