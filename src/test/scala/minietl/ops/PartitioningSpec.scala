package minietl.ops

import minietl.SparkTestBase
import org.apache.spark.JobCounter.jobsDuring
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PartitioningSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def df = (1 to 1000).map(i => (i.toLong, i % 7)).toDF("id", "k")

  test("rebalance evens out partition count; coalesce narrows it") {
    val r = df.transform(Partitioning.rebalance(8))
    assert(Partitioning.partitionCount(r) === 8)
    val c = r.transform(Partitioning.coalesce(2))
    assert(Partitioning.partitionCount(c) === 2)
  }

  test("byKeys co-locates equal keys in one partition") {
    val p = df.transform(Partitioning.byKeys(4, Seq("k")))
    assert(Partitioning.partitionCount(p) === 4)
    // every key lives in exactly one partition
    val spread = p.withColumn("pid", spark_partition_id())
      .groupBy("k").agg(countDistinct("pid").as("parts"))
      .agg(max("parts")).collect()(0).getLong(0)
    assert(spread === 1L)
  }

  test("byRange yields non-overlapping sorted ranges") {
    val p = df.transform(Partitioning.byRange(4, Seq("id")))
    val ranges = p.withColumn("pid", spark_partition_id())
      .groupBy("pid").agg(min("id").as("lo"), max("id").as("hi"))
      .orderBy("lo").select("lo", "hi").as[(Long, Long)].collect()
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ => ()
    }
  }

  test("plannedPartitions reads the partition count off the plan without a job") {
    val dir = java.nio.file.Files.createTempDirectory("minietl-parts").resolve("t").toString
    df.repartition(3).write.parquet(dir)
    val scan = spark.read.parquet(dir)
    val frames = Seq(
      scan,
      scan.repartition(6),
      scan.filter($"k" > 2).select("id"),
      scan.union(scan.repartition(5)),
      df.coalesce(2))
    frames.foreach { f =>
      val (est, jobs) = jobsDuring(spark.sparkContext) {
        Partitioning.plannedPartitions(f)
      }
      assert(jobs === 0)
      assert(est === Partitioning.partitionCount(f))
    }
    // a shuffled frame: partitionCount runs the shuffle under AQE (the
    // span fixpoint's old partition cap did exactly this); the estimate
    // runs nothing and bounds the coalesced count from above
    val grouped = df.groupBy("k").count()
    val (est, jobs) = jobsDuring(spark.sparkContext) {
      Partitioning.plannedPartitions(grouped)
    }
    assert(jobs === 0)
    assert(est === spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val (actual, probeJobs) = jobsDuring(spark.sparkContext) {
      Partitioning.partitionCount(grouped)
    }
    assert(probeJobs >= 1 && actual <= est)
  }
}
