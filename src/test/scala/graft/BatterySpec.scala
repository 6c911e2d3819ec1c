package graft

import minietl.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared battery harness: the session settings every graft main
  * builds, and the checksum force that Bench times and QueryBench compares.
  */
class BatterySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("conf is the settings list Verify and Bench built before the harness") {
    // what Verify and Bench each passed to SparkSession.builder() for
    // SPARK_GRAFT_CPUS=8, before the streaming checkpoint location
    val before = Seq(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    assert(Battery.conf("8").sorted === before.sorted)
  }

  private def rows = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5),
    (4L, "d", -0.0), (5L, "e", 5.5)).toDF("id", "s", "x")

  test("force is independent of row order and partitioning") {
    val base = Battery.force(rows)
    assert(Battery.force(rows.orderBy(col("id").desc)) === base)
    assert(Battery.force(rows.repartition(3, col("s"))) === base)
    assert(Battery.force(rows.coalesce(1)) === base)
  }

  test("force changes when one cell changes") {
    val base = Battery.force(rows)
    assert(Battery.force(rows.withColumn("s",
      when(col("id") === 3L, lit("c")).otherwise(col("s")))) !== base)
    assert(Battery.force(rows.withColumn("x",
      when(col("id") === 5L, lit(5.25)).otherwise(col("x")))) !== base)
  }

  test("force is bit_xor(xxhash64) of every column, maps through to_json") {
    val df = rows.select(col("id"), col("s"),
      map(lit("k"), col("x")).as("m"), array(map(lit("k"), col("id"))).as("am"))
    val expected = df.toDF("c0", "c1", "c2", "c3")
      .selectExpr("bit_xor(xxhash64(c0, c1, to_json(c2), to_json(c3)))")
      .head().getLong(0)
    assert(Battery.force(df) === expected)
    assert(Battery.force(df.orderBy(col("id").desc)) === expected)
  }

  test("force on a zero-column frame counts rows; on no rows it is 0") {
    assert(Battery.force(spark.range(7).select()) === 7L)
    assert(Battery.force(rows.where(col("id") < 0L)) === 0L)
  }

  test("QueryBench's extra conf names the entry that is not key=value") {
    assert(QueryBench.extraConf(" a.b=1 ; c=d=e ;") === Seq("a.b" -> "1", "c" -> "d=e"))
    val e = intercept[IllegalArgumentException](QueryBench.extraConf("a=1;oops"))
    assert(e.getMessage.contains("'oops'"))
  }
}
