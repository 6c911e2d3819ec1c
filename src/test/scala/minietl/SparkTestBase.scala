package minietl

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("minietl-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs GCs until every persistent RDD not in `before` is gone (the
    * ContextCleaner unpersists an RDD once it is unreachable), or until
    * `timeoutMs` passes. True when none is left.
    */
  def awaitUnpinned(spark: SparkSession, before: Set[Int], timeoutMs: Long = 20000L): Boolean = {
    def left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    left.isEmpty
  }
}
