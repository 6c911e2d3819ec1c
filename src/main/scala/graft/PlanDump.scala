package graft

/** Dev entry: print `explain("formatted")` for the named queries (all when
  * none given) at sf0.001 — the plan-shape audit loop behind PLANS.md.
  * Usage: runMain graft.PlanDump q_paragraph_dedup q_token_budget
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Battery.session("8")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===== $name =====")
      try SparkEntry.queries(name)(spark, dir).explain("formatted")
      catch { case e: Throwable =>
        println(s"[plandump] $name failed: ${e.getMessage.take(200)}") }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
