package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Dev entry for the optimization loop: time the named queries (every
  * registered query when none is named) at SPARK_GRAFT_SF_DIR (default
  * sf0.1), isolated from the battery, with the session settings and the
  * checksum force of graft.Bench ([[Battery.force]]: under `count()`
  * Catalyst may elide count-preserving operators, so A/B numbers timed
  * under count are not the numbers the bench sees).
  *
  * After the same sf0.001 + sf0.01 warm-ups as Bench (restricted to the
  * named queries), each query runs SPARK_GRAFT_QB_REPS (default 3) times:
  * rep 1 ~ the bench cold pass, later reps ~ warm. Per query it prints the
  * rep times and checksums, flags a rep-to-rep checksum mismatch (a
  * cross-query state leak or a nondeterministic result: temp views,
  * memory-sink names, cached frames, staged stream dirs), and prints a
  * per-stage wall/task-time table of the LAST rep from a SparkListener —
  * the local stand-in for the Spark UI's Stages page, which the battery
  * sessions disable. A scale curve is this tool pointed at a
  * `graft.ScaleProbe gen` output dir.
  *
  * SPARK_GRAFT_EXTRA_CONF="k=v;k=v" adds session settings, so a config
  * candidate is measured both ways without a recompile. Bench (the driver
  * artifact) deliberately has no such hook — a config that survives the
  * A/B is promoted to an explicit, documented setting there.
  *
  * Usage: SPARK_GRAFT_QB_REPS=4 sbt "runMain graft.QueryBench q_pagerank ..."
  */
object QueryBench {

  private final case class StageRec(stageId: Int, name: String, nTasks: Int,
                                    wallMs: Long, taskTimeMs: Long)

  /** Local property that marks the jobs of a recorded rep. */
  private val RecordKey = "graft.qbench.recorded"

  /** Records the jobs (and their stages) submitted while the local
    * property [[RecordKey]] is set. The listener bus is asynchronous,
    * so [[settle]] waits for the recorded jobs' end events before reading.
    */
  private final class StageTable extends SparkListener {
    val stages = new ConcurrentLinkedQueue[StageRec]()
    private val jobIds = ConcurrentHashMap.newKeySet[Int]()
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val ended = new AtomicInteger()
    private val taskTime = new ConcurrentHashMap[Int, AtomicLong]()

    def jobs: Int = jobIds.size
    def clear(): Unit = {
      stages.clear(); jobIds.clear(); stageIds.clear(); ended.set(0); taskTime.clear()
    }
    def settle(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      var stable = 0
      while (stable < 3 && System.nanoTime() < deadline) {
        stable = if (ended.get == jobIds.size) stable + 1 else 0
        Thread.sleep(50)
      }
    }

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (Option(j.properties).exists(_.getProperty(RecordKey) != null)) {
        jobIds.add(j.jobId); j.stageIds.foreach(stageIds.add); ()
      }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (jobIds.contains(j.jobId)) { ended.incrementAndGet(); () }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (stageIds.contains(t.stageId)) {
      taskTime.computeIfAbsent(t.stageId, _ => new AtomicLong())
        .addAndGet(Option(t.taskInfo).map(_.duration).getOrElse(0L)); ()
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      if (stageIds.contains(si.stageId)) {
        stages.add(StageRec(si.stageId, si.name.split("\n")(0).take(90), si.numTasks,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          Option(taskTime.get(si.stageId)).map(_.get()).getOrElse(0L))); ()
      }
    }
  }

  /** Parses SPARK_GRAFT_EXTRA_CONF's `k=v;k=v` list. */
  private[graft] def extraConf(spec: String): Seq[(String, String)] =
    spec.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not of the form key=value")
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_QB_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_QB_REPS must be >= 1, got $reps")
    val extra = extraConf(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", ""))
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))
    val spark = Battery.session(cpus, Some("qbench"), extra)
    spark.sparkContext.setLogLevel("ERROR")
    val table = new StageTable
    spark.sparkContext.addSparkListener(table)
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { warmDir =>
      names.foreach { n =>
        try Battery.force(SparkEntry.queries(n)(spark, warmDir))
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    }
    var mismatches = 0
    var failures = 0
    names.foreach { n =>
      val runs = (1 to reps).map { rep =>
        if (rep == reps) {
          table.clear(); spark.sparkContext.setLocalProperty(RecordKey, n)
        }
        val t0 = System.nanoTime()
        val sum =
          try Some(Battery.force(SparkEntry.queries(n)(spark, sfDir)))
          catch { case e: Throwable =>
            println(s"[qbench] $n rep $rep FAILED: ${String.valueOf(e.getMessage).take(200)}")
            None
          }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setLocalProperty(RecordKey, null)
        spark.catalog.clearCache()
        (dt, sum)
      }
      val sums = runs.map(_._2)
      println(f"[qbench] $n: ${runs.map(r => f"${r._1}%.2f").mkString(" ")} s, " +
        s"checksum ${sums.map(_.fold("FAILED")(_.toString)).mkString(" ")}")
      if (sums.contains(None)) failures += 1
      else if (sums.distinct.size > 1) {
        mismatches += 1
        println(s"[qbench] $n CHECKSUM MISMATCH across reps")
      }
      table.settle()
      val recs = table.stages.asScala.toSeq.sortBy(-_.taskTimeMs)
      println(f"${"stageId"}%8s ${"tasks"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s  name")
      recs.take(30).foreach { r =>
        println(f"${r.stageId}%8d ${r.nTasks}%6d ${r.wallMs}%8d ${r.taskTimeMs}%8d  ${r.name}")
      }
      println(f"[qbench] $n last rep: jobs ${table.jobs}, stages ${recs.size}, " +
        f"tasks ${recs.map(_.nTasks).sum}, stage wall sum ${recs.map(_.wallMs).sum / 1e3}%.2f s, " +
        f"task time sum ${recs.map(_.taskTimeMs).sum / 1e3}%.2f s")
    }
    println(s"[qbench] ${names.size} queries x $reps reps at $sfDir: " +
      s"$mismatches checksum mismatch(es), $failures failed")
    spark.stop()
  }
}
