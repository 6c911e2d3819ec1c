package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into a program layer. `name` is
  * `<layer>.<call>`; `parent` is the id of the enclosing span, -1 at the top.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. Disabled, a span
  * is the bare call, so untraced runs pay nothing for it. One client thread
  * opens spans, so the parent stack needs no lock.
  */
final class Spans(val enabled: Boolean) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        all += Span(id, parent, name, t0, System.nanoTime())
        open = open.tail
      }
    }
}

object Spans {
  val off = new Spans(false)
}

/** Span arithmetic. A span tree's root is one top-level call (a job, a
  * drain, a query, the stage breakdown); metrics derived from spans are
  * per root, so runs that fit a different number of operations compare.
  */
object Trace {

  /** Span layers in print order: `op` is the benchmark's own client code
    * around the calls, the rest are program modules.
    */
  val layers: Seq[String] = Seq("op", "config", "pipeline", "stream", "query",
    "text", "dedup", "ops", "io", "stage")

  def layer(s: Span): String = s.name.takeWhile(_ != '.')

  private def rootOf(all: Seq[Span]): Span => Int = {
    val byId = all.map(s => s.id -> s).toMap
    def go(s: Span): Int = if (s.parent < 0) s.id else go(byId(s.parent))
    go
  }

  /** Seconds inside `s` not covered by any of its direct children. */
  def self(s: Span, children: Seq[Span]): Double = {
    val covered = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, s.startNs)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
      }._1
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Each layer's self time, summed and divided by the number of roots
    * whose trees hold a span of that layer.
    */
  def selfTimes(all: Seq[Span]): Seq[(String, Double)] = {
    val children = all.groupBy(_.parent)
    val root = rootOf(all)
    all.groupBy(layer).toSeq.map { case (l, ss) =>
      l -> ss.map(s => self(s, children.getOrElse(s.id, Nil))).sum / ss.map(root).distinct.size
    }
  }

  /** Seconds in spans whose name starts with `prefix`, per root holding one. */
  def perRoot(all: Seq[Span], prefix: String): Double = {
    val ss = all.filter(_.name.startsWith(prefix))
    if (ss.isEmpty) 0.0 else ss.map(s => (s.endNs - s.startNs) / 1e9).sum / ss.map(rootOf(all)).distinct.size
  }

  /** Seconds in spans named exactly `name`. */
  def spanTotal(all: Seq[Span], name: String): Double =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
}

/** Totals of the jobs that started inside the measured operations. */
final case class ExecCounters(jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
                              taskRunMs: Long, taskCpuNs: Long, shuffleWriteB: Long,
                              shuffleReadB: Long, spillB: Long, scanB: Long, scanRows: Long,
                              sinkB: Long, sinkRows: Long, stageSkewMax: Double, idleMs: Long)

/** Scheduler, executor, shuffle and io events from the Spark listener bus.
  * Output checks run between operations, so counters keep only the jobs
  * that started inside an operation's wall interval. Events arrive on the
  * bus thread, hence the locking.
  */
final class ExecListener extends SparkListener {
  private final class StageAgg {
    var completed = false
    var tasks, failed, runMs, cpuNs, shuffleW, shuffleR, spill, scanB, scanRows, sinkB, sinkRows = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val started = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long, Seq[Int])]
  private val stages = mutable.Map.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = (e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (t, ids) => jobs += ((t, e.time, ids)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).completed = true
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.reason != org.apache.spark.Success) a.failed += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.shuffleR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.scanB += m.inputMetrics.bytesRead
      a.scanRows += m.inputMetrics.recordsRead
      a.sinkB += m.outputMetrics.bytesWritten
      a.sinkRows += m.outputMetrics.recordsWritten
    }
  }

  /** Counters of the jobs that started inside one of `ops` (epoch ms). The
    * skew of a stage is its slowest task over its median task; a stage of
    * one task counts as 1. Idle time is the part of `ops` with no job running.
    */
  def counters(ops: Seq[(Long, Long)]): ExecCounters = synchronized {
    val inOps = jobs.filter { case (t, _, _) => ops.exists { case (s, e) => t >= s && t <= e } }.toSeq
    val ss = inOps.flatMap(_._3).distinct.flatMap(stages.get)
    def total(f: StageAgg => Long) = ss.map(f).sum
    val skew = ss.filter(_.taskMs.size > 1).map { a =>
      val t = a.taskMs.sorted
      val med = t(t.size / 2).toDouble
      if (med <= 0) 1.0 else t.last / med
    }.foldLeft(1.0)(math.max)
    val idle = ops.map { case (s, e) =>
      val covered = inOps.map { case (a, b, _) => (math.max(a, s), math.min(b, e)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, s)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
        }._1
      (e - s) - covered
    }.sum
    ExecCounters(inOps.size, ss.count(_.completed), total(_.tasks), total(_.failed),
      total(_.runMs), total(_.cpuNs), total(_.shuffleW), total(_.shuffleR), total(_.spill),
      total(_.scanB), total(_.scanRows), total(_.sinkB), total(_.sinkRows), skew, idle)
  }
}

/** Catalyst phase times of every executed query, from `QueryExecution.tracker`,
  * kept with the time its first phase began.
  */
final class PlanListener extends QueryExecutionListener {
  private val seen = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
      seen += ((start, ms("analysis"), ms("optimization"), ms("planning")))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** (analysis, optimizer, physical) ms of the queries begun inside `ops`. */
  def phasesMs(ops: Seq[(Long, Long)]): (Long, Long, Long) = synchronized {
    val in = seen.filter { case (t, _, _, _) => ops.exists { case (s, e) => t >= s && t <= e } }
    (in.map(_._2).sum, in.map(_._3).sum, in.map(_._4).sum)
  }
}

/** Progress of every micro-batch that read input. */
final class StreamListener extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    if (e.progress.numInputRows > 0) batches += e.progress
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The three listeners, registered together for the traced phase. */
final class Listeners(spark: SparkSession) {
  val exec = new ExecListener
  val plan = new PlanListener
  val stream = new StreamListener
  private val gcStart = Listeners.gcMs()
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(plan)
  spark.streams.addListener(stream)
  Listeners.heapPools.foreach(_.resetPeakUsage())

  /** Waits for the bus to deliver every event posted so far, then detaches. */
  def stop(): Unit = {
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plan)
    spark.streams.removeListener(stream)
  }

  def gcS: Double = (Listeners.gcMs() - gcStart) / 1e3

  /** Sum of the heap pools' peak use since the traced phase began. */
  def heapPeakMb: Double =
    Listeners.heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Listeners {
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
}
