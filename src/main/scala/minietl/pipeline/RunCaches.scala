package minietl.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Run-scoped registry for the frames a run materializes, released when the
  * run ends, and the one way a kernel materializes a frame it re-reads.
  *
  * The rule: a kernel that reads a frame more than once — in several jobs
  * of its own, or once in its own job and again in the plan it returns —
  * materializes that frame with [[checkpoint]] when it is called. Stage
  * inputs are never persisted on the kernels' behalf: a pipeline applies
  * each stage closure to its input as it is, so a chain of lazy stages
  * stays one fused plan, and a stage that runs jobs plans them over the
  * small leaf its kernel checkpointed instead of over every upstream
  * stage. A checkpoint is a leaf; a cache is a CacheManager entry matched
  * by plan (Spark SQL, SIGMOD 2015), so an unfilled entry is planned again
  * at each use, and adaptive execution runs a fill job for each cached
  * read it plans before the fill is done.
  *
  * The run paths — `Pipeline.run` (what a YAML config runs) and `Dag.run` —
  * open a scope for the duration of the run, and the streaming ingest-dedup
  * loops open one per micro-batch. Every frame a kernel checkpoints inside
  * a scope joins it, and at the end of the scope each is released once,
  * whether the run completed or threw, so a run leaves zero pins behind.
  * A checkpointed frame's data is the RDD at the root of its plan, which is
  * unpersisted once; a caller's own `localCheckpoint`ed source among a
  * kernel's inputs is never touched.
  *
  * With no scope open — library callers composing frames, `Pipeline.frame`
  * for embedding, micro-batches of a plain streaming sink — [[checkpoint]]
  * is a plain eager local checkpoint, which the ContextCleaner frees once
  * the frame is unreachable. Nothing here makes a CacheManager entry.
  * ThreadLocal because a run composes and executes on one driver thread (a
  * micro-batch on its stream's thread); scopes nest innermost-wins (an
  * embedded `run` inside a stage releases its own frames when it finishes,
  * so embedding composes via `Pipeline.frame`). Streaming stage closures
  * are applied once to the unbounded frame, where no scope is open, by
  * design: the streamable stage set is scan-side stateless and never
  * checkpoints.
  */
object RunCaches {

  private val scopes = new ThreadLocal[List[scala.collection.mutable.Buffer[DataFrame]]] {
    override def initialValue(): List[scala.collection.mutable.Buffer[DataFrame]] = Nil
  }

  /** Track a frame the caller checkpointed itself for release at the end
    * of the current run scope; no-op when no scope is open. Kernels call
    * [[checkpoint]], which registers for them; this is for harnesses that
    * checkpoint stage outputs themselves (the benchmark's per-stage
    * breakdown).
    */
  def register(df: DataFrame): Unit = scopes.get() match {
    case head :: _ => head += df; ()
    case Nil => ()
  }

  /** `df` computed once: an eager `localCheckpoint`, registered with the
    * innermost scope. Adaptive execution sizes the checkpoint's final stage
    * from its data (one partition for a small frame), its consumers plan
    * over a leaf that carries the stored rows, and no CacheManager entry is
    * made. A frame that already is a checkpoint is returned as it is. A
    * frame hash-partitioned by `repartition(n, cols)` keeps that
    * partitioning, so a join or aggregate on `cols` reads the checkpoint
    * without an exchange (the local checkpoint alone records none under
    * adaptive execution).
    */
  def checkpoint(df: DataFrame): DataFrame =
    if (storedRdd(df).nonEmpty) df
    else {
      val stored = keepPartitioning(df, df.localCheckpoint())
      register(stored)
      stored
    }

  /** `stored` declaring the hash partitioning of the `repartition(n, cols)`
    * at `df`'s root, when its rows are laid out in those `n` partitions.
    */
  private def keepPartitioning(df: DataFrame, stored: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case r: RepartitionByExpression if r.optNumPartitions.nonEmpty => r.partitioning match {
        case h: HashPartitioning if storedRdd(stored).exists(_.getNumPartitions == h.numPartitions) =>
          org.apache.spark.sql.minietl.CheckpointBridge.withPartitioning(stored, h)
        case _ => stored
      }
      case _ => stored
    }

  /** Run `body` with a fresh registry scope; every frame tracked during it
    * is released afterward (blocking=false — the executors drop the blocks
    * asynchronously), whether the body completed or threw.
    */
  def scoped[T](body: => T): T = {
    val buf = scala.collection.mutable.Buffer.empty[DataFrame]
    scopes.set(buf :: scopes.get())
    try body
    finally {
      scopes.set(scopes.get().tail)
      buf.foreach(f => try releaseNow(f) catch { case _: Throwable => () })
    }
  }

  /** Release a checkpointed frame's storage now: the persisted RDD in the
    * `LogicalRDD` at its plan root (invisible to the CacheManager), unless
    * it is already released, and without the lineage warning
    * `RDD.unpersist` logs for a local checkpoint. Any other frame is left
    * as it is. For kernels that free a checkpoint before the scope ends
    * (the LM occurrence table, k-means training input, an empty SemDeDup
    * round) and for iterative operators that truncate lineage with rolling
    * checkpoints and must free the superseded one's blocks themselves (the
    * connected-components loop).
    */
  def releaseNow(df: DataFrame): Unit =
    storedRdd(df).foreach(org.apache.spark.minietl.RddRelease.release)

  /** The stored RDD at the root of a checkpointed frame's plan, if any. */
  private def storedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.sparkContext.getPersistentRDDs.contains(lr.rdd.id) =>
        Some(lr.rdd)
      case _ => None
    }
}
