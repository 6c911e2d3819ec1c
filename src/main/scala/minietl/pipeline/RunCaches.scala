package minietl.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

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
  * loops open one per micro-batch. Three kinds of frame join it:
  *
  *  - '''Checkpointed frames''' ([[checkpoint]]): eager local checkpoints.
  *  - '''Fan-out frames''' ([[cacheForRun]]): a DAG node read by several
  *    downstream nodes is cached once for all of them.
  *  - '''Registered frames''' ([[register]]): operators that still
  *    `persist()` an intermediate (their sites are listed in
  *    `MaterializationSitesSpec`) have no after-run hook of their own.
  *
  * At the end of the scope every frame is released once, whether the run
  * completed or threw, so a run leaves zero cache pins behind. A frame held
  * in the CacheManager is released with `Dataset.unpersist` only; its plan's
  * leaves are its inputs, not its data, and a caller's `localCheckpoint`ed
  * source among them stays readable. A checkpointed frame's data is the RDD
  * at the root of its plan, which is unpersisted once.
  *
  * With no scope open — library callers composing frames, `Pipeline.frame`
  * for embedding, micro-batches of a plain streaming sink — [[checkpoint]]
  * is a plain eager local checkpoint, which the ContextCleaner frees once
  * the frame is unreachable; [[cacheForRun]] and [[register]] do nothing.
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

  /** Track a cached/checkpointed frame for release at the end of the
    * current run scope; no-op when no scope is open.
    */
  def register(df: DataFrame): Unit = scopes.get() match {
    case head :: _ => head += df; ()
    case Nil => ()
  }

  /** `df` computed once: an eager `localCheckpoint`, registered with the
    * innermost scope. Adaptive execution sizes the checkpoint's final stage
    * from its data (one partition for a small frame), its consumers plan
    * over a leaf that carries the stored rows, and no CacheManager entry is
    * made. A frame that already is a checkpoint is returned as it is.
    */
  def checkpoint(df: DataFrame): DataFrame =
    if (storedRdd(df).nonEmpty) df
    else {
      val stored = df.localCheckpoint()
      register(stored)
      stored
    }

  /** Cache `df` for the rest of the run scope (a frame read by several
    * consumers). Outside a scope, or when `df` is already materialized,
    * `df` is returned untouched.
    */
  def cacheForRun(df: DataFrame): DataFrame = scopes.get() match {
    case head :: _ if df.storageLevel == StorageLevel.NONE && storedRdd(df).isEmpty =>
      head += df.persist(); df
    case _ => df
  }

  /** Run `body` with a fresh registry scope; every frame tracked during it
    * is released afterward (blocking=false — the executors drop the blocks
    * asynchronously), whether the body completed or threw. Newest first:
    * unpersisting an entry makes Spark re-plan every unfilled entry built
    * on it, and the newer entries are the ones built on the older.
    */
  def scoped[T](body: => T): T = {
    val buf = scala.collection.mutable.Buffer.empty[DataFrame]
    scopes.set(buf :: scopes.get())
    try body
    finally {
      scopes.set(scopes.get().tail)
      buf.reverseIterator.foreach(f => try releaseNow(f) catch { case _: Throwable => () })
    }
  }

  /** Release a frame's storage now: `Dataset.unpersist` for a frame held in
    * the CacheManager; for a checkpointed frame (its data lives as a
    * persisted RDD in the `LogicalRDD` at its plan root, invisible to the
    * CacheManager) that RDD, unless it is already released, and without
    * the lineage warning `RDD.unpersist` logs for a local checkpoint.
    * Public for kernels that free a checkpoint before the scope ends (the
    * LM occurrence table) and for iterative operators that truncate
    * lineage with rolling localCheckpoints and must free the superseded
    * checkpoint's blocks themselves (the connected-components loop).
    */
  def releaseNow(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) { df.unpersist(); () }
    else storedRdd(df).foreach(org.apache.spark.minietl.RddRelease.release)

  /** The stored RDD at the root of a checkpointed frame's plan, if any. */
  private def storedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.sparkContext.getPersistentRDDs.contains(lr.rdd.id) =>
        Some(lr.rdd)
      case _ => None
    }
}
