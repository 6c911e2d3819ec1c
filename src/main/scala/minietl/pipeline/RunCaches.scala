package minietl.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Run-scoped registry for the frames a run caches or checkpoints, released
  * when the run ends.
  *
  * The run paths — `Pipeline.run` (what a YAML config runs) and `Dag.run` —
  * open a scope for the duration of the run, and the streaming ingest-dedup
  * loops open one per micro-batch. Three kinds of frame join it:
  *
  *  - '''Stage inputs''' ([[stage]]). Stage closures that run an eager job
  *    while the pipeline is built (minhash/span dedup, LM surprise scores,
  *    temperature fractions) would otherwise recompute every upstream stage
  *    from the scan once per job, and the sink action once more. So each
  *    stage's input is `persist()`ed lazily before its closure runs. When
  *    the closure returns, the cache is kept only if the closure's own jobs
  *    filled it; later eager jobs and the sink then read it by plan
  *    matching, the cached-relation substitution of Spark SQL (SIGMOD
  *    2015). A closure that ran no job (a plain projection or filter) has
  *    stored nothing, and its input is unpersisted on the spot, so a lazy
  *    chain stays one fused plan.
  *  - '''Fan-out frames''' ([[cacheForRun]]): a DAG node read by several
  *    downstream nodes is cached once for all of them.
  *  - '''Registered frames''' ([[register]]): eager primitives that must
  *    materialize an intermediate (`Similarity.semanticDecontaminateEager`'s
  *    flagged ids, `LmScore.bigramSurpriseEager`'s scores, operator-internal
  *    persists) have no after-run hook of their own.
  *
  * At the end of the scope every frame is released once, whether the run
  * completed or threw, so a run leaves zero cache pins behind. A frame held
  * in the CacheManager is released with `Dataset.unpersist` only; its plan's
  * leaves are its inputs, not its data, and a caller's `localCheckpoint`ed
  * source among them stays readable. A checkpointed frame's data is the RDD
  * at the root of its plan, which is unpersisted once.
  *
  * With no scope open — library callers composing frames, `Pipeline.frame`
  * for embedding, micro-batches of a plain streaming sink — nothing here
  * persists anything and [[register]] is a no-op; callers manage their own
  * caches. ThreadLocal because a run composes and executes on one driver
  * thread (a micro-batch on its stream's thread); scopes nest
  * innermost-wins (an embedded `run` inside a stage releases its own
  * frames when it finishes, so embedding composes via `Pipeline.frame`).
  * Streaming stage closures are applied once to the unbounded frame, where
  * no scope is open, by design: the streamable stage set is scan-side
  * stateless and never checkpoints.
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

  /** Cache `df` for the rest of the run scope (a frame read by several
    * consumers). Outside a scope, or when `df` is already materialized,
    * `df` is returned untouched.
    */
  def cacheForRun(df: DataFrame): DataFrame = scopes.get() match {
    case head :: _ if !materialized(df) => head += df.persist(); df
    case _ => df
  }

  /** Apply a stage closure to its input. Inside a scope the input is
    * persisted first and kept for the run only if the closure's own jobs
    * filled the cache; otherwise it is unpersisted before `stage` returns
    * (also when the closure throws). Outside a scope this is `body(input)`.
    */
  def stage(input: DataFrame)(body: DataFrame => DataFrame): DataFrame = scopes.get() match {
    case head :: _ if !materialized(input) =>
      input.persist()
      val out =
        try body(input)
        catch { case e: Throwable => input.unpersist(); throw e }
      if (filled(input)) head += input else input.unpersist()
      out
    case _ => body(input)
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
    * Public for iterative operators that truncate lineage with rolling
    * localCheckpoints and must free the superseded checkpoint's blocks
    * themselves (the connected-components loop).
    */
  def releaseNow(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) { df.unpersist(); () }
    else checkpoint(df).foreach(org.apache.spark.minietl.RddRelease.release)

  /** The stored RDD at the root of a checkpointed frame's plan, if any. */
  private def checkpoint(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.sparkContext.getPersistentRDDs.contains(lr.rdd.id) =>
        Some(lr.rdd)
      case _ => None
    }

  /** Already cached or checkpointed: caching it again would only copy it. */
  private def materialized(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE || checkpoint(df).nonEmpty

  /** Every partition of `df`'s cache entry is stored. */
  private def filled(df: DataFrame): Boolean =
    df.sparkSession.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
}
