package minietl.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import minietl.schema.SchemaValidator

/** Run statistics, mirroring the reference's stats dict
  * (reference: mini_etl/core/pipeline.py:146-153 — rows, errors, duration,
  * rows_per_second; "chunks" has no Spark analog and is omitted).
  */
final case class RunStats(
    rows: Long,
    durationSec: Double,
    rowsPerSecond: Double,
    errors: Long) {
  def asMap: Map[String, Any] = Map(
    "rows" -> rows, "duration" -> durationSec,
    "rows_per_second" -> rowsPerSecond, "errors" -> errors)
}

/** Error handling for `Pipeline.run` (reference: core/pipeline.py:44,180-191).
  * The reference's `skip` drops the failing CHUNK and continues — chunks do
  * not exist in Spark, so `Skip` here (like `Log`) swallows the failure and
  * reports it in `RunStats.errors`; record-level skipping belongs to the
  * reader (`mode=PERMISSIVE` / `badRecordsPath`), see SURVEY §7.6.
  */
sealed trait ErrorMode
object ErrorMode {
  case object Raise extends ErrorMode
  case object Log extends ErrorMode
  case object Skip extends ErrorMode
}

/** A linear source → transformers → sink pipeline over one DataFrame
  * (reference: mini_etl/core/pipeline.py:19-278). Lazy by construction,
  * like the reference's generator chain — except the "chunk stream" is a
  * partitioned DataFrame: a chain of lazy stages is one Catalyst plan
  * (fused by codegen, optimized globally) that the sink's write action
  * pulls.
  *
  * Some stages run a Spark job while the pipeline is built (dedup stages,
  * LM surprise scores, temperature-sample fractions). Inside [[run]], each
  * stage's input is cached lazily and kept for the run only when the
  * stage's own jobs filled it (the rule is in [[RunCaches.stage]]), so those
  * jobs and the sink read the upstream stages once instead of recomputing
  * them from the scan per job; the lazy stages between two kept inputs
  * still fuse into one plan. [[frame]] outside a run persists nothing.
  *
  * Row counting uses `Dataset.observe`: the count is collected as a metric
  * of the sink's own action — no second pass over the data, which matters
  * when the pipeline reads 100 TB.
  */
final class Pipeline private (
    name: String,
    source: Option[SparkSession => DataFrame],
    transformers: Vector[(String, DataFrame => DataFrame)],
    sink: Option[DataFrame => Unit],
    validator: Option[SchemaValidator],
    errorMode: ErrorMode,
    onComplete: Option[RunStats => Unit],
    onStage: Option[Pipeline.StageContext => Unit],
    onError: Option[(Pipeline.StageContext, Throwable) => Unit],
    onExecMetrics: Option[(org.apache.spark.sql.execution.QueryExecution, Long) => Unit]) {

  def this(name: String = "pipeline") =
    this(name, None, Vector.empty, None, None, ErrorMode.Raise, None, None, None, None)

  private def copied(
      source: Option[SparkSession => DataFrame] = source,
      transformers: Vector[(String, DataFrame => DataFrame)] = transformers,
      sink: Option[DataFrame => Unit] = sink,
      validator: Option[SchemaValidator] = validator,
      errorMode: ErrorMode = errorMode,
      onComplete: Option[RunStats => Unit] = onComplete,
      onStage: Option[Pipeline.StageContext => Unit] = onStage,
      onError: Option[(Pipeline.StageContext, Throwable) => Unit] = onError,
      onExecMetrics: Option[(org.apache.spark.sql.execution.QueryExecution, Long) => Unit] = onExecMetrics): Pipeline =
    new Pipeline(name, source, transformers, sink, validator, errorMode,
      onComplete, onStage, onError, onExecMetrics)

  def setSource(f: SparkSession => DataFrame): Pipeline = copied(source = Some(f))
  def addTransformer(f: DataFrame => DataFrame): Pipeline =
    addTransformer(f, s"stage_${transformers.size}")
  def addTransformer(f: DataFrame => DataFrame, label: String): Pipeline =
    copied(transformers = transformers :+ (label, f))
  def setSink(f: DataFrame => Unit): Pipeline = copied(sink = Some(f))
  def withValidator(v: SchemaValidator): Pipeline = copied(validator = Some(v))
  def withErrorMode(m: ErrorMode): Pipeline = copied(errorMode = m)
  def withOnComplete(f: RunStats => Unit): Pipeline = copied(onComplete = Some(f))

  /** Per-stage progress hook (reference: core/pipeline.py:85-98 progress
    * callbacks, honestly mapped): fires as each transformer's plan fragment
    * is COMPOSED, before the stage's closure runs. A lazy stage executes
    * later, fused into the next job that reads it; a stage that runs its
    * own jobs (dedup, LM scores, sampling fractions) executes them inside
    * the closure, on its cached input during [[run]]. Analysis-time
    * failures (bad column, bad expression) are attributed to their stage
    * via [[withOnError]].
    */
  def withOnStage(f: Pipeline.StageContext => Unit): Pipeline = copied(onStage = Some(f))

  /** Fires when a stage's plan fragment fails to compose (with that stage's
    * context) before the error-mode policy handles the failure.
    */
  def withOnError(f: (Pipeline.StageContext, Throwable) => Unit): Pipeline =
    copied(onError = Some(f))

  /** Executor-side metrics for the sink action, via a self-unregistering
    * QueryExecutionListener (the post-run analog of tqdm progress — delivery
    * is async on the listener bus, shortly after `run` returns). The
    * callback receives the completed QueryExecution (executedPlan metrics,
    * observed metrics) and the action duration in nanoseconds.
    */
  def withOnExecMetrics(
      f: (org.apache.spark.sql.execution.QueryExecution, Long) => Unit): Pipeline =
    copied(onExecMetrics = Some(f))

  /** Pipeline.copy (reference: core/pipeline.py:248-258). */
  def copy(): Pipeline = copied()

  /** Pipeline.clear (reference: core/pipeline.py:260-270). */
  def clear(): Pipeline = new Pipeline(name)

  /** The composed (lazy) frame, without running the sink — useful for tests
    * and for embedding a pipeline as a stage of a larger plan. Stage hooks
    * fire here, in order; a stage that fails to compose reports through
    * [[withOnError]] with its context, then rethrows for the error-mode
    * policy in [[run]]. Inside a run scope each stage's input goes through
    * [[RunCaches.stage]]; outside one nothing is persisted.
    */
  def frame(spark: SparkSession): DataFrame = {
    val src = source.getOrElse(throw new IllegalStateException("pipeline has no source"))(spark)
    val transformed = transformers.zipWithIndex.foldLeft(src) {
      case (df, ((label, t), i)) =>
        val ctx = Pipeline.StageContext(i, label)
        onStage.foreach(_(ctx))
        try RunCaches.stage(df)(t)
        catch {
          case e: Throwable => onError.foreach(_(ctx, e)); throw e
        }
    }
    validator.fold(transformed)(v => v(transformed))
  }

  /** Execute: one write action; stats observed from that same action. */
  def run(spark: SparkSession): RunStats = {
    val out = sink.getOrElse(throw new IllegalStateException("pipeline has no sink"))
    val t0 = System.nanoTime()
    def finish(rows: Long, errors: Long): RunStats = {
      val dur = (System.nanoTime() - t0) / 1e9
      val stats = RunStats(rows, dur, if (dur > 0) rows / dur else 0.0, errors)
      onComplete.foreach(_(stats))
      stats
    }
    onExecMetrics.foreach { cb =>
      val lm = spark.listenerManager
      lm.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit = { lm.unregister(this); cb(qe, durationNs) }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = lm.unregister(this)
      })
    }
    // run scope: kept stage inputs and the intermediates stage closures
    // checkpoint (semantic_decontaminate's flagged ids, lm_surprise's
    // scores) are released here once the sink action has consumed the data,
    // so a config-driven run leaves no session-lifetime cache pins
    RunCaches.scoped {
      try {
        val obs = Observation(s"${name}_${java.util.UUID.randomUUID().toString.take(8)}")
        val observed = frame(spark).observe(obs, count(lit(1)).as("rows"))
        out(observed)
        finish(obs.get("rows").asInstanceOf[Long], errors = 0L)
      } catch {
        case e: Throwable => errorMode match {
          case ErrorMode.Raise => throw e
          case _ =>
            System.err.println(s"[pipeline:$name] error (${errorMode}): ${e.getMessage}")
            finish(rows = 0L, errors = 1L)
        }
      }
    }
  }
}

object Pipeline {
  /** Identifies a transformer stage to the progress/error hooks. */
  final case class StageContext(index: Int, label: String)
}
