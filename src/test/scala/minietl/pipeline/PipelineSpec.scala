package minietl.pipeline

import java.nio.file.Files

import minietl.SparkTestBase
import minietl.io.{Readers, Writers}
import minietl.schema.{ColumnSpec, TableSchema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("minietl-pipe").toString

  private def sample =
    (1 to 100).map(i => (i.toLong, ('A' + (i - 1) % 5).toChar.toString, 99L + i))
      .toDF("id", "category", "value")

  test("run executes source → transformers → sink and reports stats from the write action") {
    val dir = s"${tmp()}/out"
    var completed: Option[RunStats] = None
    val stats = new PipelineBuilder("t")
      .fromDataFrame(sample)
      .filter("value > 150")
      .select(Seq("id", "value"))
      .withOnComplete(s => completed = Some(s))
      .toParquet(dir)
      .build()
      .run(spark)
    assert(stats.rows === 49)
    assert(stats.errors === 0)
    assert(stats.rowsPerSecond > 0)
    assert(completed.contains(stats))
    assert(Readers.parquet(spark, dir).count() === 49)
  }

  test("builder covers the reference's fluent surface end-to-end over files") {
    val in = s"${tmp()}/in"
    val outDir = s"${tmp()}/out"
    Writers.csv(sample, in)
    val stats = new PipelineBuilder("files")
      .fromCsv(in)
      .cast(Map("value" -> "int64"))
      .expression("double_value = value * 2")
      .groupAgg(Seq("category"), Map("double_value" -> Seq("sum")))
      .sort(Seq("category"))
      .toCsv(outDir)
      .build()
      .run(spark)
    assert(stats.rows === 5)
    val back = Readers.csv(spark, outDir)
    assert(back.columns.toSeq === Seq("category", "double_value_sum"))
  }

  test("schema validator participates in the pipeline") {
    val schema = TableSchema(Seq(
      ColumnSpec("id", "int64"),
      ColumnSpec("value", "int64"),
      ColumnSpec("active", "boolean", default = Some(false))))
    val p = new PipelineBuilder("s").fromDataFrame(sample)
      .withSchema(schema).toNoop().build()
    val df = p.frame(spark)
    assert(df.columns.toSeq === Seq("id", "value", "active", "category"))
    assert(df.filter(col("active")).count() === 0)
  }

  test("errorMode Raise propagates; Log/Skip swallow and report") {
    val bad = new PipelineBuilder("bad")
      .fromSource(s => s.read.parquet("/nonexistent/path"))
      .toNoop()
    intercept[Exception](bad.build().run(spark))
    val logged = new PipelineBuilder("bad2")
      .fromSource(s => s.read.parquet("/nonexistent/path"))
      .withErrorMode(ErrorMode.Log)
      .toNoop()
      .build().run(spark)
    assert(logged.errors === 1 && logged.rows === 0)
  }

  test("pipeline without source or sink fails fast") {
    intercept[IllegalStateException](new Pipeline("empty").run(spark))
    intercept[IllegalStateException](
      new Pipeline("nosink").setSource(_ => sample).run(spark))
  }

  test("stage hooks fire in order with labels; errors carry their stage") {
    val seen = scala.collection.mutable.Buffer[(Int, String)]()
    new PipelineBuilder("hooks")
      .fromDataFrame(sample)
      .filter("value > 150")
      .rename(Map("category" -> "cat"))
      .select(Seq("id", "cat", "value"))
      .withOnStage(ctx => seen += (ctx.index -> ctx.label))
      .toNoop()
      .build().run(spark)
    assert(seen.toSeq === Seq(0 -> "filter", 1 -> "rename", 2 -> "select"))

    // a stage that fails to compose reports (index, label, error), then the
    // error-mode policy still applies: Log swallows into the stats
    seen.clear()
    var failed: Option[(Pipeline.StageContext, Throwable)] = None
    val stats = new PipelineBuilder("hooks2")
      .fromDataFrame(sample)
      .filter("value > 150")
      .select(Seq("no_such_column"), ignoreMissing = false)
      .withOnStage(ctx => seen += (ctx.index -> ctx.label))
      .withOnError((ctx, e) => failed = Some((ctx, e)))
      .withErrorMode(ErrorMode.Log)
      .toNoop()
      .build().run(spark)
    assert(stats.errors === 1)
    assert(seen.toSeq === Seq(0 -> "filter", 1 -> "select")) // both reached
    assert(failed.exists { case (ctx, _) => ctx.index === 1 && ctx.label === "select" })
    // and with Raise the same failure propagates after the callback
    failed = None
    intercept[Exception] {
      new PipelineBuilder("hooks3")
        .fromDataFrame(sample)
        .select(Seq("no_such_column"), ignoreMissing = false)
        .withOnError((ctx, e) => failed = Some((ctx, e)))
        .toNoop()
        .build().run(spark)
    }
    assert(failed.exists(_._1.index === 0))
  }

  test("exec-metrics listener delivers the sink action's QueryExecution") {
    val got = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long](1)
    new PipelineBuilder("metrics")
      .fromDataFrame(sample)
      .filter("value > 150")
      .withOnExecMetrics((qe, durNs) => { qe.executedPlan; got.offer(durNs); () })
      .toNoop()
      .build().run(spark)
    // listener delivery is async on the listener bus
    val dur = got.poll(10, java.util.concurrent.TimeUnit.SECONDS)
    assert(dur != null && dur > 0)
  }

  test("copy preserves stages; clear resets") {
    val b = new Pipeline("c").setSource(_ => sample).setSink(df => { df.count(); () })
    assert(b.copy().run(spark).rows === 100)
    intercept[IllegalStateException](b.clear().run(spark))
  }

  // ------------------------------------------------ run-scoped stage inputs

  private def corpus =
    (1 to 60).map { i =>
      (i.toLong, Seq("web", "books", "code")((i - 1) % 3),
        (1 to 12).map(j => s"w${(i * j) % 17}").mkString(" "))
    }.toDF("doc_id", "source", "text")

  /** A stage that bumps `acc` once per row it evaluates. */
  private def counted(acc: LongAccumulator): DataFrame => DataFrame = {
    val bump = udf { (_: Long) => acc.add(1); true }.asNondeterministic()
    df => df.filter(bump(col("doc_id")))
  }

  /** The YAML `lm_surprise` stage: eager bigram-surprise scores joined back. */
  private val lmSurprise: DataFrame => DataFrame = df =>
    df.join(minietl.text.LmScore.bigramSurpriseEager(df, "doc_id", "text"),
      Seq("doc_id"), "left")

  private def eagerPipeline(name: String, src: DataFrame, acc: LongAccumulator): PipelineBuilder =
    new PipelineBuilder(name)
      .fromDataFrame(src)
      .add(counted(acc), "count_rows")
      .add(lmSurprise, "lm_surprise")
      .temperatureSample("doc_id", "source", 0.8)

  private def cacheState = (spark.sharedState.cacheManager.isEmpty,
    spark.sparkContext.getPersistentRDDs.keySet)

  test("a run evaluates each upstream row once across the eager stages and the sink") {
    val acc = spark.sparkContext.longAccumulator("rows_evaluated")
    val p = eagerPipeline("once", corpus, acc).toNoop().build()
    val stats = p.run(spark)
    // lm_surprise's checkpoint job and temperature_sample's fraction job
    // read the cached stage inputs, and so does the sink
    assert(acc.value === 60L)
    // the same rows as the uncached composition
    assert(stats.rows === p.frame(spark).count())
    assert(stats.rows > 0 && stats.rows < 60)
  }

  test("a run leaves the CacheManager and persistent RDDs as it found them, also on failure") {
    spark.catalog.clearCache() // isolate from earlier suites in this JVM
    val before = cacheState
    assert(before._1)
    val acc = spark.sparkContext.longAccumulator
    eagerPipeline("ok", corpus, acc).toNoop().build().run(spark)
    assert(cacheState === before)

    val failingSink: DataFrame => Unit = df => { df.count(); throw new IllegalStateException("sink down") }
    intercept[IllegalStateException](
      eagerPipeline("raise", corpus, acc).toSink(failingSink).build().run(spark))
    assert(cacheState === before)

    // a stage that throws after an eager stage kept its input
    intercept[IllegalStateException](
      eagerPipeline("stage", corpus, acc)
        .add((_: DataFrame) => throw new IllegalStateException("stage down"), "boom")
        .toNoop().build().run(spark))
    assert(cacheState === before)

    val logged = eagerPipeline("log", corpus, acc).toSink(failingSink)
      .withErrorMode(ErrorMode.Log).build().run(spark)
    assert(logged.errors === 1)
    assert(cacheState === before)
  }

  test("frame outside a run persists nothing") {
    spark.catalog.clearCache()
    val before = cacheState
    val f = new PipelineBuilder("embed")
      .fromDataFrame(corpus)
      .add(df => { df.count(); df }, "eager")
      .temperatureSample("doc_id", "source", 0.8)
      .build().frame(spark)
    assert(cacheState === before)
    assert(f.count() > 0)
    assert(cacheState === before)
  }

  test("a caller's localCheckpointed source stays readable after a run") {
    val src = corpus.localCheckpoint()
    val expected = src.collect().toSet
    // minhash_dedup registers a persisted signature frame whose plan reads
    // src; lm_surprise keeps its cached input, also over src
    new PipelineBuilder("lc")
      .fromDataFrame(src)
      .add(df => minietl.dedup.Dedup.minhashDedup(df, "text", "doc_id"), "minhash_dedup")
      .add(lmSurprise, "lm_surprise")
      .toNoop().build().run(spark)
    assert(src.collect().toSet === expected)
  }
}
