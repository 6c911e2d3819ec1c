package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import minietl.config.Config
import minietl.pipeline.RunCaches

/** Settings every workload sees. `smoke` shrinks inputs for the benchmark's
  * own tests; `replicas` overrides the corpus replica count.
  */
final case class Ctx(spark: SparkSession, root: Path, work: Path, seed: Long,
                     smoke: Boolean, replicas: Option[Int]) {
  def dataDir: Path = root.resolve("perfbench").resolve("data")
  def example(name: String): String =
    new String(Files.readAllBytes(root.resolve("examples").resolve(name)), "UTF-8")
}

/** What one measured phase of closed-loop operations produced. */
final class Phase {
  /** Latency in seconds of each operation that succeeded and passed its checks. */
  val samples = mutable.ArrayBuffer.empty[Double]
  var attempted, failed = 0L
  /** Wall interval (epoch ms) of each timed call, output checks excluded;
    * one call may hold several operations (a drain holds micro-batches).
    */
  val calls = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Input items (documents, rows, queries) of the successful operations. */
  var items = 0L
  /** On-disk bytes of the input the operations read. */
  var inputBytes = 0L
  var wallS = 0.0

  /** CPU seconds the JVM spent on each operation that succeeded. */
  val cpuSamples = mutable.ArrayBuffer.empty[Double]
  /** CPU seconds the JVM spent in each timed call. */
  val callCpuS = mutable.ArrayBuffer.empty[Double]

  /** Runs `body`, records its wall interval and CPU time and returns its seconds. */
  def call(body: => Any): Double = {
    val c0 = System.currentTimeMillis()
    val cpu0 = Phase.cpuS()
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    callCpuS += Phase.cpuS() - cpu0
    calls += ((c0, System.currentTimeMillis()))
    s
  }
}

object Phase {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by every thread of this JVM so far. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9
}

/** One benchmark workload. The runner calls `setup` once, then `measure`
  * for each phase; `layers` reads the per-layer metrics of a traced phase.
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Generates inputs and warms up. */
  def setup(): Unit
  /** Runs operations back to back, one at a time, until `budgetS` has passed. */
  def measure(budgetS: Double, spans: Spans): Phase
  /** The workload's end-to-end metrics under its own names, with sample counts. */
  def named(ph: Phase): Seq[(String, Metric)]
  /** Per-layer metrics, with units, that only this workload reports. */
  def extraLayerUnits: Seq[(String, String)] = Nil
  /** Per-layer metrics only this workload produces, after a traced phase. */
  def layers(ph: Phase, e: ExecCounters, stream: StreamListener): Seq[(String, Double)]
  /** Work done once after the traced phase, with spans but no listeners. */
  def breakdown(spans: Spans): Unit = ()
  /** Input sizes and other evidence for the report. */
  def provenance: Seq[(String, Any)]

  /** Times `op`; a throw or a failed check counts as a failure with no sample. */
  protected def attempt(ph: Phase, n: Long, items: Long)(op: => Seq[Double]): Unit = {
    ph.attempted += n
    try {
      val k = ph.callCpuS.size
      val lat = op
      ph.samples ++= lat
      ph.cpuSamples ++= Seq.fill(n.toInt)(ph.callCpuS.drop(k).sum / n)
      ph.items += items
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] operation failed: $e")
        ph.failed += n
    }
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "curate_batch" => new CurateBatch(ctx)
    case "ingest_stream" => new IngestStream(ctx)
    case "query_mix" => new QueryMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => containsMap(a.elementType)
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** Order-independent full-row checksum: row count and the exact sum of
    * every row's xxhash64 over all columns in name order. A sum, unlike an
    * xor, still sees a duplicated row. Map columns go through `to_json`
    * because xxhash64 rejects maps.
    */
  def checksum(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      if (containsMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"output check failed: $what")

  /** Waits, at most `maxS`, until the JIT compiler has been idle for half a
    * second, so compilations queued during warm-up do not spill their CPU
    * time into the first timed operations.
    */
  def settleJit(maxS: Double = 5): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = -1L
    while (jit.getTotalCompilationTime != last && (System.nanoTime() - t0) / 1e9 < maxS) {
      last = jit.getTotalCompilationTime
      Thread.sleep(500)
    }
  }
}

/** The committed training-data YAML through `Config.load(...).run(spark)`,
  * job after job, on a seeded corpus.
  */
final class CurateBatch(ctx: Ctx) extends Workload(ctx) {
  import Workload.check

  private val baseDocs = if (ctx.smoke) 60 else CurateBatch.BaseDocs
  private val replicas = ctx.replicas.getOrElse(if (ctx.smoke) 1 else CurateBatch.Replicas)
  private val corpusDir = ctx.work.resolve("corpus")
  private val outDir = ctx.work.resolve("out")
  private val sinkDir = outDir.resolve("cleaned")
  private val yaml = ctx.example("training_data_pipeline.yaml")
  private val env = Map("CORPUS_DIR" -> corpusDir.toString, "OUT_DIR" -> outDir.toString)
  private var corpusDocs = 0L
  private var corpusIds: DataFrame = _
  private var lastSink: (Long, String) = (0L, "")
  private val stageRows = mutable.LinkedHashMap.empty[String, Long]

  /** No warm-up: an untraced run times the JVM's first job, which is what
    * `minietl run` pays on every call.
    */
  def setup(): Unit = {
    corpusDocs = Inputs.writeCorpus(spark, ctx.dataDir, corpusDir, ctx.seed, baseDocs, replicas)
    corpusIds = spark.read.parquet(corpusDir.resolve("documents.parquet").toString)
      .select("doc_id").localCheckpoint()
    Main.log(s"corpus written: $corpusDocs docs")
  }

  /** Sink checks: unique ids drawn from the corpus, pinned rows and checksum
    * for the pinned corpora.
    */
  private def checkSink(): Unit = {
    val sink = spark.read.parquet(sinkDir.toString)
    val rows = sink.count()
    check(rows > 0 && rows <= corpusDocs, s"sink rows $rows of $corpusDocs input docs")
    check(sink.select("doc_id").distinct().count() == rows, "sink doc_ids are not unique")
    check(sink.select("doc_id").join(corpusIds, Seq("doc_id"), "left_anti").isEmpty,
      "sink doc_ids not in the input corpus")
    val sum = Workload.checksum(sink)
    CurateBatch.pinned.get((ctx.seed, baseDocs, replicas)).foreach { want =>
      check(sum == want, s"sink checksum $sum, pinned $want")
    }
    lastSink = (rows, sum)
  }

  /** One job whatever the budget, so a warm second job never shares a
    * median with the cold first one. A cold job outlasts the budget anyway.
    */
  def measure(budgetS: Double, spans: Spans): Phase = {
    val ph = new Phase
    ph.inputBytes = Inputs.treeBytes(corpusDir.resolve("documents.parquet"))
    attempt(ph, 1, corpusDocs) {
      ph.wallS = ph.call(spans("op.job")(if (spans.enabled) tracedJob(spans) else untracedJob()))
      checkSink()
      Seq(ph.wallS)
    }
    ph
  }

  /** Exactly what `minietl run` does for this config. */
  private def untracedJob(): Unit = { Config.load(yaml, env).run(spark); () }

  /** The same work through the same public calls, split so each call is a
    * span: parse, validate and build (config), then compose the frame and
    * run the sink action (pipeline). Eager stage checkpoints happen while
    * composing; the outer run scope releases them as `run` does.
    */
  private def tracedJob(spans: Spans): Unit = {
    val cfg = spans("config.parse")(Config.parse(yaml, env))
    val errs = spans("config.validate")(Config.validate(cfg))
    require(errs.isEmpty, errs.mkString("; "))
    val pipeline = spans("config.build")(Config.build(cfg))
    val sinkOnly = spans("config.build")(Config.build(cfg.copy(transformers = Nil)))
    RunCaches.scoped {
      val frame = spans("pipeline.compose")(pipeline.frame(spark))
      spans("pipeline.sink_action")(sinkOnly.setSource(_ => frame).run(spark))
    }
    ()
  }

  /** Per-stage cost: each YAML stage composed on the materialized output of
    * the stage before and forced by materializing its own output; then the
    * sink written from the last stage's output. Stage 1 includes the scan.
    */
  override def breakdown(spans: Spans): Unit = spans("stage.breakdown") {
    val cfg = Config.parse(yaml, env)
    RunCaches.scoped {
      val last = cfg.transformers.foldLeft(Config.build(cfg.copy(transformers = Nil)).frame(spark)) {
        (prev, t) =>
          val stage = Config.build(cfg.copy(transformers = Seq(t))).setSource(_ => prev)
          val out = spans(s"${CurateBatch.layerOf(t.typ)}.${t.typ}") {
            stage.frame(spark).localCheckpoint(eager = true)
          }
          RunCaches.register(out)
          stageRows(t.typ) = out.count()
          out
      }
      val sink = Config.build(cfg.copy(transformers = Nil)).setSource(_ => last)
      spans("io.sink")(sink.run(spark))
    }
    ()
  }

  def named(ph: Phase): Seq[(String, Metric)] = {
    val n = ph.samples.size
    val p50 = Report.median(ph.samples.toSeq)
    Seq("job_s_p50" -> Metric(p50, "s", n),
      "job_s_p90" -> Metric(Report.percentile(ph.samples.toSeq, 0.9), "s", n),
      "docs_per_s" -> Metric(corpusDocs / p50, "docs/s", n))
  }

  def layers(ph: Phase, e: ExecCounters, stream: StreamListener): Seq[(String, Double)] = {
    Seq("io.sink_files" -> Inputs.dataFiles(sinkDir).toDouble,
      "io.write_amp" -> e.sinkB / ph.inputBytes.toDouble) ++
      stageRows.map { case (t, rows) => s"stage.$t.rows_out" -> rows.toDouble }
  }

  def provenance: Seq[(String, Any)] = Seq(
    "corpus_docs" -> corpusDocs, "base_docs" -> baseDocs, "replicas" -> replicas,
    "corpus_bytes" -> Inputs.treeBytes(corpusDir.resolve("documents.parquet")),
    "sink_rows" -> lastSink._1, "sink_checksum" -> lastSink._2)
}

object CurateBatch {
  val BaseDocs = 500
  val Replicas = 2

  /** The eleven stages of examples/training_data_pipeline.yaml, in order. */
  val stageTypes: Seq[String] = Seq("normalize_text", "squeeze_repeats", "dedup_lines",
    "exact_dedup", "minhash_dedup", "span_dedup", "gopher_filter", "lm_surprise", "filter",
    "contamination_filter", "temperature_sample")

  /** Program module that implements each stage, used as its span's layer. */
  def layerOf(typ: String): String = typ match {
    case "exact_dedup" | "minhash_dedup" | "span_dedup" => "dedup"
    case "filter" | "temperature_sample" => "ops"
    case _ => "text"
  }

  /** Sink "rows:checksum" by (seed, base docs, replicas). */
  val pinned: Map[(Long, Int, Int), String] = Map(
    (1L, 500, 2) -> "284:-87401130061856897478",
    (1L, 60, 1) -> "22:4403508001369790295",
    (1L, 60, 2) -> "27:6873971219693813348")
}

/** The committed ingest-dedup stream YAML through `Config.loadStream`, one
  * parquet file per micro-batch, drained again each time new files land.
  */
final class IngestStream(ctx: Ctx) extends Workload(ctx) {
  import Workload.check

  private val files = if (ctx.smoke) 8 else IngestStream.Files
  private val perDrain = if (ctx.smoke) 2 else IngestStream.FilesPerDrain
  private val warmFiles = if (ctx.smoke) 1 else IngestStream.WarmFiles
  private val freshPerFile = if (ctx.smoke) 20 else IngestStream.FreshPerFile
  private val holding = ctx.work.resolve("staged")
  private val inDir = ctx.work.resolve("in")
  private val outDir = ctx.work.resolve("out")
  private val digestDir = outDir.resolve("digest")
  private val sinkDir = outDir.resolve("corpus")
  private val yaml = ctx.example("stream_ingest_dedup.yaml")
  private val env = Map("DOCS_DIR" -> inDir.toString, "OUT_DIR" -> outDir.toString)
  private var fileRows: IndexedSeq[Long] = IndexedSeq.empty
  private var nextFile = 0
  private var mtime = 0L
  private val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  private var drains = 0

  def setup(): Unit = {
    Files.createDirectories(holding)
    Files.createDirectories(inDir)
    fileRows = Inputs.stageIngest(spark, ctx.dataDir, holding, ctx.seed, files, freshPerFile)
    Main.log(s"staged $files files")
    mtime = System.currentTimeMillis() - 3600L * 1000
    drain(Spans.off, warmFiles)
    Workload.settleJit()
  }

  private def load(spans: Spans): Config.StreamPipeline = {
    val cfg = spans("config.parse")(Config.parseStream(yaml, env))
    val src = cfg.source.copy(options = cfg.source.options +
      ("options" -> Map("maxFilesPerTrigger" -> "1")))
    spans("config.build")(Config.buildStream(cfg.copy(source = src)))
  }

  /** Lands the next files and drains them as `runAvailableNow` does, with
    * the query kept so its progress can be read and `afterDrain` timed
    * alone.
    */
  private def drain(spans: Spans, count: Int): Unit = {
    val take = math.min(count, files - nextFile)
    (nextFile until nextFile + take).foreach { f =>
      val dst = inDir.resolve(s"$f.parquet")
      Files.move(holding.resolve(s"$f.parquet"), dst)
      mtime += 1000
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
    }
    nextFile += take
    spans("op.drain") {
      val sp = load(spans)
      val q = spans("stream.run") {
        val q = sp.startWith(spark, Some(minietl.streaming.Streaming.availableNowTrigger))
        q.awaitTermination()
        q
      }
      spans("stream.after_drain")(sp.afterDrain.foreach(f => f(spark)))
      progress.clear()
      progress ++= q.recentProgress.filter(_.numInputRows > 0)
    }
    drains += 1
  }

  /** Admitted rows equal a batch `dropDuplicates` on text over every file
    * landed so far, and the digest holds one row per admitted document.
    */
  private def checkOutputs(): Unit = {
    val staged = spark.read.parquet(inDir.toString)
    val want = staged.select("text").dropDuplicates("text")
    val got = spark.read.parquet(sinkDir.toString).select("text")
    val (gotSum, wantSum) = (Workload.checksum(got), Workload.checksum(want))
    check(gotSum == wantSum, s"admitted texts $gotSum, dropDuplicates gives $wantSum")
    val admitted = gotSum.takeWhile(_ != ':').toLong
    val digest = spark.read.parquet(digestDir.toString).count()
    check(digest == admitted, s"digest holds $digest rows for $admitted admitted")
  }

  def measure(budgetS: Double, spans: Spans): Phase = {
    val ph = new Phase
    val t0 = System.nanoTime()
    while ((ph.attempted == 0 || (System.nanoTime() - t0) / 1e9 < budgetS) && nextFile < files) {
      val rows = fileRows.slice(nextFile, nextFile + perDrain).sum
      val n = math.min(perDrain, files - nextFile)
      ph.inputBytes += (nextFile until nextFile + n).map(f => Files.size(holding.resolve(s"$f.parquet"))).sum
      attempt(ph, n, rows) {
        ph.wallS += ph.call(drain(spans, n))
        checkOutputs()
        progress.map(_.durationMs.get("triggerExecution").toDouble / 1e3).toSeq
      }
    }
    if (ph.wallS == 0) ph.wallS = (System.nanoTime() - t0) / 1e9
    ph
  }

  def named(ph: Phase): Seq[(String, Metric)] = {
    val n = ph.samples.size
    Seq("microbatch_ms_p50" -> Metric(Report.median(ph.samples.toSeq) * 1e3, "ms", n),
      "microbatch_ms_p90" -> Metric(Report.percentile(ph.samples.toSeq, 0.9) * 1e3, "ms", n),
      "ingest_rows_per_s" -> Metric(ph.items / ph.wallS, "rows/s", n))
  }

  def layers(ph: Phase, e: ExecCounters, stream: StreamListener): Seq[(String, Double)] = {
    val batches = stream.synchronized(stream.batches.toList)
    def p50(keys: String*): Double =
      Report.median(batches.map(b => keys.map(k => Option(b.durationMs.get(k)).fold(0.0)(_.toDouble)).sum))
    val admitted = spark.read.parquet(sinkDir.toString).count()
    Seq(
      "stream.batches" -> batches.size.toDouble,
      "stream.add_batch_ms_p50" -> p50("addBatch"),
      "stream.plan_ms_p50" -> p50("queryPlanning"),
      "stream.offsets_ms_p50" -> p50("latestOffset", "getBatch"),
      "stream.commit_ms_p50" -> p50("walCommit", "commitOffsets"),
      "stream.jobs_per_batch" -> e.jobs.toDouble / math.max(1, batches.size),
      "stream.history_rows" -> spark.read.parquet(digestDir.toString).count().toDouble,
      "stream.admit_ratio" -> admitted / fileRows.take(nextFile).sum.toDouble,
      "io.sink_files" -> Inputs.dataFiles(sinkDir).toDouble / nextFile,
      "io.write_amp" -> e.sinkB / ph.inputBytes.toDouble)
  }

  def provenance: Seq[(String, Any)] = Seq(
    "staged_files" -> files, "files_per_drain" -> perDrain, "files_drained" -> nextFile,
    "drains" -> drains, "staged_rows" -> fileRows.sum,
    "staged_bytes" -> (Inputs.treeBytes(holding) + Inputs.treeBytes(inDir)))
}

object IngestStream {
  val Files = 48
  val FilesPerDrain = 8
  val WarmFiles = 12
  val FreshPerFile = 120
}

/** Twenty-four read-only queries from `graft.SparkEntry.queries` on the
  * committed sf0.01 tables, in a seeded order each round.
  */
final class QueryMix(ctx: Ctx) extends Workload(ctx) {
  private val names = if (ctx.smoke) QueryMix.names.take(3) else QueryMix.names
  private val dir = ctx.dataDir.resolve("sf0.01").toString
  private val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var rounds = 0

  def setup(): Unit = {
    names.foreach(run)
    Workload.settleJit()
  }

  private def run(name: String): String = {
    val sum = Workload.checksum(graft.SparkEntry.queries(name)(spark, dir))
    spark.catalog.clearCache()
    sum
  }

  def measure(budgetS: Double, spans: Spans): Phase = {
    val ph = new Phase
    val t0 = System.nanoTime()
    while (ph.attempted == 0 || (System.nanoTime() - t0) / 1e9 < budgetS) {
      val order = new scala.util.Random(ctx.seed * 7919 + rounds).shuffle(names)
      rounds += 1
      order.foreach { name =>
        attempt(ph, 1, 1) {
          var sum = ""
          val s = ph.call { sum = spans("op.query")(spans(s"query.$name")(run(name))) }
          Workload.check(QueryMix.pinned.get(name).contains(sum),
            s"$name checksum $sum, pinned ${QueryMix.pinned.get(name)}")
          if (!spans.enabled) perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
          Seq(s)
        }
      }
    }
    ph.wallS = (System.nanoTime() - t0) / 1e9
    ph
  }

  def named(ph: Phase): Seq[(String, Metric)] = {
    val n = ph.samples.size
    Seq("query_s_p50" -> Metric(Report.median(ph.samples.toSeq), "s", n),
      "query_s_p90" -> Metric(Report.percentile(ph.samples.toSeq, 0.9), "s", n),
      "queries_per_s" -> Metric(ph.samples.size / ph.wallS, "q/s", n))
  }

  override def extraLayerUnits: Seq[(String, String)] = QueryMix.names.map(q => s"query.$q.s_p50" -> "s")

  def layers(ph: Phase, e: ExecCounters, stream: StreamListener): Seq[(String, Double)] =
    perQuery.toSeq.map { case (q, xs) => s"query.$q.s_p50" -> Report.median(xs.toSeq) }

  def provenance: Seq[(String, Any)] = Seq(
    "queries" -> names.size, "rounds" -> rounds,
    "table_bytes" -> Inputs.treeBytes(ctx.dataDir.resolve("sf0.01")))
}

object QueryMix {
  val names: Seq[String] = Seq("q1_pricing_summary", "q5_nation_revenue", "q6_forecast_revenue",
    "q_join_multi", "q_join_outer", "q_window_rank", "q_rollup", "q_cube", "q_sessionize",
    "q_funnel", "q_cohort_retention", "q_events_daily", "q_group_agg", "q_having",
    "q_dedupe_first", "q_pivot", "q_percentile", "q_rolling_agg", "q_scd2", "q_upsert",
    "q_asof_join", "q_salted_join", "q_correlation", "q_filter_project")

  /** Checksum (rows:sum) of each query's result on the committed sf0.01 tables. */
  val pinned: Map[String, String] = Map(
    "q1_pricing_summary" -> "6:9591245048503777791",
    "q5_nation_revenue" -> "25:-3788008382998698894",
    "q6_forecast_revenue" -> "1:-6666082659059017496",
    "q_join_multi" -> "2905:-332091102282523558498",
    "q_join_outer" -> "15000:-784689242391121382688",
    "q_window_rank" -> "4492:-87336435922279916812",
    "q_rollup" -> "10:-1435838498389626115",
    "q_cube" -> "24:-32389581053111886090",
    "q_sessionize" -> "9549:39913639629122240194",
    "q_funnel" -> "150:86087427342443435746",
    "q_cohort_retention" -> "5:6642724697251590775",
    "q_events_daily" -> "150:-23112900352204070102",
    "q_group_agg" -> "5:14087554946437667729",
    "q_having" -> "461:98974493055196351782",
    "q_dedupe_first" -> "14743:-316117412178780322260",
    "q_pivot" -> "5:-15473843329843009786",
    "q_percentile" -> "3:8742884155946976362",
    "q_rolling_agg" -> "10000:-683213083591982026593",
    "q_scd2" -> "8016:342051622240631197089",
    "q_upsert" -> "539:-212496426788612732882",
    "q_asof_join" -> "1981:-106422140624661263587",
    "q_salted_join" -> "15000:-389340281162073911943",
    "q_correlation" -> "3:-15789701201238685897",
    "q_filter_project" -> "13513:1175831812144328580988")
}
