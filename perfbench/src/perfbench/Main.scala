package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result as JSON to `--out`.
  *
  * Untraced (`--trace 0`): set up, then run operations for `--seconds` and
  * report the end-to-end metrics. Traced (`--trace 1`): set up, run one
  * operation to warm up, then half the time untraced and half with spans
  * and listeners, and report the per-layer metrics, each layer's self time
  * and the tracing overhead.
  */
object Main {

  /** Every per-layer metric a traced run reports, with its unit, in print
    * order. A metric of a layer the workload does not exercise reads 0.
    */
  val layerUnits: Seq[(String, String)] = Seq(
    "config.load_ms" -> "ms", "pipeline.compose_s" -> "s", "pipeline.sink_action_s" -> "s",
    "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms", "plan.physical_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_busy_s" -> "s", "exec.task_cpu_s" -> "s", "exec.driver_gap_s" -> "s",
    "exec.stage_skew_max" -> "ratio", "exec.failed_tasks" -> "count",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB",
    "io.scan_mb" -> "MB", "io.scan_rows" -> "rows", "io.sink_rows" -> "rows", "io.sink_mb" -> "MB",
    "io.sink_files" -> "count", "io.write_amp" -> "ratio") ++
    CurateBatch.stageTypes.flatMap(t => Seq(s"stage.$t.s" -> "s", s"stage.$t.rows_out" -> "rows")) ++
    Seq("stage.sink.s" -> "s", "stage.total_s" -> "s", "stage.job_s" -> "s",
      "stream.batches" -> "count", "stream.add_batch_ms_p50" -> "ms", "stream.plan_ms_p50" -> "ms",
      "stream.offsets_ms_p50" -> "ms", "stream.commit_ms_p50" -> "ms",
      "stream.jobs_per_batch" -> "count", "stream.compact_s" -> "s",
      "stream.history_rows" -> "rows", "stream.admit_ratio" -> "ratio") ++
    Seq("jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB") ++
    Trace.layers.map(l => s"self.${l}_s" -> "s") ++
    Seq("trace.untraced_ms_p50" -> "ms", "trace.traced_ms_p50" -> "ms", "trace.overhead_pct" -> "%")

  /** Progress line on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def need(k: String) = arg(args, k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    val workload = need("--workload")
    val seconds = need("--seconds").toDouble
    val traced = need("--trace") == "1"
    val work = Paths.get(need("--work")).toAbsolutePath
    val out = Paths.get(need("--out"))
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log("session started")
    try {
      val ctx = Ctx(spark, Paths.get(need("--root")).toAbsolutePath, work,
        need("--seed").toLong, args.contains("--smoke"), arg(args, "--replicas").map(_.toInt))
      val w = Workload(workload, ctx)
      w.setup()
      log(s"set up, JIT compile time so far ${java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime} ms")
      val setupS = (System.nanoTime() - t0) / 1e9
      val result =
        if (!traced) untraced(w, seconds, setupS)
        else tracedRun(w, seconds, setupS, work.resolve("trace.json"))
      val provenance = Seq(
        "workload" -> workload, "seed" -> ctx.seed, "nproc" -> nproc,
        "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "session_conf" -> spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sortBy(_._1)) ++ w.provenance
      Files.write(out, Report.json(result :+ ("provenance" -> provenance)).getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** The result line's metrics, the same for every workload: set-up time
    * and the JVM's CPU time per operation. Wall-time latencies and
    * throughputs stay in the report line: on a shared host they move with
    * the CPU time the hypervisor steals from the run, which CPU time
    * excludes.
    */
  private def generic(ph: Phase, setupS: Double): Seq[(String, Metric)] =
    Seq("setup_s" -> Metric(setupS, "s"), "op_cpu_ms_p50" -> cpuP50(ph).copy(samples = 0))

  private def cpuP50(ph: Phase): Metric =
    Metric(Report.median(ph.cpuSamples.toSeq) * 1e3, "ms", ph.cpuSamples.size)

  private def outcome(phases: Seq[Phase]): Seq[(String, Any)] = {
    val attempted = phases.map(_.attempted).sum
    val failed = phases.map(_.failed).sum
    Seq("correct" -> (attempted > 0 && failed == 0), "attempted" -> attempted, "failed" -> failed)
  }

  private def untraced(w: Workload, seconds: Double, setupS: Double): Seq[(String, Any)] = {
    val ph = w.measure(seconds, Spans.off)
    val failRatio = ph.failed.toDouble / math.max(1, ph.attempted)
    outcome(Seq(ph)) ++ Seq(
      "metrics" -> generic(ph, setupS),
      "samples_s" -> ph.samples.toSeq,
      "named" -> (Seq("setup_s" -> Metric(setupS, "s"), "fail_ratio" -> Metric(failRatio, "ratio")) ++
        w.named(ph) :+ ("op_cpu_ms_p50" -> cpuP50(ph))))
  }

  private def tracedRun(w: Workload, seconds: Double, setupS: Double, traceFile: Path): Seq[(String, Any)] = {
    // one discarded operation first: a curate job is cold until then, and
    // the phases compared for the overhead must both be warm
    val warm = w.measure(0, Spans.off)
    val plain = w.measure(seconds / 2, Spans.off)
    val spans = new Spans(true)
    val listeners = new Listeners(w.spark)
    val ph = try w.measure(seconds / 2, spans) finally listeners.stop()
    w.breakdown(spans)
    val all = spans.all.toSeq
    Files.write(traceFile, Report.json(all.map(s => Seq("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))).getBytes("UTF-8"))
    val e = listeners.exec.counters(ph.calls.toSeq)
    val (analysisMs, optimizerMs, physicalMs) = listeners.plan.phasesMs(ph.calls.toSeq)
    val n = math.max(1, ph.samples.size).toDouble
    val mb = 1048576.0
    val untracedP50 = Report.median(plain.samples.toSeq)
    val tracedP50 = Report.median(ph.samples.toSeq)
    val stageS = CurateBatch.stageTypes.map(t =>
      s"stage.$t.s" -> Trace.spanTotal(all, s"${CurateBatch.layerOf(t)}.$t"))
    val stageTotal = stageS.map(_._2).sum + Trace.spanTotal(all, "io.sink")
    val measured: Map[String, Double] = (Seq(
      "config.load_ms" -> Trace.perRoot(all, "config.") * 1e3,
      "pipeline.compose_s" -> Trace.perRoot(all, "pipeline.compose"),
      "pipeline.sink_action_s" -> Trace.perRoot(all, "pipeline.sink_action"),
      "plan.analysis_ms" -> analysisMs / n,
      "plan.optimizer_ms" -> optimizerMs / n,
      "plan.physical_ms" -> physicalMs / n,
      "exec.jobs" -> e.jobs / n,
      "exec.stages" -> e.stages / n,
      "exec.tasks" -> e.tasks / n,
      "exec.task_busy_s" -> e.taskRunMs / 1e3 / n,
      "exec.task_cpu_s" -> e.taskCpuNs / 1e9 / n,
      "exec.driver_gap_s" -> e.idleMs / 1e3 / n,
      "exec.stage_skew_max" -> e.stageSkewMax,
      "exec.failed_tasks" -> e.failedTasks.toDouble,
      "shuffle.write_mb" -> e.shuffleWriteB / mb / n,
      "shuffle.read_mb" -> e.shuffleReadB / mb / n,
      "shuffle.spill_mb" -> e.spillB / mb / n,
      "io.scan_mb" -> e.scanB / mb / n,
      "io.scan_rows" -> e.scanRows / n,
      "io.sink_rows" -> e.sinkRows / n,
      "io.sink_mb" -> e.sinkB / mb / n,
      "stream.compact_s" -> Trace.perRoot(all, "stream.after_drain"),
      "stage.sink.s" -> Trace.spanTotal(all, "io.sink"),
      "stage.total_s" -> stageTotal,
      "stage.job_s" -> (if (stageTotal > 0) untracedP50 else 0.0),
      "jvm.gc_s" -> listeners.gcS / n,
      "jvm.heap_peak_mb" -> listeners.heapPeakMb,
      "trace.untraced_ms_p50" -> untracedP50 * 1e3,
      "trace.traced_ms_p50" -> tracedP50 * 1e3,
      "trace.overhead_pct" -> (tracedP50 / untracedP50 - 1) * 100) ++
      stageS ++
      Trace.selfTimes(all).map { case (l, v) => s"self.${l}_s" -> v } ++
      w.layers(ph, e, listeners.stream)).toMap
    val metrics = (layerUnits ++ w.extraLayerUnits).map { case (k, unit) =>
      k -> Metric(measured.getOrElse(k, 0.0), unit)
    }
    outcome(Seq(warm, plain, ph)) ++ Seq("metrics" -> metrics)
  }
}
