package graft

/** Benchmark main: runs every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Untimed warm-up passes at sf0.001 AND sf0.01 first
  * warm the JVM so the timed numbers measure the queries, not startup.
  * Two scales because they warm different things: sf0.001 compiles the
  * plans (Catalyst + codegen classes); sf0.01 supplies enough loop
  * iterations to push the string-heavy hot loops (explode+agg, LSH plane
  * dots) through C2 — measured: q_tfidf at sf0.1 is 11.4 s after an
  * sf0.001-only warm-up but 2.3 s after sf0.001+sf0.01.
  *
  * Each query is materialized through a full-row CHECKSUM, not `count()`:
  * under count, Catalyst legitimately eliminates count-preserving operators
  * (q_span_dedup's rebuilt-text join benched at 0.2 s while its honest cost
  * was ~3 s — the join is count-preserving because build keys are unique),
  * so a count-timed battery silently under-times every such plan. The
  * checksum ([[Battery.force]], `bit_xor(xxhash64(c0, …, cn))`) reads
  * every column of every row, making elision impossible while adding only
  * a codegen'd hash to the scan — and it is the same shape a deployment's
  * sink write would force.
  *
  * The battery is then timed TWICE at the target scale, and both passes are
  * reported per query:
  *   - pass "cold": first target-scale execution of each query — pays any
  *     residual target-scale-only JIT (e.g. the ~256 fused plane dots of
  *     the banded-LSH queries) and first-read page-cache misses. The same
  *     policy for every query — no per-query warm-up special cases, so the
  *     numbers are comparable across entries (earlier rounds pre-warmed
  *     exactly two LSH queries at target scale, which flattered them).
  *   - pass "warm": second execution — the steady-state number a deployed
  *     pipeline sees.
  * The headline "value" stays the cold-pass total (continuity with the
  * BENCH_r* trajectory, which timed first target-scale executions).
  *
  * RUN VALIDITY is THREE-SIDED (see [[RunValidity]] for rationale and the
  * r12/r15 calibrations; side (c) — the total-time band that catches a
  * UNIFORM ambient slowdown like r15's run4 — is new this round):
  * (a) a warm pass slower than its cold pass by >25% is
  * physically backwards (same plans, better JIT/page cache) — interference
  * in the warm pass; (b) each pass is band-checked per query against the
  * committed clean-run baseline (BENCH_baseline_clean.json), which catches
  * the case the one-sided ratio rule structurally cannot: interference in
  * the COLD pass makes the warm/cold ratio look BETTER (the committed
  * BENCH_r12 driver artifact was the live counterexample — q1 13.4 s cold
  * vs a 1.9 s clean band, stamped healthy at ratio 0.44). Machine-state
  * markers (page cache, load average, heap) at startup and both pass
  * starts are recorded as evidence, not verdict drivers — the r12 clean
  * runs measured HIGHER cold-start load (2.9-5.4) than the contaminated
  * one (3.92), because the battery's own warm-ups drive load.
  *
  * A SUSPECT verdict triggers a SELF-RETRY (up to SPARK_GRAFT_BENCH_RETRIES
  * = 2 full two-pass re-runs): the first clean attempt becomes the round's
  * record and each suspect attempt's summary rides along in
  * suspect_reasons as provenance — the official per-round artifact should
  * be a measurement, not whatever the box happened to be doing (the r14
  * record was a 418 s interference run while clean 154-196 s runs sat
  * committed beside it). If every attempt is suspect the last one is
  * emitted with suspect=true and a retries-exhausted reason.
  *
  * OUTPUT: the driver keeps only the LAST 2000 CHARS of the run log and
  * parses the JSON line out of that tail — a full 155-query map is ~8 KB
  * and has truncated to unparseable in every round so far. The printed
  * line therefore carries the headline totals plus only the ~40 slowest
  * queries; the COMPLETE per-query map (both passes) goes to a committable
  * file (BENCH_full_latest.json, override with SPARK_GRAFT_BENCH_FULL).
  * Twelve rounds of `parsed: null` traced to sbt's logger: the forked
  * JVM's stdout was re-emitted under an `[info] ` prefix and followed by a
  * `[success] Total time` line, so the tail's last line never parsed as
  * JSON. build.sbt now routes forked run output straight through
  * (`run / outputStrategy := StdoutOutput`) and suppresses the success
  * banner (`Global / showSuccess := false`); the JSON is printed bare
  * AFTER `spark.stop()` and re-printed from a JVM shutdown hook, making it
  * the final stdout line under every parse strategy (last-line, reverse
  * line scan, brace scan).
  */
object Bench {

  private def meminfoMb(keys: Set[String]): Long =
    try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .map(_.split(":\\s+"))
        .collect { case Array(k, v) if keys(k) => v.trim.split("\\s+")(0).toLong }
        .sum / 1024
    } catch { case _: Throwable => -1L }

  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def machineState(): String = {
    val rt = Runtime.getRuntime
    val heapUsedMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    s"""{"page_cache_mb": ${meminfoMb(Set("Buffers", "Cached"))}, """ +
      s""""mem_available_mb": ${meminfoMb(Set("MemAvailable"))}, """ +
      s""""load_avg_1m": ${loadAvg()}, "jvm_heap_used_mb": $heapUsedMb}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val stateStartup = machineState()
    // tmpfs checkpoints for the streaming entries: the stream-stream join
    // commits offsets/state for 32 partitions x 4 stores per batch, and
    // those fsyncs against disk /tmp are fixed cost, not data work. A real
    // cluster points this at durable storage instead (HDFS/S3); the
    // provider/commit path is identical either way.
    val spark = Battery.session(cpus, Some("bench"))
    spark.sparkContext.setLogLevel("WARN")
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { warmDir =>
      SparkEntry.queries.foreach { case (_, fn) =>
        try Battery.force(fn(spark, warmDir))
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    }
    def timedPass(): Map[String, Double] =
      SparkEntry.queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try Battery.force(fn(spark, sfDir)) catch { case _: Throwable => () }
        val elapsed = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache() // release per-query persisted intermediates (untimed)
        name -> elapsed
      }.toMap
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      "BENCH_baseline_clean.json")
    val baseline = RunValidity.loadBaseline(baselinePath)
    val noisy = RunValidity.loadNoisy(baselinePath)
    final case class Attempt(cold: Map[String, Double], warm: Map[String, Double],
                             verdict: RunValidity.Verdict,
                             stateCold: String, stateWarm: String)
    def runAttempt(): Attempt = {
      val stateCold = machineState()
      val cold = timedPass()
      val stateWarm = machineState()
      val warm = timedPass()
      Attempt(cold, warm,
        RunValidity.assess(cold, warm,
          baseline.map { case (k, v) => k -> v._1 },
          baseline.map { case (k, v) => k -> v._2 },
          noisy = noisy),
        stateCold, stateWarm)
    }
    // SELF-RETRY on a suspect verdict (VERDICT r14 Next #1): the r14 round
    // record was a contaminated 418 s run correctly stamped suspect while
    // three clean runs sat committed beside it — the verdict was computed
    // but never acted on. Now a suspect attempt is re-run in full (both
    // passes; the battery warm-ups above stay valid) up to `maxRetries`
    // times, the FIRST CLEAN attempt becomes the round's record, and every
    // suspect attempt's summary is appended to suspect_reasons as
    // provenance. A retry's "cold" pass runs against a page cache the
    // suspect attempt already warmed — recorded BOTH in the provenance line
    // and as the structured "cold_cache_warm" field (ADVICE r15 #2, so
    // baseline tooling can exclude or band such records mechanically), a
    // smaller distortion than publishing interference as the round number.
    // clamp: a negative value would skip the attempt loop entirely and make
    // `attempts.last` throw NoSuchElementException (ADVICE r15 #3)
    val maxRetries =
      math.max(0, sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "2").toInt)
    val attempts = scala.collection.mutable.Buffer.empty[Attempt]
    var chosen: Option[Attempt] = None
    while (chosen.isEmpty && attempts.size <= maxRetries) {
      val a = runAttempt()
      attempts += a
      if (!a.verdict.suspect) chosen = Some(a)
      else System.err.println(f"[bench] attempt ${attempts.size} suspect " +
        f"(cold total ${a.cold.values.sum}%.1f s): ${a.verdict.reasons.mkString("; ")}" +
        (if (attempts.size <= maxRetries) " — retrying" else " — retries exhausted"))
    }
    val fin = chosen.getOrElse(attempts.last)
    val suspectProvenance = attempts.zipWithIndex.collect {
      case (a, i) if a.verdict.suspect =>
        f"attempt ${i + 1} suspect (cold ${a.cold.values.sum}%.1f s, warm " +
          f"${a.warm.values.sum}%.1f s): ${a.verdict.reasons.mkString(" | ")}" +
          (if (i + 1 < attempts.size)
            " — re-ran; later attempts' cold pass pages were cache-warm" else "")
    }.toSeq
    val cold = fin.cold
    val warm = fin.warm
    val verdict = fin.verdict
    val stateCold = fin.stateCold
    val stateWarm = fin.stateWarm
    val totalCold = cold.values.sum
    val totalWarm = warm.values.sum
    val ratio = if (totalCold > 0) totalWarm / totalCold else 1.0
    val suspect = verdict.suspect
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val allReasons = verdict.reasons ++ suspectProvenance.filter(_ => !suspect) ++
      (if (suspect && attempts.size > 1)
        Seq(s"retries exhausted after ${attempts.size} attempts — no clean run") ++
          suspectProvenance.dropRight(1)
      else Nil)
    val reasonsJson = allReasons.map(jstr).mkString("[", ",", "]")
    val baselineNote =
      if (baseline.isEmpty) s"BASELINE MISSING ($baselinePath) — band checks skipped, only the warm/cold ratio rule ran"
      else s"${baseline.size}-query clean baseline from $baselinePath"
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_full_latest.json")
    // compact line: headline totals + the 40 slowest queries only (driver
    // tail budget is 2000 chars; the full map lives in fullPath)
    val qs = cold.toSeq.sortBy(-_._2).take(40)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val lines = cold.toSeq.sortBy(_._1).map { case (k, v) =>
      "  \"" + k + "\": [" + fmt(v) + ", " + fmt(warm.getOrElse(k, -1.0)) + "]" }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath),
      s"""{
         |"sf": "$sfDir",
         |"n_queries": ${cold.size},
         |"total_sec": ${fmt(totalCold)},
         |"total_warm_sec": ${fmt(totalWarm)},
         |"n_attempts": ${attempts.size},
         |"cold_cache_warm": ${attempts.size > 1},
         |"suspect": $suspect,
         |"suspect_reasons": $reasonsJson,
         |"warm_cold_ratio": ${fmt(ratio)},
         |"run_validity_policy": "THREE-SIDED: (a) warm-pass total > 1.25x cold-pass total (warm-pass interference); (b) >= 3 queries in either pass exceeding 2.5x the committed clean baseline by > 0.75 s (cold/warm-pass interference OR code regression — see RunValidity scaladoc for the r12 calibration); (c) either pass's total over baseline-shared queries > 1.25x the baseline total by > 15 s (UNIFORM ambient slowdown — the r15 run4 shape that trips neither (a) nor (b)). Queries in the baseline's noisy_queries ledger (clean cross-run spread > 1.3x, tools/baseline.py) are excluded from the side-(b) offender count only — the total bands still see them. load_avg is evidence, not a verdict driver",
         |"baseline": "$baselineNote",
         |"timing_policy": "each query materialized via bit_xor(xxhash64(all columns)) so count-preserving operators cannot be plan-eliminated out of the timing",
         |"warmup_policy": "untimed full-battery passes at sf0.001 + sf0.01 (plan compile + C2), then two timed target-scale passes: queries[q] = [first target-scale execution, steady-state repeat]; no per-query warm-up exceptions",
         |"machine_state_at_startup": $stateStartup,
         |"machine_state_at_cold_pass": $stateCold,
         |"machine_state_at_warm_pass": $stateWarm,
         |"queries": {
         |${lines.mkString(",\n")}
         |}
         |}
         |""".stripMargin)
    // compact reasons: the driver tail is 2000 chars and the query map is
    // ~1100 of them — keep at most two reasons, each clipped
    val reasonsCompact = allReasons.take(2)
      .map(r => jstr(if (r.length > 110) r.take(107) + "..." else r))
      .mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${fmt(totalCold)},"unit":"sec",""" +
      s""""queries":$qs,"sf":"$sfDir","n_queries":${cold.size},""" +
      s""""total_warm_sec":${fmt(totalWarm)},"suspect":$suspect,""" +
      s""""suspect_reasons":$reasonsCompact,""" +
      s""""queries_note":"40 slowest shown; full map in $fullPath"}"""
    // the line must be the FINAL stdout content: print it bare after
    // spark.stop() (no executor/log chatter follows at WARN level) and once
    // more from a shutdown hook so nothing sbt or Spark appends can displace
    // it from the driver's 2000-char tail parse
    spark.stop()
    println(line)
    System.out.flush()
    sys.addShutdownHook { println(line); System.out.flush() }
  }
}
