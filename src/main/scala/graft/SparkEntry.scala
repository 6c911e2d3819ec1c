package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import minietl.ops.Ops
import minietl.ops.Ops.Keep
import minietl.schema.{ColumnSpec, SchemaValidator, TableSchema}

/** Driver contract — one registered query (+ DuckDB oracle SQL where the
  * semantics are ANSI-SQL-expressible) per operator from SURVEY.md §2 and per
  * training-data-pipeline extra. Column names are aligned between the Spark
  * result and the oracle (the driver sorts columns by name before hashing).
  *
  * Determinism rules used throughout:
  *  - every floating aggregate is round()ed (2dp for sums, 4dp for ratios)
  *    so double summation order cannot flip the hash;
  *  - values that land EXACTLY on a rounding half-boundary (e.g. medians of
  *    cent-quantized data: X.5 cents) must NOT go through round() at all —
  *    engines disagree on half-boundary doubles (Spark rounds the shortest
  *    decimal rendering, others the scaled product); emit them as a DECIMAL
  *    of sufficient scale instead (see q_impute_median);
  *  - every query has a total ORDER BY with a unique tie-break key;
  *  - integer-ish derived columns are cast to BIGINT on both sides
  *    (Spark length/row_number return INT, DuckDB returns BIGINT);
  *  - DRIVER-OUTPUT-TYPE CONTRACT: final columns must be DOUBLE / BIGINT /
  *    STRING / BOOL / DATE / TIMESTAMP — never DECIMAL or ARRAY. The driver
  *    reads the Spark parquet through pandas (DECIMAL → Python Decimal,
  *    ARRAY → numpy array) but the DuckDB oracle through .df() (DECIMAL →
  *    float64), so a wide-decimal output hash-mismatches on trailing zeros
  *    and an array output crashes the row sort. Decimals and arrays are for
  *    INTERNAL exactness only; render decimals through [[decToDouble]] (or a
  *    scaled BIGINT / digit STRING past 2^63) and arrays through array_join.
  *    Enforced by EntryContractSpec over every registered query's schema.
  */
object SparkEntry {

  /** Plain battery-table read, NO rebalance — used by the wide relational
    * tables (lineitem/orders/…) and `events`, where the scan-parallelism
    * rebalance was measured a net loss; see [[rebalanced]] for the full
    * rationale and the A/B numbers.
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Restore scan-stage parallelism for a COMPUTE-HEAVY narrow source when
    * the file layout under-splits it. A parquet row group is the atomic
    * scan unit, and every battery table ships as ONE row group — so the
    * whole scan stage, including all the scan-side work Catalyst fuses
    * into it (tokenize+explode, PNG/WAV encode+decode, LSH plane dots,
    * n-gram generation), runs in ONE task while the other 31 cores idle.
    * Measured A/B (sf0.1 warm, with and without the rebalance):
    * q_pii_redact 0.70 → 0.25 s, q_tfidf 1.78 → 1.07 s, q_lm_surprise
    * 1.46 → 1.09 s.
    *
    * Selective by design: the same A/B showed a BLANKET rebalance of the
    * wide row-heavy relational tables is a net LOSS (q1_pricing_summary
    * 1.6 → 3.5 s, q5_nation_revenue 1.1 → 2.0 s) — the exchange pays full
    * row serialization of 600k × 11-col rows in the same single scan task
    * it is trying to relieve, which exceeds the aggregation work it
    * parallelizes (guide §1.1 first-principles check), and a blanket
    * rebalance of `embeddings` pessimizes the iterative k-means/IVF family
    * (many tiny jobs × 32-way task-scheduling overhead — see the
    * embeddings() note). So `documents` is rebalanced at its reader and
    * individual compute-heavy embedding queries opt in at their entries.
    *
    * SCALE-ADAPTIVE, not a local[32] constant: fires only when the planned
    * scan has fewer partitions than the session's core count. At
    * production scale the input layout provides the splits, the condition
    * is false, and the plan is byte-identical to the plain read — a
    * single-file hotspot (the exact degenerate layout this battery ships)
    * is healed the way guide §2.5 prescribes. Row-order effects: none —
    * every query's output is pinned by a total ORDER BY (oracle contract)
    * and the operators are partition-layout-safe by design (re-verified by
    * the full oracle sweep at all three SFs after this change).
    *
    * The planned-partition probe derives the count from the FILE LAYOUT
    * (Spark's own FilePartition split formula over total bytes + per-file
    * open cost) rather than the previous `df.rdd.getNumPartitions`, which
    * instantiated the full RDD lineage on every read — a per-read
    * driver-side physical-planning cost and a fragile idiom (VERDICT r17
    * "What's wrong" #5). The estimate and the old probe agree on both
    * layouts that matter: a single small file estimates a handful of
    * splits (< cores → fire) and a production many-file layout estimates
    * >= cores (→ no-op); tiny-file packing can make the estimate slightly
    * HIGH, which errs toward NOT firing — the safe direction (plan equals
    * the plain read).
    */
  private def rebalanced(s: SparkSession, df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble
    val nFiles = df.inputFiles.length.toLong
    def confBytes(key: String, dflt: Long): Long =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s.conf.get(key))
      catch { case _: Throwable => dflt }
    val maxSplit = confBytes("spark.sql.files.maxPartitionBytes", 128L << 20)
    val openCost = confBytes("spark.sql.files.openCostInBytes", 4L << 20)
    val padded = bytes + nFiles.toDouble * openCost
    val bytesPerCore = padded / math.max(1, cores)
    val split = math.min(maxSplit.toDouble, math.max(openCost.toDouble, bytesPerCore))
    val estParts = math.ceil(padded / math.max(1.0, split)).toLong
    if (estParts < cores) df.repartition(cores) else df
  }

  /** Per-run stream staging root: keyed by the SANITIZED full data-dir path
    * (hashCode can collide across distinct dirs — and Int.MinValue survives
    * math.abs) plus a per-JVM run id, so two concurrent sessions on the same
    * dir never delete each other's staged files mid-run. Within one run the
    * key is stable, so a battery's repeated staged-stream calls reuse their
    * own staging work. The whole tree is removed on JVM exit.
    */
  private val stageRunId = java.util.UUID.randomUUID().toString.replace("-", "")
  private def stagingDir(kind: String, dir: String): java.nio.file.Path = {
    val sane = dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(80)
    val p = java.nio.file.Paths.get(s"/tmp/graft_${kind}_${sane}_$stageRunId")
    stagedDirs.add(p)
    p
  }
  private val stagedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  sys.addShutdownHook {
    stagedDirs.forEach { p =>
      try deleteTree(p) catch { case _: java.io.IOException => () }
    }
  }
  private def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { Files.delete(f); () })
  }

  /** Session-lifetime deterministic REST fixture for q_api_roundtrip: a
    * loopback JDK HttpServer serving 240 formula-derived records as 24
    * pages of 10 under `data.items` — the page/limit/data_path shape of
    * the reference APIExtractor. Lives as long as the JVM (the query's
    * DataFrame is lazy: the server must still answer when Verify/Bench
    * materializes it), stopped by a shutdown hook; lazy so batteries that
    * never touch the API query never bind a port.
    */
  private lazy val apiFixtureUrl: String = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/records", (ex: com.sun.net.httpserver.HttpExchange) => {
      val params = Option(ex.getRequestURI.getQuery).toSeq
        .flatMap(_.split("&")).flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(k -> v); case _ => None
        }).toMap
      val page = params.getOrElse("page", "1").toInt
      val limit = params.getOrElse("limit", "10").toInt
      val start = (page - 1) * limit
      val items = (start until math.min(start + limit, 240)).map(i =>
        s"""{"rec_id":$i,"name":"rec_$i","score":${(i % 7) * 10}}""")
      val body = s"""{"data":{"items":[${items.mkString(",")}]}}"""
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    // start from a daemon thread: the JDK HttpServer's dispatcher thread
    // inherits daemon status from its creator, and a non-daemon dispatcher
    // would keep the (forked) Verify/Bench JVM alive after main returns
    val starter = new Thread(() => server.start(), "graft-api-fixture-start")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations and TIMESTAMP(MICROS, naive) in others; normalize both to a
    * session-zone (UTC) micro-precision TIMESTAMP so every downstream query
    * sees one type. DuckDB reads the same file natively; every query
    * truncates to >= second granularity so the two agree.
    *
    * The nanos generation needs `spark.sql.legacy.parquet.nanosAsLong=true`
    * at SESSION construction (every graft main sets it through
    * [[Battery.conf]]); query functions never mutate session conf (sole
    * scoped-and-restored exception: [[withStreamStateParts]]).
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // integer division: `/` on longs is DOUBLE division, which loses
      // precision at epoch-nanos magnitude (~1.7e18 > 2^53) and lands ±1µs off
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      // naive micros: same wall clock as the nanos generation; the cast pins
      // it to the session zone, which MUST be UTC (all battery session
      // builders set it) — a non-UTC zone would shift instants relative to
      // the oracle around day/DST boundaries, so fail loudly instead
      case _: TimestampNTZType =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"TIMESTAMP_NTZ ts normalization requires spark.sql.session.timeZone=UTC " +
            s"(got '$tz'): the naive→instant cast uses the session zone and any other " +
            "zone shifts events relative to the UTC oracle")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Rethrow the opaque nanos-parquet schema error with the actionable fix.
    * Spark raises 'Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))' when
    * a session lacks the legacy conf; tell the caller exactly what to set.
    */
  private def guardNanosRead[T](body: => T): T =
    try body
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage != null && e.getMessage.contains("Illegal Parquet type") =>
        throw new IllegalStateException(
          "events.parquet carries TIMESTAMP(NANOS), which this session cannot read: " +
            "set spark.sql.legacy.parquet.nanosAsLong=true at SparkSession " +
            "construction (as graft.Verify/Bench do) so nanos arrive as LONG for " +
            "normalizeTs", e)
    }

  // events deliberately NOT rebalanced: measured A/B (QueryBench warm,
  // sf0.1) q_sessionize 0.4 → 0.9 s, q_funnel 0.4 → 0.8 s, q_stream_window
  // 1.6 → 2.0 s — its consumers reach their first natural exchange after
  // only light per-row work, so the extra exchange is pure overhead.
  private def events(s: SparkSession, dir: String): DataFrame =
    guardNanosRead(normalizeTs(t(s, dir, "events")))

  /** events as an unbounded file stream: the file-stream source monitors
    * directories, so the table is staged into a temp dir via symlinks.
    * The testdata table is a single parquet FILE; a Spark-written table
    * (e.g. a `graft.ScaleProbe gen` corpus) is a DIRECTORY of part files —
    * symlink the part files individually in that case, because the file
    * stream lists plain files and a nested directory symlink would be
    * silently skipped (zero input, no error). Same ts normalization as
    * [[events]].
    */
  private def stagedEventStream(s: SparkSession, dir: String): DataFrame = guardNanosRead {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val streamDir = stagingDir("stream", dir)
    Files.createDirectories(streamDir)
    val src = Paths.get(s"$dir/events.parquet")
    val sources =
      if (Files.isDirectory(src)) {
        val listing = Files.list(src)
        try listing.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
        finally listing.close()
      } else Seq(src)
    require(sources.nonEmpty, s"no parquet files to stage under $src")
    sources.foreach { p =>
      val link = streamDir.resolve(p.getFileName)
      if (!Files.exists(link)) Files.createSymbolicLink(link, p)
    }
    normalizeTs(s.readStream.schema(rawSchema).parquet(streamDir.toString))
  }

  /** Stage events as THREE mtime-ordered parquet files read back with
    * maxFilesPerTrigger=1, so AvailableNow runs three data micro-batches in
    * a deterministic order — the late-data rig for q_stream_late_data.
    *
    * Why three: since the multi-stateful-operator watermark fix
    * (Spark ≥ 3.4), a micro-batch filters LATE ROWS with the PREVIOUS
    * batch's watermark and EVICTS/EMITS with the current one. A two-file
    * replay therefore drops nothing (the late batch filters against the
    * initial 1970 watermark — measured). The choreography that actually
    * exercises both sides, with G = global max ts:
    *
    *   batch 0 "bulk":     even event_ids with ts ≤ G - 2h;
    *   batch 1 "vanguard": all rows in (G-2h, G-1h] — its EXECUTION runs
    *                       with eviction watermark W(0) = max(bulk) - 1h,
    *                       which is exactly the watermark the NEXT batch
    *                       filters late rows with (the filter lags the
    *                       probe-displayed eviction watermark by one more
    *                       batch: batch N filters with W(N-2), measured);
    *   batch 2 "replay":   the odd stragglers (ts ≤ G-2h, now LATE: every
    *                       row whose 1h window closed at-or-before
    *                       Wf = W(0) is dropped) + the final hour
    *                       (ts > G-1h, including G itself — pushes the
    *                       closing eviction watermark to We = G - 1h > Wf,
    *                       so windows in (Wf, We] show ACCEPTED late rows
    *                       in the output).
    *
    * Both watermarks are pure ms-floored functions of the data, so the
    * whole drop/emit choreography replays exactly in the DuckDB oracle.
    */
  private def stagedLateEventStream(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val ev = events(s, dir).select("event_id", "ts", "value")
    val gmax = ev.agg(max(col("ts"))).head.getTimestamp(0)
    val stageDir = stagingDir("latestream", dir)
    deleteTree(stageDir)
    Files.createDirectories(stageDir)
    val now = System.currentTimeMillis()
    // Render the cutoff literal in the SESSION timezone: Timestamp.toString
    // uses the JVM default zone, but the literal is parsed under
    // spark.sql.session.timeZone — on a non-UTC host the raw toString would
    // shift every cutoff by the host offset and diverge from the oracle.
    val zone = java.time.ZoneId.of(s.conf.get("spark.sql.session.timeZone"))
    val gmaxLit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(zone).format(gmax.toInstant)
    val c2 = expr(s"TIMESTAMP '$gmaxLit' - INTERVAL 2 HOURS")
    val c1 = expr(s"TIMESTAMP '$gmaxLit' - INTERVAL 1 HOUR")
    val even = pmod(col("event_id"), lit(2)) === 0
    // ONE pass over events instead of three filtered scans: tag each row
    // with its split, write partitioned-by-split (the tag column does not
    // survive into the data files), then hoist the three part files out
    // with the mtimes that order the replay.
    val tmp = stageDir.resolve("_tmp_splits")
    ev.withColumn("__split",
        when(even && col("ts") <= c2, "0_bulk")
          .when(col("ts") > c2 && col("ts") <= c1, "1_vanguard")
          .otherwise("2_replay"))
      .coalesce(1).write.partitionBy("__split").mode("overwrite").parquet(tmp.toString)
    Seq("0_bulk" -> (now - 240000), "1_vanguard" -> (now - 120000), "2_replay" -> now)
      .foreach { case (split, mtimeMs) =>
        val splitDir = tmp.resolve(s"__split=$split")
        if (!Files.isDirectory(splitDir)) {
          // empty split (degenerate tiny-SF data): partitionBy wrote no dir;
          // stage an empty-but-schema'd file so the replay still runs a
          // micro-batch per split
          ev.limit(0).coalesce(1).write.mode("overwrite").parquet(splitDir.toString)
        }
        val part = Files.list(splitDir)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().orElseThrow(() => new IllegalStateException(s"no part file for $split"))
        Files.move(part, stageDir.resolve(s"$split.parquet"))
        Files.setLastModifiedTime(stageDir.resolve(s"$split.parquet"),
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      }
    deleteTree(tmp)
    s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stageDir.toString)
  }

  /** Stage events WITH injected duplicates (every event_id divisible by 10
    * re-emitted once, identical payload) as a single parquet file read back
    * as a stream — the rig for q_stream_dedup. The duplicate copies are
    * byte-identical rows, so whichever copy the dedup state keeps, the
    * surviving row is the same and the output is deterministic.
    */
  /** Stage events PLUS one flush sentinel per user (ts = that user's max ts
    * + gap + 1 s, flush = true) as a single parquet read back as a stream —
    * the deterministic end-of-stream flush for customSessionize's bounded
    * replay (the sentinel closes each user's final open session during the
    * data batch; in production the EventTimeTimeout path does this as the
    * watermark advances).
    */
  private def stagedSessionStream(s: SparkSession, dir: String, gapSeconds: Long): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("ts"), col("value"))
      .withColumn("flush", lit(false))
    val sent = ev.groupBy("user_id")
      .agg(max(col("ts")).as("ts"))
      .select(col("user_id"),
        (col("ts") + expr(s"INTERVAL ${gapSeconds + 1} SECONDS")).as("ts"),
        lit(0.0).as("value"), lit(true).as("flush"))
    val stageDir = stagingDir("sessstream", dir)
    deleteTree(stageDir)
    ev.unionByName(sent).coalesce(1).write.mode("overwrite").parquet(stageDir.toString)
    s.readStream.schema(s.read.parquet(stageDir.toString).schema)
      .parquet(stageDir.toString)
  }

  /** documents as an unbounded file stream (same single-file symlink
    * staging as [[stagedEventStream]], no ts normalization needed).
    */
  private def stagedDocStream(s: SparkSession, dir: String): DataFrame = {
    val rawSchema = s.read.parquet(s"$dir/documents.parquet").schema
    val streamDir = stagingDir("docstream", dir)
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve("documents.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(s"$dir/documents.parquet"))
    s.readStream.schema(rawSchema).parquet(streamDir.toString)
  }

  /** Stage `batches` as one parquet FILE each, mtime-ordered, so a
    * maxFilesPerTrigger=1 AvailableNow read replays them as that many
    * micro-batches in that order — the rig for the oracle-gated
    * ingest-dedup loops. The work dir is wiped per call: the loops
    * ACCUMULATE state (digest + checkpoint), so replaying over a stale dir
    * would change the answer; a fresh two-drain run is the deterministic
    * unit. Returns (workDir, inputDir).
    */
  private def stageBatchFiles(kind: String, dir: String,
                              batches: Seq[DataFrame]): (java.nio.file.Path, String) = {
    import java.nio.file.Files
    val work = stagingDir(kind, dir)
    deleteTree(work)
    val in = work.resolve("in")
    Files.createDirectories(in)
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = work.resolve(s"_tmp_$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part =
        try listing.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().orElseThrow(() =>
            new IllegalStateException(s"no part file for staged batch $i"))
        finally listing.close()
      val target = in.resolve(f"$i%02d.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(
          now - (batches.size - 1 - i) * 120000L))
      deleteTree(tmp)
    }
    (work, in.toString)
  }

  private def stagedDupEventStream(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select("event_id", "ts", "event_type", "value")
    val stageDir = stagingDir("dupstream", dir)
    deleteTree(stageDir)
    ev.unionAll(ev.where(pmod(col("event_id"), lit(10)) === 0))
      .coalesce(1).write.mode("overwrite").parquet(stageDir.toString)
    s.readStream.schema(ev.schema).parquet(stageDir.toString)
  }

  /** Run a streaming drain with the state partition count scoped DOWN for
    * its lifetime, restoring the session conf afterwards (the one sanctioned
    * exception to "query functions never mutate session conf" — the battery
    * is sequential and the previous value is always restored).
    *
    * Why: a stateful operator spins up one state-store instance per shuffle
    * partition per store (a stream-stream join has FOUR stores per
    * partition), and each instance pays fixed per-batch commit machinery.
    * State partitioning should track STATE SIZE, not the session's batch
    * CPU count — the battery's streams buffer ~40k rows (measured on the
    * interval join at sf0.1 going 32 → 8 partitions: 13.1 s → 6.8 s total
    * drain, cumulative store commit 75 s → 3.3 s). The round-6 sweep over
    * the three stream queries' warm-run sums at sf0.1 picked the default:
    * 8 parts 7.7 s, 2 parts 6.6 s, 1 part 7.5 s (state work serializes),
    * RocksDB provider at 2 parts 9.6 s (per-batch SST/snapshot overhead
    * swamps tiny state — the provider earns its keep only when state
    * outgrows executor memory). The residual is per-micro-batch machinery
    * (query planning + addBatch + WAL commits), not state commits. The
    * battery therefore always drains with 2 state partitions; a production
    * deployment sizes its own to its state volume. The semantics are
    * partition-count-invariant (verified: identical oracle results at 2
    * and 8).
    */
  private def withStreamStateParts[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "2")
    try body finally s.conf.set(key, prev)
  }

  /** Drain a streaming aggregate to a memory sink in complete mode with an
    * AvailableNow trigger (one batch over the staged file) and return the
    * result table.
    */
  private def drainCompleteMode(s: SparkSession, agg: DataFrame,
                                prefix: String): DataFrame =
    withStreamStateParts(s) {
      val qname = s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = agg.writeStream.format("memory").queryName(qname)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
    }

  /** Drain a streaming frame to a memory sink in APPEND mode (stream-stream
    * joins and watermark-finalized aggregates) with an AvailableNow trigger.
    */
  private def drainAppendMode(s: SparkSession, df: DataFrame,
                              prefix: String): DataFrame =
    withStreamStateParts(s) {
      val qname = s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = df.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
    }

  private def documents(s: SparkSession, dir: String): DataFrame =
    rebalanced(s, t(s, dir, "documents"))
  // embeddings deliberately NOT blanket-rebalanced: the iterative k-means /
  // IVF consumers run MANY tiny jobs over the (2k-row) frame, and 32-way
  // partitioning multiplies their per-job task-scheduling overhead —
  // measured A/B (QueryBench warm, sf0.1): q_semdedup 1.2 → 2.4 s,
  // q_ivf_ann 0.65 → 1.7 s, q_kmeans_clusters 0.45 → 1.45 s. The per-row
  // compute-heavy consumers DO win (q_emb_quantize 1.0 → 0.3 s,
  // q_ann_topk_int8 1.35 → 0.8 s) and opt in at their entries.
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")

  private def revenue: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** Render an EXACT scale-`s` decimal as float64 deterministically across
    * engines: scale to a BIGINT (exact — the decimal has no digits below
    * scale s), then BIGINT→DOUBLE (IEEE round-to-nearest in both the JVM and
    * DuckDB) and divide by the exactly-representable power of ten (correctly
    * rounded in both). Spark's own decimal→double (BigDecimal.doubleValue,
    * single-rounded) and DuckDB's (int128→double then divide, double-rounded)
    * can differ by an ulp past 2^53 — phrasing BOTH sides as the same two
    * IEEE ops removes the engine difference entirely. Width bound: the scaled
    * value must fit 2^63, i.e. |x| < 9.2e18 / 10^s (scale 6 ⇒ |x| < 9.2e12 —
    * orders of magnitude above any battery SF's aggregates).
    * See [[decToDoubleSql]] for the oracle twin.
    */
  private def decToDouble(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    (c * lit(p.toLong)).cast("bigint").cast("double") / lit(p)
  }

  /** DuckDB twin of [[decToDouble]] over SQL fragment `sql`. */
  private def decToDoubleSql(sql: String, scale: Int): String = {
    val p = math.pow(10, scale).toLong
    s"CAST(CAST(($sql) * $p AS BIGINT) AS DOUBLE) / $p.0"
  }

  /** 4dp half-up average over `count_order` of an already-aggregated 2dp
    * decimal sum column, computed entirely in BIGINT: S = sum in hundredths
    * (exact), result ten-thousandths = (S*200 + C) DIV (2*C) — round-half-up
    * for non-negative S. The trailing BIGINT→DOUBLE / 10000.0 is the
    * [[decToDouble]] two-step, bit-identical on both engines. See
    * `avg4dpSql` for the oracle twin.
    */
  private def avg4dp(sumCol: String): Column =
    expr(s"CAST((CAST($sumCol * 100 AS BIGINT) * 200 + count_order) DIV (2 * count_order) AS DOUBLE) / 10000.0")

  /** DuckDB twin of [[avg4dp]], phrased over the raw column inside the same
    * GROUP BY ( `//` is DuckDB's integer division; operands are non-negative).
    */
  private def avg4dpSql(c: String): String =
    s"CAST((CAST(sum(CAST($c AS DECIMAL(18,2))) * 100 AS BIGINT) * 200 + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0"

  /** DuckDB replay of Multimodal.decodeStub slot `j` over ASCII text with
    * featureDim=16: rolling hash (base 131, mod 2^31-1) of the chars at
    * positions i ≡ j (mod 16), scaled n/2^19 - 1 — exact doubles, no rounding.
    */
  private def mmSlotSql(j: Int): String =
    s"""(CAST(list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(
       |        range(0, CASE WHEN coalesce(length(text), 0) > $j
       |                      THEN ((length(text) - 1 - $j) // 16) + 1 ELSE 0 END),
       |        i -> ord(substring(text, $j + 1 + CAST(i AS INT) * 16, 1)))),
       |    (acc, x) -> (acc * 131 + x) % 2147483647) % 1048576 AS DOUBLE) / 524288.0 - 1.0)""".stripMargin

  final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  // ------------------------------------------------------------------
  // Relational parity battery (SURVEY.md §2.2-2.4)
  // ------------------------------------------------------------------
  private val relational: Seq[(String, Q)] = Seq(

    // All eight numeric outputs ACCUMULATE as exact decimals and RENDER as
    // float64 (the driver-output-type contract in the header):
    //  - sums: 2dp inputs cast to DECIMAL(18,2) pre-sum (exact, immune to
    //    double-summation order — q1 at sf0.1 sums ~1e10 where double ulp >
    //    a 6dp half-step), then the decToDouble two-step renders the exact
    //    value as the same float64 on both engines;
    //  - avgs: exact integer-scaled half-up division — with S = the sum in
    //    hundredths (an exact BIGINT) and C = count, the 4dp average is
    //    (S*200 + C) DIV (2*C) ten-thousandths, then BIGINT→DOUBLE/10⁴.
    // PROJECT-THEN-REBALANCE (VERDICT r17 Next #7): the blanket lineitem
    // rebalance was rejected in r17 because the exchange paid full
    // 11-column row serialization inside the same single scan task it was
    // relieving; narrowing to the 7 referenced columns FIRST makes the
    // exchange cheap enough that parallelizing the decimal aggregation
    // wins. Probe A/B (r18, interleaved in one JVM, sf0.1): plain
    // 2.5-3.0 s warm / 6.3 s cold vs 1.8-2.1 s / 2.9 s projected+
    // rebalanced. Scale-guarded like every rebalance: fires only when the
    // planned scan under-splits.
    "q1_pricing_summary" -> Q(
      (s, dir) =>
        rebalanced(s, t(s, dir, "lineitem").select(
            col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount"), col("l_tax"),
            col("l_shipdate")))
          .filter(col("l_shipdate") <= lit("2000-12-31").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(col("l_quantity").cast("decimal(18,2)")).as("_sq"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).as("_sp"),
            // 2dp x 2dp products are exact 4dp / 6dp decimals
            sum(revenue.cast("decimal(18,4)")).as("_sdp"),
            sum((revenue * (lit(1) + col("l_tax"))).cast("decimal(18,6)")).as("_sc"),
            sum(col("l_discount").cast("decimal(18,2)")).as("_sd"),
            count(lit(1)).as("count_order"))
          .select(
            col("l_returnflag"), col("l_linestatus"),
            decToDouble(col("_sq"), 2).as("sum_qty"),
            decToDouble(col("_sp"), 2).as("sum_base_price"),
            decToDouble(col("_sdp"), 4).as("sum_disc_price"),
            decToDouble(col("_sc"), 6).as("sum_charge"),
            avg4dp("_sq").as("avg_qty"),
            avg4dp("_sp").as("avg_price"),
            avg4dp("_sd").as("avg_disc"),
            col("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
             |  ${decToDoubleSql("sum(CAST(l_quantity AS DECIMAL(18,2)))", 2)} AS sum_qty,
             |  ${decToDoubleSql("sum(CAST(l_extendedprice AS DECIMAL(18,2)))", 2)} AS sum_base_price,
             |  ${decToDoubleSql("sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))", 4)} AS sum_disc_price,
             |  ${decToDoubleSql("sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6)))", 6)} AS sum_charge,
             |  ${avg4dpSql("l_quantity")} AS avg_qty,
             |  ${avg4dpSql("l_extendedprice")} AS avg_price,
             |  ${avg4dpSql("l_discount")} AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    "q_filter_project" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .transform(Ops.filterExpr("(l_quantity > 25) & (l_discount < 0.05)"))
          .transform(Ops.select(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount")))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount
             |FROM lineitem WHERE l_quantity > 25 AND l_discount < 0.05
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    "q_select_rename_drop" -> Q(
      (s, dir) =>
        t(s, dir, "customer")
          .transform(Ops.rename(Map("c_acctbal" -> "balance", "c_name" -> "name")))
          .transform(Ops.select(Seq("c_custkey", "name", "balance", "c_mktsegment")))
          .transform(Ops.drop(Seq("c_mktsegment")))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name AS name, c_acctbal AS balance
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    "q_cast_coerce" -> Q(
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            col("o_orderstatus").as("status_num"),
            col("o_orderkey").cast("string").as("key_rt"))
          .transform(Ops.castCoerce(Map("status_num" -> "int64", "key_rt" -> "int64")))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  TRY_CAST(o_orderstatus AS BIGINT) AS status_num,
             |  TRY_CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_rt
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    "q_expression_derive" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .transform(Ops.expression("revenue = l_extendedprice * (1 - l_discount)"))
          .transform(Ops.expression("qty_pow = l_quantity ** 2"))
          .transform(Ops.expression("qty_div = l_quantity // 7"))
          .select(col("l_orderkey"), col("l_linenumber"),
            round(col("revenue"), 4).as("revenue"),
            round(col("qty_pow"), 2).as("qty_pow"),
            col("qty_div").cast("bigint").as("qty_div"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  round(l_extendedprice * (1 - l_discount), 4) AS revenue,
             |  round(power(l_quantity, 2), 2) AS qty_pow,
             |  CAST(floor(l_quantity / 7) AS BIGINT) AS qty_div
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    "q_fillna" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            nullif(col("l_returnflag"), lit("R")).as("flag"),
            when(col("l_discount") < 0.02, lit(null)).otherwise(col("l_discount")).as("disc"))
          .transform(Ops.fillnaMap(Map("flag" -> "X", "disc" -> 0.0)))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  coalesce(nullif(l_returnflag, 'R'), 'X') AS flag,
             |  coalesce(CASE WHEN l_discount < 0.02 THEN NULL ELSE l_discount END, 0.0) AS disc
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    "q_group_agg" -> Q(
      (s, dir) =>
        t(s, dir, "orders")
          .transform(Ops.groupAgg(Seq("o_orderpriority"),
            Map("o_totalprice" -> Seq("sum", "mean", "min", "max"), "o_orderkey" -> Seq("count"))))
          .select(col("o_orderpriority"),
            col("o_orderkey_count"),
            round(col("o_totalprice_sum"), 2).as("o_totalprice_sum"),
            round(col("o_totalprice_mean"), 4).as("o_totalprice_mean"),
            col("o_totalprice_min"), col("o_totalprice_max"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  count(o_orderkey) AS o_orderkey_count,
             |  round(sum(o_totalprice), 2) AS o_totalprice_sum,
             |  round(avg(o_totalprice), 4) AS o_totalprice_mean,
             |  min(o_totalprice) AS o_totalprice_min,
             |  max(o_totalprice) AS o_totalprice_max
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    "q_global_agg" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .transform(Ops.groupAgg(Nil,
            Map("l_quantity" -> Seq("sum", "mean"), "l_extendedprice" -> Seq("min", "max"),
              "l_orderkey" -> Seq("nunique"))))
          .select(round(col("l_quantity_sum"), 2).as("l_quantity_sum"),
            round(col("l_quantity_mean"), 4).as("l_quantity_mean"),
            col("l_extendedprice_min"), col("l_extendedprice_max"), col("l_orderkey_nunique")),
      Some("""SELECT round(sum(l_quantity), 2) AS l_quantity_sum,
             |  round(avg(l_quantity), 4) AS l_quantity_mean,
             |  min(l_extendedprice) AS l_extendedprice_min,
             |  max(l_extendedprice) AS l_extendedprice_max,
             |  count(DISTINCT l_orderkey) AS l_orderkey_nunique
             |FROM lineitem""".stripMargin)),

    "q_dedupe_any" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
          .transform(Ops.dedupe())
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    "q_dedupe_first" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
          .transform(Ops.dedupe(Seq("l_orderkey"), Keep.First(Seq("l_linenumber", "l_quantity"))))
          .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM (
             |  SELECT l_orderkey, l_linenumber, l_quantity,
             |    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS rn
             |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)),

    "q_dedupe_keep_none" -> Q(
      (s, dir) =>
        t(s, dir, "orders").select("o_custkey", "o_orderkey")
          .transform(Ops.dedupe(Seq("o_custkey"), Keep.None_))
          .orderBy("o_custkey"),
      Some("""SELECT o_custkey, o_orderkey FROM (
             |  SELECT o_custkey, o_orderkey, count(*) OVER (PARTITION BY o_custkey) AS c
             |  FROM orders) WHERE c = 1 ORDER BY o_custkey""".stripMargin)),

    "q_sort_topk" -> Q(
      (s, dir) =>
        t(s, dir, "orders")
          .transform(Ops.sort(Seq("o_totalprice", "o_orderkey"), Seq(false, true)))
          .limit(50)
          .select("o_orderkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin)),

    "q_join_outer" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
          .select(c("c_custkey"), c("c_name"), o("o_orderkey"), o("o_totalprice"))
          .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
      },
      Some("""SELECT c_custkey, c_name, o_orderkey, o_totalprice
             |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
             |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin)),

    // Skew engineering under the hash gate: the salted join must be
    // RESULT-IDENTICAL to the plain join it protects (Skew.scala's
    // semantics-preservation contract), so the oracle is the unsalted SQL.
    // The key is deliberately pathological — every order lands on one of 5
    // region keys, ~3k rows/key at sf0.01 — the shape where a single
    // shuffle partition would absorb an entire hot key without salting.
    "q_salted_join" -> Q(
      (s, dir) => {
        val l = t(s, dir, "orders")
          .withColumn("skew_key", pmod(col("o_custkey"), lit(5)).cast("int"))
        val r = t(s, dir, "region")
          .select(col("r_regionkey").cast("int").as("skew_key"), col("r_name"))
        minietl.ops.Skew.saltedJoin(l, r, Seq("skew_key"), factor = 8)
          .select(col("o_orderkey"), col("skew_key"), col("r_name"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CAST(o_custkey % 5 AS INT) AS skew_key, r_name
             |FROM orders JOIN region ON r_regionkey = o_custkey % 5
             |ORDER BY o_orderkey""".stripMargin)),

    // Same contract for the two-phase salted aggregation: partials on
    // (key, salt), combine on key — must equal the direct GROUP BY. Sums
    // run over DECIMAL(18,2) so both engines agree bit-exactly regardless
    // of per-salt accumulation order.
    "q_salted_agg" -> Q(
      (s, dir) => {
        val df = t(s, dir, "orders")
          .withColumn("skew_key", pmod(col("o_custkey"), lit(5)).cast("int"))
          .withColumn("price_dec", col("o_totalprice").cast("decimal(18,2)"))
        df.transform(minietl.ops.Skew.saltedGroupAgg(
            Seq("skew_key"),
            Map("price_dec" -> Seq("sum"),
              "o_totalprice" -> Seq("count", "min", "max")), factor = 8))
          .select(col("skew_key"),
            decToDouble(col("price_dec_sum"), 2).as("price_sum"),
            col("o_totalprice_count").as("price_count"),
            col("o_totalprice_min").as("price_min"),
            col("o_totalprice_max").as("price_max"))
          .orderBy("skew_key")
      },
      Some(s"""SELECT CAST(o_custkey % 5 AS INT) AS skew_key,
              |  ${decToDoubleSql("sum(CAST(o_totalprice AS DECIMAL(18,2)))", 2)} AS price_sum,
              |  count(o_totalprice) AS price_count,
              |  CAST(min(o_totalprice) AS DOUBLE) AS price_min,
              |  CAST(max(o_totalprice) AS DOUBLE) AS price_max
              |FROM orders GROUP BY 1 ORDER BY skew_key""".stripMargin)),

    "q_join_multi" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(l("l_orderkey"), to_date(o("o_orderdate")).as("orderdate"))
          .agg(round(sum(revenue), 4).as("revenue"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
             |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY 1, 2 ORDER BY l_orderkey""".stripMargin)),

    // project-then-rebalance on the lineitem side was TRIED here (r18, the
    // q1 treatment) and measured a ~1.3× LOSS (QueryBench warm 1.6 →
    // 2.0 s): unlike q1, this plan exchanges lineitem on l_orderkey for
    // the join almost immediately, so the rebalance exchange is pure
    // overhead — the single-task scan only has to hash+write the narrow
    // shuffle rows either way. Left as the plain read deliberately.
    "q5_nation_revenue" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        val su = t(s, dir, "supplier")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .join(su, l("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(n("n_name"))
          .agg(round(sum(revenue), 4).as("revenue"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON n_nationkey = s_nationkey
             |JOIN region ON r_regionkey = n_regionkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    "q6_forecast_revenue" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
            && col("l_discount").between(0.03, 0.07)
            && col("l_quantity") < 24)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue")),
      Some("""SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_discount BETWEEN 0.03 AND 0.07
             |  AND l_quantity < 24""".stripMargin)),

    "q_join_semi" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name").orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    "q_join_anti" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name").orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
             |ORDER BY c_custkey""".stripMargin)),

    "q_union_concat" -> Q(
      (s, dir) => {
        val a = t(s, dir, "customer").select(col("c_custkey").as("id"),
          col("c_name").as("name"), col("c_acctbal").as("bal"), lit("customer").as("src"))
        val b = t(s, dir, "supplier").select(col("s_suppkey").as("id"),
          col("s_name").as("name"), lit("supplier").as("src"))
        a.unionByName(b, allowMissingColumns = true).orderBy("src", "id")
      },
      Some("""SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal, 'customer' AS src FROM customer
             |UNION ALL
             |SELECT s_suppkey, s_name, NULL, 'supplier' FROM supplier
             |ORDER BY src, id""".stripMargin)),

    "q_union_dedup" -> Q(
      (s, dir) => {
        val a = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        val b = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        a.union(b).transform(Ops.dedupe()).orderBy("nationkey")
      },
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |UNION
             |SELECT s_nationkey FROM supplier
             |ORDER BY nationkey""".stripMargin)),

    "q_branch_split" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val pred = col("o_totalprice") >= 250000
        val high = o.filter(pred).withColumn("branch", lit("high"))
        val low = o.filter(!pred).withColumn("branch", lit("low"))
        high.unionByName(low).select("o_orderkey", "branch").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_totalprice >= 250000 THEN 'high' ELSE 'low' END AS branch
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    "q_schema_coerce" -> Q(
      (s, dir) => {
        val schema = TableSchema(Seq(
          ColumnSpec("c_custkey", "int64"),
          ColumnSpec("c_name", "string"),
          ColumnSpec("active", "boolean", default = Some(true)),
          ColumnSpec("loyalty", "string", default = Some("basic"))))
        new SchemaValidator(schema)(t(s, dir, "customer").select("c_custkey", "c_name"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, TRUE AS active, 'basic' AS loyalty
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    "q_ffill" -> Q(
      (s, dir) =>
        events(s, dir)
          .select(col("event_id"), col("user_id"),
            when(col("value") < 10, lit(null)).otherwise(col("value")).as("v"))
          .transform(Ops.ffill(Seq("v"), orderBy = "event_id", partitionBy = Seq("user_id")))
          .withColumnRenamed("v", "v_filled")
          .orderBy("event_id"),
      Some("""SELECT event_id, user_id,
             |  last_value(CASE WHEN value < 10 THEN NULL ELSE value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
             |FROM events ORDER BY event_id""".stripMargin)),

    "q_bfill" -> Q(
      (s, dir) =>
        events(s, dir)
          .select(col("event_id"), col("user_id"),
            when(col("value") < 10, lit(null)).otherwise(col("value")).as("v"))
          .transform(Ops.bfill(Seq("v"), orderBy = "event_id", partitionBy = Seq("user_id")))
          .withColumnRenamed("v", "v_filled")
          .orderBy("event_id"),
      Some("""SELECT event_id, user_id,
             |  first_value(CASE WHEN value < 10 THEN NULL ELSE value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY event_id
             |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_filled
             |FROM events ORDER BY event_id""".stripMargin)),

    "q_dedupe_last" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
          .transform(Ops.dedupe(Seq("l_orderkey"), Keep.Last(Seq("l_linenumber", "l_quantity"))))
          .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM (
             |  SELECT l_orderkey, l_linenumber, l_quantity,
             |    row_number() OVER (PARTITION BY l_orderkey
             |      ORDER BY l_linenumber DESC, l_quantity DESC) AS rn
             |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)),

    "q_string_funcs2" -> Q(
      (s, dir) =>
        t(s, dir, "part")
          .select(col("p_partkey"),
            regexp_replace(col("p_type"), " ", "_").as("type_u"),
            lower(col("p_name")).as("name_l"),
            lpad(col("p_brand"), 12, "*").as("brand_pad"),
            split_part(col("p_type"), lit(" "), lit(2)).as("type_mid"),
            reverse(col("p_brand")).as("brand_rev"),
            translate(col("p_name"), "aeiou", "AEIOU").as("name_tr"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |  regexp_replace(p_type, ' ', '_', 'g') AS type_u,
             |  lower(p_name) AS name_l,
             |  lpad(p_brand, 12, '*') AS brand_pad,
             |  split_part(p_type, ' ', 2) AS type_mid,
             |  reverse(p_brand) AS brand_rev,
             |  translate(p_name, 'aeiou', 'AEIOU') AS name_tr
             |FROM part ORDER BY p_partkey""".stripMargin)),

    "q_date_funcs" -> Q(
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            year(col("o_orderdate")).as("y"),
            month(col("o_orderdate")).as("m"),
            quarter(col("o_orderdate")).as("q"),
            (dayofweek(col("o_orderdate")) - 1).cast("bigint").as("dow"),
            date_add(to_date(col("o_orderdate")), 30).as("plus30"),
            datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
              .cast("bigint").as("days_since"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  CAST(year(o_orderdate) AS INT) AS y,
             |  CAST(month(o_orderdate) AS INT) AS m,
             |  CAST(quarter(o_orderdate) AS INT) AS q,
             |  CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
             |  CAST(o_orderdate AS DATE) + 30 AS plus30,
             |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    "q_window_rank" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w).cast("bigint"))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    CAST(row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
             |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    "q_intersect" -> Q(
      (s, dir) => {
        val a = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        val b = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        a.intersect(b).orderBy("nationkey")
      },
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |INTERSECT
             |SELECT s_nationkey FROM supplier
             |ORDER BY nationkey""".stripMargin)),

    "q_except" -> Q(
      (s, dir) => {
        val a = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        val b = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        a.except(b).orderBy("nationkey")
      },
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |EXCEPT
             |SELECT s_nationkey FROM supplier
             |ORDER BY nationkey""".stripMargin)),

    "q_array_funcs" -> Q(
      (s, dir) =>
        embeddings(s, dir)
          .select(col("vec_id"),
            size(col("embedding")).cast("bigint").as("dim"),
            // + 0.0 normalizes IEEE negative zero (round of a tiny negative
            // yields -0.0, whose string form breaks value-sorted compares)
            (round(element_at(col("embedding"), 1), 4) + 0.0).as("first"),
            (round(array_max(col("embedding")), 4) + 0.0).as("mx"),
            (round(array_min(col("embedding")), 4) + 0.0).as("mn"),
            (round(element_at(array_sort(col("embedding")), 3), 4) + 0.0).as("third_smallest"),
            size(filter(col("embedding"), x => x > 0)).cast("bigint").as("n_pos"))
          .orderBy("vec_id"),
      // CAST ... AS DOUBLE: Spark's `+ 0.0` promotes FLOAT→DOUBLE, DuckDB's
      // stays FLOAT; widening after float-space rounding is exact on both
      Some("""SELECT vec_id,
             |  CAST(len(embedding) AS BIGINT) AS dim,
             |  CAST(round(embedding[1], 4) + 0.0 AS DOUBLE) AS first,
             |  CAST(round(list_max(embedding), 4) + 0.0 AS DOUBLE) AS mx,
             |  CAST(round(list_min(embedding), 4) + 0.0 AS DOUBLE) AS mn,
             |  CAST(round(list_sort(embedding)[3], 4) + 0.0 AS DOUBLE) AS third_smallest,
             |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    "q_null_safe" -> Q(
      (s, dir) => {
        val base = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            when(col("l_discount") < 0.02, lit(null)).otherwise(col("l_discount")).as("d1"),
            when(col("l_tax") < 0.02, lit(null)).otherwise(col("l_tax")).as("d2"))
        base.select(col("l_orderkey"), col("l_linenumber"),
            (col("d1") <=> col("d2")).as("ns_eq"),
            nvl2(col("d1"), lit("has"), lit("none")).as("d1_state"),
            round(coalesce(col("d1"), col("d2"), lit(0.0)), 2).as("first_non_null"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""WITH b AS (
             |  SELECT l_orderkey, l_linenumber,
             |    CASE WHEN l_discount < 0.02 THEN NULL ELSE l_discount END AS d1,
             |    CASE WHEN l_tax < 0.02 THEN NULL ELSE l_tax END AS d2
             |  FROM lineitem)
             |SELECT l_orderkey, l_linenumber,
             |  d1 IS NOT DISTINCT FROM d2 AS ns_eq,
             |  CASE WHEN d1 IS NOT NULL THEN 'has' ELSE 'none' END AS d1_state,
             |  round(coalesce(d1, d2, 0.0), 2) AS first_non_null
             |FROM b ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    "q_json_struct" -> Q(
      (s, dir) =>
        events(s, dir)
          .select(col("event_id"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, tag STRING")).as("p"))
          .select(col("event_id"), col("p.k").as("k"), col("p.tag").as("tag"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |  json_extract_string(props, '$.tag') AS tag
             |FROM events ORDER BY event_id""".stripMargin)),

    "q_events_json" -> Q(
      (s, dir) =>
        events(s, dir)
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").cast("bigint").as("k"),
            col("event_type"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, event_type
             |FROM events ORDER BY event_id""".stripMargin)),

    "q_events_daily" -> Q(
      (s, dir) =>
        events(s, dir)
          .groupBy(to_date(date_trunc("day", col("ts"))).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
          .orderBy("day", "event_type"),
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             |  count(*) AS n, round(sum(value), 2) AS total
             |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),

    // As-of join (union-merge window, ONE shuffle — Joins.asof scaladoc):
    // each purchase matched to the user's latest at-or-before click. The
    // oracle replays it with DuckDB's native ASOF LEFT JOIN.
    "q_asof_join" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("cts"), col("value").as("cval"))
        minietl.ops.Joins.asof(purchases, clicks, on = Seq("user_id"),
            leftTs = "ts", rightTs = "cts",
            rightPayload = Seq("cts" -> "click_ts", "cval" -> "click_value"))
          .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"),
            round(col("click_value"), 2).as("click_value"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
             |  CAST(c.ts AS TIMESTAMP) AS click_ts,
             |  round(c.value, 2) AS click_value
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    // Trailing 1-hour rolling aggregates per user (time-range window over
    // exact integer microseconds; the value sum ACCUMULATES as a DECIMAL so
    // window accumulation order cannot flip low bits, and RENDERS as float64
    // via the decToDouble two-step).
    "q_rolling_agg" -> Q(
      (s, dir) => {
        val w = Ops.rollingWindow(Seq("user_id"), "ts", rangeSeconds = 3600)
        events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"),
            count(lit(1)).over(w).as("n_1h"),
            decToDouble(sum(col("value").cast("decimal(18,2)")).over(w), 2)
              .as("sum_1h"))
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
             |  ${decToDoubleSql("sum(CAST(value AS DECIMAL(18,2))) OVER w", 2)} AS sum_1h
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // Nearest-direction as-of (pandas merge_asof direction='nearest', ties
    // prefer backward): both arms ride one shuffle+sort; the oracle picks
    // per left row via a correlated LATERAL ordered by absolute gap.
    "q_asof_nearest" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("cts"), col("value").as("cval"))
        minietl.ops.Joins.asof(purchases, clicks, on = Seq("user_id"),
            leftTs = "ts", rightTs = "cts",
            rightPayload = Seq("cts" -> "click_ts", "cval" -> "click_value"),
            direction = minietl.ops.Joins.Nearest)
          .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"),
            round(col("click_value"), 2).as("click_value"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
             |  CAST(n.cts AS TIMESTAMP) AS click_ts,
             |  round(n.cval, 2) AS click_value
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |LEFT JOIN LATERAL (
             |  SELECT c.ts AS cts, c.value AS cval
             |  FROM events c
             |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
             |  ORDER BY CASE WHEN c.ts <= p.ts THEN p.ts - c.ts ELSE c.ts - p.ts END,
             |           CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END
             |  LIMIT 1) n ON TRUE
             |ORDER BY p.event_id""".stripMargin)),

    // Range join (bin-explode equi-join, no nested loop — Joins.rangeJoin
    // scaladoc): event values against overlapping width-10 value bands.
    "q_range_join" -> Q(
      (s, dir) => {
        val pts = events(s, dir).select("event_id", "value")
        val bands = s.range(0, 66).select(col("id").as("band_id"),
          (col("id") * 5.0).as("lo"), (col("id") * 5.0 + 10.0).as("hi"))
        minietl.ops.Joins.rangeJoin(pts, bands, "value", "lo", "hi",
            binWidth = 10.0, hiExclusive = true)
          .select("event_id", "band_id", "value")
          .orderBy("event_id", "band_id")
      },
      Some("""SELECT e.event_id, b.band_id, e.value
             |FROM events e
             |JOIN (SELECT i AS band_id, i*5.0 AS lo, i*5.0+10.0 AS hi
             |      FROM range(0, 66) t(i)) b
             |  ON e.value >= b.lo AND e.value < b.hi
             |ORDER BY e.event_id, b.band_id""".stripMargin)),

    "q_having" -> Q(
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("spend"))
          .filter(col("n") >= 12)
          .orderBy("o_custkey"),
      Some("""SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS spend
             |FROM orders GROUP BY o_custkey HAVING count(*) >= 12
             |ORDER BY o_custkey""".stripMargin)),

    "q_string_funcs" -> Q(
      (s, dir) =>
        t(s, dir, "part")
          .select(col("p_partkey"),
            upper(col("p_name")).as("name_u"),
            length(col("p_name")).cast("bigint").as("name_len"),
            concat_ws("-", col("p_brand"), col("p_type")).as("tag"),
            substring(col("p_name"), 1, 5).as("pfx"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, upper(p_name) AS name_u,
             |  CAST(length(p_name) AS BIGINT) AS name_len,
             |  concat_ws('-', p_brand, p_type) AS tag,
             |  substr(p_name, 1, 5) AS pfx
             |FROM part ORDER BY p_partkey""".stripMargin)),

    "q_case_tier" -> Q(
      (s, dir) =>
        t(s, dir, "customer")
          .select(col("c_custkey"),
            expr("CASE WHEN c_acctbal < 0 THEN 'debt' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END").as("tier"))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
             |  CASE WHEN c_acctbal < 0 THEN 'debt'
             |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS tier
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    "q_rollup" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    "q_pivot" -> Q(
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .count()
          .select(col("o_orderpriority"),
            coalesce(col("F"), lit(0L)).as("f_cnt"),
            coalesce(col("O"), lit(0L)).as("o_cnt"),
            coalesce(col("P"), lit(0L)).as("p_cnt"))
          .orderBy("o_orderpriority"),
      // count(*) FILTER yields BIGINT in DuckDB; sum(CASE ...) would widen to
      // HUGEINT (int128) and hash-mismatch Spark's BIGINT on type width
      Some("""SELECT o_orderpriority,
             |  count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
             |  count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
             |  count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // §2.8 supersets: session windows, cube, exact percentiles — absent in
    // the reference, native here.
    "q_sessionize" -> Q(
      (s, dir) =>
        events(s, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
          .select(col("user_id"), col("sw.start").as("session_start"),
            col("n_events"), col("total"))
          .orderBy("user_id", "session_start"),
      Some("""WITH o AS (
             |  SELECT user_id, ts, value, event_id,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events),
             |sess AS (
             |  SELECT user_id, ts, value,
             |    sum(CASE WHEN prev_ts IS NULL
             |             OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM o)
             |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
             |  count(*) AS n_events, round(sum(value), 2) AS total
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    "q_cube" -> Q(
      (s, dir) =>
        t(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    "q_geomean" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(round(minietl.functions.Aggregators.geoMean(col("l_quantity")), 4).as("gm_qty"),
            round(minietl.functions.Aggregators.geoMean(col("l_extendedprice")), 2).as("gm_price"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round(exp(avg(ln(l_quantity))), 4) AS gm_qty,
             |  round(exp(avg(ln(l_extendedprice))), 2) AS gm_price
             |FROM lineitem WHERE l_quantity > 0
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Bottom-k-by-md5 sample: the sampler's sort key is the md5 hex digest,
    // which DuckDB computes identically — the oracle replays the same
    // selection with row_number() OVER (ORDER BY md5(id)).
    "q_sample_group" -> Q(
      (s, dir) =>
        documents(s, dir)
          .groupBy("lang")
          .agg(minietl.functions.Aggregators
            .sampleK(col("doc_id").cast("string"), 5).as("sample_ids"))
          .select(col("lang"), concat_ws(",", col("sample_ids")).as("sample"))
          .orderBy("lang"),
      Some("""WITH ranked AS (
             |  SELECT lang, CAST(doc_id AS VARCHAR) AS id,
             |    row_number() OVER (PARTITION BY lang
             |                       ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
             |  FROM documents)
             |SELECT lang, string_agg(id, ',' ORDER BY md5(id)) AS sample
             |FROM ranked WHERE rn <= 5
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    "q_grouping_sets" -> Q(
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |  count(*) AS n, round(sum(o_totalprice), 2) AS total
                |FROM orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
                |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // EXACT percentiles buffer every group's values on one task — fine here
    // (4 groups, 2.7 s warm at sf0.1) but NOT the 100 TB tool: at that
    // scale use the mergeable sketch twins (q_quantile_sketch's log-hist /
    // minietl.sketch.Sketches) whose state is O(buckets) per group, or
    // approx_percentile (q_approx_percentile) whose bounded-error digest
    // Spark partial-aggregates map-side.
    // p50/p90 come from ONE percentile buffer (array form): two scalar
    // percentile aggregates over the same column would each buffer every
    // value of the group and ship that buffer through the partial→final
    // exchange twice (§2.3 shuffle fewer bytes — measured r18: the
    // value-buffer IS this query's shuffle payload). Spark evaluates the
    // array form from the identical per-group counts map, so each
    // element equals the scalar call bit-for-bit.
    "q_percentile" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("percentile(l_extendedprice, array(0.5D, 0.9D))").as("_pe"),
            round(expr("percentile(l_quantity, 0.25)"), 4).as("q25"))
          .select(col("l_returnflag"),
            round(element_at(col("_pe"), 1), 4).as("p50"),
            round(element_at(col("_pe"), 2), 4).as("p90"),
            col("q25"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
             |  round(quantile_cont(l_quantity, 0.25), 4) AS q25
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // The 100 TB percentile: approx_percentile's Greenwald-Khanna digest
    // partial-aggregates map-side (no per-group value buffer). Its value is
    // algorithm-specific so no SQL engine replays it bit-for-bit; the
    // oracle instead gates the ACCURACY CONTRACT — the returned value's
    // exact rank interval [rank_lt+1, rank_le] must intersect
    // [0.5n - n/acc, 0.5n + n/acc] (accuracy acc = 100). Spark emits the
    // per-group boolean, DuckDB emits the literal contract — any violation
    // hash-mismatches.
    "q_approx_percentile" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val ap = li.groupBy("l_returnflag")
          .agg(expr("approx_percentile(l_extendedprice, 0.5, 100)").as("ap50"),
            count(lit(1)).as("n"))
        li.join(broadcast(ap), "l_returnflag")
          .groupBy(col("l_returnflag"), col("ap50"), col("n"))
          .agg(
            sum(when(col("l_extendedprice") <= col("ap50"), 1L).otherwise(0L)).as("rank_le"),
            sum(when(col("l_extendedprice") < col("ap50"), 1L).otherwise(0L)).as("rank_lt"))
          .select(col("l_returnflag"),
            ((col("rank_lt") + 1 <= col("n") * 0.5 + col("n") / 100.0 + 1) &&
              (col("rank_le") >= col("n") * 0.5 - col("n") / 100.0 - 1))
              .as("within_bounds"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, true AS within_bounds
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // The declarative YAML surface (SURVEY §2.6) driving the same engine:
    // parse → validate → build → lazy frame, checked against a SQL oracle.
    "q_config_pipeline" -> Q(
      (s, dir) => {
        val yaml =
          s"""name: cfg_parity
             |source: {type: parquet, filepath: $dir/orders.parquet}
             |transformers:
             |  - {type: filter, condition: "o_totalprice > 100000"}
             |  - {type: expression, expression: "price_k = o_totalprice // 1000"}
             |  - type: aggregate
             |    group_by: [o_orderstatus]
             |    aggregations: {price_k: [sum], o_orderkey: [count]}
             |  - {type: sort, by: [o_orderstatus]}
             |sink: {type: parquet, filepath: /tmp/minietl_cfg_unused}
             |""".stripMargin
        minietl.config.Config.build(minietl.config.Config.parse(yaml)).frame(s)
          .select(col("o_orderstatus"),
            col("price_k_sum").cast("bigint").as("price_k_sum"),
            col("o_orderkey_count"))
      },
      Some("""SELECT o_orderstatus,
             |  CAST(sum(CAST(floor(o_totalprice / 1000) AS BIGINT)) AS BIGINT) AS price_k_sum,
             |  count(o_orderkey) AS o_orderkey_count
             |FROM orders WHERE o_totalprice > 100000
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // The graph surface (SURVEY §2.4): two sources, full-outer merge-join,
    // aggregate — compiled to one Catalyst plan via PipelineDAG.frame.
    "q_dag_join" -> Q(
      (s, dir) => {
        val dag = new minietl.dag.PipelineDAG()
          .addSource("c", sp => t(sp, dir, "customer")
            .select(col("c_custkey").as("custkey"), col("c_acctbal")))
          .addSource("o", sp => t(sp, dir, "orders")
            .select(col("o_custkey").as("custkey"), col("o_totalprice")))
          .addMerge("j", minietl.dag.MergeStrategy.Join(Seq("custkey")))
          .addTransform("agg", Ops.groupAgg(Seq("custkey"),
            Map("o_totalprice" -> Seq("sum"), "c_acctbal" -> Seq("max"))))
          .connect("c", "j").connect("o", "j").connect("j", "agg")
        dag.frame(s, "agg")
          .select(col("custkey"),
            round(col("o_totalprice_sum"), 2).as("o_totalprice_sum"),
            col("c_acctbal_max"))
          .orderBy("custkey")
      },
      Some("""SELECT custkey, round(sum(o_totalprice), 2) AS o_totalprice_sum,
             |  max(c_acctbal) AS c_acctbal_max
             |FROM (SELECT c_custkey AS custkey, c_acctbal FROM customer) c
             |FULL OUTER JOIN (SELECT o_custkey AS custkey, o_totalprice FROM orders) o
             |  USING (custkey)
             |GROUP BY custkey ORDER BY custkey""".stripMargin)),
  )

  // ------------------------------------------------------------------
  // Training-data pipeline battery (SURVEY §7.5 + builder mandate)
  // ------------------------------------------------------------------
  private val pipelineExtras: Seq[(String, Q)] = Seq(

    "q_doc_tokens" -> Q(
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
            length(col("text")).cast("bigint").as("n_chars_obs"),
            size(array_distinct(split(col("text"), " "))).cast("bigint").as("n_uniq"))
          .withColumn("uniq_ratio", round(col("n_uniq").cast("double") / col("n_tokens"), 4))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |  CAST(length(text) AS BIGINT) AS n_chars_obs,
             |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
             |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |        / len(string_split(text, ' ')), 4) AS uniq_ratio
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "q_doc_quality" -> Q(
      (s, dir) =>
        documents(s, dir)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_tokens", size(col("toks")).cast("bigint"))
          .withColumn("n_stop",
            size(expr("filter(toks, t -> t = 'the' OR t = 'a')")).cast("bigint"))
          .select(col("doc_id"),
            round((length(col("text")) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"), 4)
              .as("avg_word_len"),
            round(col("n_stop").cast("double") / col("n_tokens"), 4).as("stop_ratio"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
             |        / len(string_split(text, ' ')), 4) AS avg_word_len,
             |  round(CAST(len(list_filter(string_split(text, ' '),
             |                 t -> t = 'the' OR t = 'a')) AS DOUBLE)
             |        / len(string_split(text, ' ')), 4) AS stop_ratio
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "q_tfidf" -> Q(
      (s, dir) =>
        minietl.text.TextAnalysis.tfidf(documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            round(col("idf"), 4).as("idf"), round(col("weight"), 4).as("weight"))
          .orderBy("doc_id", "term"),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |n AS (SELECT count(*) AS n FROM documents),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
             |SELECT tf.doc_id, tf.term, tf.tf, df.df,
             |  round(ln((n.n + 1.0) / (df.df + 1)) + 1, 4) AS idf,
             |  round(tf.tf * (ln((n.n + 1.0) / (df.df + 1)) + 1), 4) AS weight
             |FROM tf JOIN df USING (term) CROSS JOIN n
             |ORDER BY doc_id, term""".stripMargin)),

    "q_bm25" -> Q(
      (s, dir) =>
        minietl.text.TextAnalysis.bm25(documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("term"), col("tf"),
            round(col("score"), 4).as("score"))
          .orderBy("doc_id", "term"),
      Some("""WITH d AS (
             |  SELECT doc_id, lower(text) AS lt,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS doc_len
             |  FROM documents),
             |toks AS (SELECT doc_id, doc_len, unnest(string_split(lt, ' ')) AS term FROM d),
             |tf AS (SELECT doc_id, doc_len, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
             |n AS (SELECT count(*) AS n FROM documents),
             |al AS (SELECT avg(doc_len) AS avg_len FROM (SELECT DISTINCT doc_id, doc_len FROM tf)),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
             |SELECT tf.doc_id, tf.term, tf.tf,
             |  round(ln(1 + (n.n - df.df + 0.5) / (df.df + 0.5))
             |    * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doc_len / al.avg_len)), 4) AS score
             |FROM tf JOIN df USING (term) CROSS JOIN n CROSS JOIN al
             |ORDER BY doc_id, term""".stripMargin)),

    "q_dedup_exact" -> Q(
      (s, dir) =>
        documents(s, dir)
          .groupBy(md5(col("text").cast("binary")).as("text_hash"))
          .agg(min("doc_id").as("keep_doc"), count(lit(1)).as("n_copies"))
          .orderBy("keep_doc"),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc, count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY keep_doc""".stripMargin)),

    "q_token_stats" -> Q(
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"),
            minietl.text.TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
            minietl.text.TextAnalysis.regexTokenCount(col("text")).as("n_rtokens"),
            minietl.text.TextAnalysis.charCount(col("text")).as("n_chars_obs"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}\s]')) AS BIGINT) AS n_rtokens,
             |  CAST(length(text) AS BIGINT) AS n_chars_obs
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "q_quality_score" -> Q(
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"),
            minietl.text.TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
            minietl.text.TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"),
            minietl.text.TextAnalysis.qualityScore(col("text")).as("quality_bp"))
          .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, text,
             |    string_split(text, ' ') AS toks,
             |    CAST(length(text) AS BIGINT) AS L,
             |    CAST(greatest(len(string_split(text, ' ')), 1) AS BIGINT) AS n,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS u,
             |    CAST(len(list_filter(string_split(lower(text), ' '),
             |      t -> list_contains(['the','a','and','of','to','in','is','that','for','it'], t))) AS BIGINT) AS k,
             |    CAST(len(regexp_extract_all(text, '[^\p{L}\p{N}\s]')) AS BIGINT) AS p
             |  FROM documents)
             |SELECT doc_id,
             |  round(CAST(p AS DOUBLE) / greatest(L, 1), 4) AS punct_ratio,
             |  round(CAST(k AS DOUBLE) / n, 4) AS stop_ratio,
             |  3 * least(L * 20, 10000)
             |    + 3 * CAST(floor(u * 10000.0 / n) AS BIGINT)
             |    + 3 * least(CAST(floor(k * 50000.0 / n) AS BIGINT), 10000)
             |    + (10000 - CAST(floor(p * 10000.0 / greatest(L, 1)) AS BIGINT)) AS quality_bp
             |FROM d ORDER BY doc_id""".stripMargin)),

    "q_lang_id" -> Q(
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"), minietl.text.TextAnalysis.langId(col("text")).as("pred_lang"))
          .orderBy("doc_id"),
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    len(list_filter(string_split(lower(text), ' '),
             |      t -> list_contains(['the','a','and','of','to','in','is','that','for','it'], t))) AS en,
             |    len(list_filter(string_split(lower(text), ' '),
             |      t -> list_contains(['el','la','de','que','y','en','un','los','se','por'], t))) AS es,
             |    len(list_filter(string_split(lower(text), ' '),
             |      t -> list_contains(['le','la','les','de','et','un','une','que','dans','pour'], t))) AS fr,
             |    len(list_filter(string_split(lower(text), ' '),
             |      t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','sich','auf'], t))) AS de,
             |    len(regexp_extract_all(text, '[一-鿿]')) AS cjk
             |  FROM documents)
             |SELECT doc_id,
             |  CASE WHEN cjk > 0 THEN 'zh'
             |       WHEN greatest(en, es, fr, de) = 0 THEN 'und'
             |       WHEN en = greatest(en, es, fr, de) THEN 'en'
             |       WHEN de = greatest(en, es, fr, de) THEN 'de'
             |       WHEN es = greatest(en, es, fr, de) THEN 'es'
             |       ELSE 'fr' END AS pred_lang
             |FROM s ORDER BY doc_id""".stripMargin)),

    "q_ngram_jaccard" -> Q(
      (s, dir) =>
        minietl.dedup.Dedup.ngramJaccardPairs(
          documents(s, dir), "text", "doc_id", "n_chars", radius = 10, shingleN = 3,
          threshold = 0.5)
          .orderBy("id_a", "id_b"),
      Some("""WITH d AS (SELECT doc_id, n_chars, text t, string_split(text, ' ') toks FROM documents),
             |s AS (SELECT doc_id, n_chars,
             |        CASE WHEN len(toks) < 3 THEN [t]
             |             ELSE list_distinct(list_transform(range(1, len(toks) - 1),
             |               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END sh
             |      FROM d)
             |SELECT id_a, id_b, jac FROM (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    round(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
             |      / (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x)))), 4) AS jac
             |  FROM s a JOIN s b
             |    ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 10)
             |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    "q_ann_topk" -> Q(
      (s, dir) => {
        val e = embeddings(s, dir)
        minietl.sim.Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
             |q AS (SELECT * FROM e WHERE vec_id < 10),
             |scored AS (
             |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |    round(list_cosine_similarity(q.v, c.v), 4) AS cos
             |  FROM q, e c WHERE q.vec_id != c.vec_id),
             |ranked AS (SELECT q_id, n_id, cos,
             |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
             |  FROM scored)
             |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // per-label embedding centroids: scaled-integer sums → exact replay;
    // output is groups × dims (long format), independent of corpus size
    "q_label_centroid" -> Q(
      (s, dir) =>
        minietl.sim.Similarity.groupCentroids(embeddings(s, dir), "label", "embedding")
          .orderBy("grp", "dim"),
      Some("""WITH x AS (
             |  SELECT label AS grp, generate_subscripts(embedding, 1) AS dim,
             |         unnest(embedding) AS e
             |  FROM embeddings)
             |SELECT grp, dim, count(*) AS n,
             |  CAST(sum(CAST(floor(CAST(e AS DOUBLE) * 10000000) AS BIGINT)) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE) / CAST(10000000 AS DOUBLE) AS centroid
             |FROM x GROUP BY grp, dim ORDER BY grp, dim""".stripMargin)),

    "q_emb_neardup" -> Q(
      (s, dir) =>
        minietl.sim.Similarity.cosineNearDupPairsExact(embeddings(s, dir), threshold = 0.4)
          .orderBy("id_a", "id_b"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
             |SELECT id_a, id_b, cos FROM (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |    round(list_cosine_similarity(a.v, b.v), 4) AS cos
             |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
             |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin)),

    // the banded-LSH scale path for embedding dedup, with a full oracle: the
    // hyperplane stream is deterministic in the seed, so the generated SQL
    // replays the identical banding in DuckDB (Similarity.lshNearDupOracleSql).
    // 8-bit bands: bucket count per band must grow with the corpus (2^bits
    // >> n/discrimination) or candidate volume goes quadratic — 4-bit bands
    // put ~n/16 rows in every bucket (measured 12M candidate pairs at
    // sf0.1); 8 bits cuts that 16x, and 32 bands keep recall high for pairs
    // that are genuinely near (p_band = p_agree^8, OR-amplified 32x).
    "q_emb_neardup_lsh" -> Q(
      (s, dir) =>
        minietl.sim.Similarity.cosineNearDupPairs(embeddings(s, dir), threshold = 0.4,
          bitsPerBand = 8, bands = 32, dim = 64)
          .orderBy("id_a", "id_b"),
      Some(minietl.sim.Similarity.lshNearDupOracleSql(
        threshold = 0.4, bitsPerBand = 8, bands = 32, dim = 64))),

    // SEMANTIC decontamination (embedding-level train/benchmark overlap —
    // the cross-frame sibling of q_decontaminate's n-gram check): every
    // 50th embedding plays the benchmark suite, the rest the training
    // corpus; banded LSH flags corpus rows cosine-similar to ANY benchmark
    // row. Corpus shuffles only its slim signature frame; the benchmark
    // side is broadcast.
    "q_semantic_contamination" -> Q(
      (s, dir) => {
        val e = embeddings(s, dir)
        minietl.sim.Similarity.semanticContaminationPairs(
            e.filter(pmod(col("vec_id"), lit(50)) =!= 0),
            e.filter(pmod(col("vec_id"), lit(50)) === 0),
            threshold = 0.4, bitsPerBand = 8, bands = 32, dim = 64)
          .orderBy("corpus_id", "bench_id")
      },
      Some(minietl.sim.Similarity.semanticContaminationOracleSql(
        threshold = 0.4, bitsPerBand = 8, bands = 32, dim = 64,
        corpusPredicate = "id % 50 <> 0", benchPredicate = "id % 50 = 0"))),

    // the PORTABLE family is registered (md5-60-bit hashes → DuckDB
    // replays the whole signature/banding/verify pipeline); the xxhash64
    // production family runs the same kernel body (HashFamilySpec)
    "q_minhash_neardup" -> Q(
      (s, dir) =>
        minietl.dedup.Dedup.minhashNearDupPairs(
          documents(s, dir), "text", "doc_id", shingleN = 3, k = 64, bands = 16,
          threshold = 0.5, family = minietl.functions.HashFamily.Portable)
          .orderBy("id_a", "id_b"),
      Some(minietl.dedup.Dedup.minhashPortableOracleSql(
        shingleN = 3, k = 64, bands = 16, threshold = 0.5))),

    // transitive near-dup clustering: label propagation over the portable
    // minhash pair list; DuckDB replays it as a recursive reachability CTE
    // over the SAME (replayable) pairs — min reachable id = component label
    "q_dedup_clusters" -> Q(
      (s, dir) =>
        minietl.dedup.Dedup.connectedComponents(
          minietl.dedup.Dedup.minhashNearDupPairs(
            documents(s, dir), "text", "doc_id", shingleN = 3, k = 64, bands = 16,
            threshold = 0.5, family = minietl.functions.HashFamily.Portable)
            .select("id_a", "id_b"))
          .orderBy("id"),
      Some(s"""WITH RECURSIVE pairs AS (
              |  SELECT id_a, id_b FROM (
              |${minietl.dedup.Dedup.minhashPortableOracleSql(
                   shingleN = 3, k = 64, bands = 16, threshold = 0.5)}
              |  ) t),
              |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              |          UNION ALL SELECT id_b, id_a FROM pairs),
              |nodes AS (SELECT DISTINCT a AS id FROM edges),
              |reach AS (
              |  SELECT id, id AS r FROM nodes
              |  UNION
              |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id)
              |SELECT id, min(r) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    "q_simhash_neardup" -> Q(
      (s, dir) =>
        // classic 64-bit config: 4 bands of 16 bits, radius 3. Wider radii
        // need more bands, whose shorter chunks collide pervasively and
        // degrade the blocking toward all-pairs (measured: bands=16 at
        // sf0.1 is ~25× slower than bands=4 for this corpus).
        minietl.dedup.Dedup.simhashNearDupPairs(documents(s, dir), "text", "doc_id",
          maxHamming = 3, bands = 4, family = minietl.functions.HashFamily.Portable)
          .orderBy("id_a", "id_b"),
      Some(minietl.dedup.Dedup.simhashPortableOracleSql(maxHamming = 3, bands = 4))),

    // the portable (md5 token hash) fingerprint family is registered so the
    // rolling-hash fold is verifiable by DuckDB; the xxhash64 production
    // family runs the identical fold and is spec-covered
    "q_fingerprint" -> Q(
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"),
            minietl.text.TextAnalysis.fingerprint(col("text"), minietl.functions.HashFamily.Portable).as("fp"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  list_reduce(
              |    list_prepend(CAST(0 AS BIGINT),
              |      list_transform(string_split(text, ' '),
              |        t -> ${minietl.functions.PortableHash.sql("t")} % 2147483647)),
              |    (acc, x) -> (acc * 31 + x) % 2147483647) AS fp
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // MOSS winnowing (Schleimer/Wilkerson/Aiken '03): position-local
    // fingerprints with the shared-span guarantee — the copied-span /
    // boilerplate detector that MinHash (order-blind) and the whole-doc
    // rolling fingerprint (exact-equality) cannot express. The selection
    // is pure scan-side array arithmetic (zero exchanges, spec-asserted);
    // the portable md5 family makes every selected (pos, fp) and the
    // overlap join DuckDB-replayable.
    "q_winnow_fingerprints" -> Q(
      (s, dir) =>
        minietl.dedup.Winnow.fingerprints(
            documents(s, dir), "text", "doc_id", k = 4, w = 8, family = minietl.functions.HashFamily.Portable)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id", "pos"),
      Some(minietl.dedup.Winnow.fingerprintsOracleSql(k = 4, w = 8))),

    // copied-span candidate pairs: docs sharing >= 2 distinct winnow
    // fingerprints, boilerplate values census-capped before the join
    "q_winnow_overlap" -> Q(
      (s, dir) =>
        minietl.dedup.Winnow.overlapPairs(
            documents(s, dir), "text", "doc_id", k = 4, w = 8, minShared = 2,
            family = minietl.functions.HashFamily.Portable)
          .orderBy("id_a", "id_b"),
      Some(minietl.dedup.Winnow.overlapOracleSql(k = 4, w = 8, minShared = 2))),

    // exact duplicated token spans (Lee et al. '22 substring dedup,
    // re-expressed as gram-seeded seed-and-extend + gaps-and-islands);
    // the corpus carries natural shared prefixes up to ~90 tokens
    "q_shared_spans" -> Q(
      (s, dir) =>
        minietl.dedup.Winnow.sharedSpans(
            documents(s, dir), "text", "doc_id", k = 4, minSpanTokens = 8,
            family = minietl.functions.HashFamily.Portable)
          .orderBy("id_a", "id_b", "start_a", "start_b"),
      Some(minietl.dedup.Winnow.sharedSpansOracleSql(k = 4, minSpanTokens = 8))),

    // span-level REMOVAL: every duplicated span survives only in the
    // lowest doc_id carrying it; untouched docs round-trip byte-identical
    "q_span_dedup" -> Q(
      (s, dir) =>
        minietl.dedup.Winnow.spanDedup(
            documents(s, dir), "text", "doc_id", k = 4, minSpanTokens = 8,
            family = minietl.functions.HashFamily.Portable)
          .select("doc_id", "text")
          .orderBy("doc_id"),
      Some(minietl.dedup.Winnow.spanDedupOracleSql(k = 4, minSpanTokens = 8))),

    // spanDedup iterated to a FIXPOINT, on documents plus a PLANTED
    // three-doc cascade (synthetic zq* tokens that collide with nothing in
    // the corpus; negative ids below every natural doc_id):
    //   L(-3) = A1..A12                     (a 12-token phrase)
    //   W(-2) = X1..X8                      (an 8-token block)
    //   M(-1) = A1..A6  X1..X8  A7..A12
    // Round 1 excises X from M (shared with lower-id W; M's A-runs are 6 < 8
    // tokens, invisible). The excision junction makes M = A1..A12, which
    // round 2 excises against L — a span a single pass provably cannot see.
    // The DuckDB twin unrolls exactly maxIter rounds (identity once
    // converged), so the replay is exact for any convergence count <= 4.
    "q_span_dedup_fixpoint" -> Q(
      (s, dir) => {
        val planted = s.createDataFrame(Seq(
          (-3L, (1 to 12).map("zqa" + _).mkString(" ")),
          (-2L, (1 to 8).map("zqx" + _).mkString(" ")),
          (-1L, ((1 to 6).map("zqa" + _) ++ (1 to 8).map("zqx" + _) ++
            (7 to 12).map("zqa" + _)).mkString(" ")))).toDF("doc_id", "text")
        minietl.dedup.Winnow.spanDedupFixpoint(
            documents(s, dir).select("doc_id", "text").union(planted),
            "text", "doc_id", k = 4, minSpanTokens = 8, maxIter = 4,
            family = minietl.functions.HashFamily.Portable)
          .select("doc_id", "text")
          .orderBy("doc_id")
      },
      Some(minietl.dedup.Winnow.spanDedupFixpointOracleSql(
        k = 4, minSpanTokens = 8, maxIter = 4,
        table = ("(SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT * FROM (VALUES " +
          s"(CAST(-3 AS BIGINT), '${(1 to 12).map("zqa" + _).mkString(" ")}'), " +
          s"(CAST(-2 AS BIGINT), '${(1 to 8).map("zqx" + _).mkString(" ")}'), " +
          s"(CAST(-1 AS BIGINT), '${((1 to 6).map("zqa" + _) ++ (1 to 8).map("zqx" + _) ++ (7 to 12).map("zqa" + _)).mkString(" ")}')" +
          ") v(doc_id, text)) AS src")))),

    // fixpoint STICKY maxPostings semantics, gated through DuckDB on a
    // planted cap-crossing corpus (ADVICE r13; same planted-fixture
    // precedent as the cascade above — the sf tables carry no bucket that
    // crosses the default cap between rounds, so the rule needs its own
    // micro corpus): H's grams sit in 3 docs (over cap=2) in round 1;
    // round 1 excises E2's middle down to one token, so a PER-ROUND census
    // would re-admit H in round 2 and excise it from doc 2 — sticky keeps
    // it censored, doc 2 must round-trip intact. The oracle unrolls 3
    // rounds with the accumulated bigacc sets, replaying the rule
    // independently.
    "q_span_fixpoint_sticky_cap" -> Q(
      (s, dir) => {
        val h = (1 to 5).map("zsh" + _).mkString(" ")
        val ahb = (1 to 5).map("zsa" + _).mkString(" ") + " " + h + " " +
          (1 to 5).map("zsb" + _).mkString(" ")
        minietl.dedup.Winnow.spanDedupFixpoint(
            s.createDataFrame(Seq((0L, ahb), (1L, ahb), (2L, h)))
              .toDF("doc_id", "text"),
            "text", "doc_id", k = 3, minSpanTokens = 5, maxPostings = 2,
            maxIter = 3, family = minietl.functions.HashFamily.Portable)
          .select("doc_id", "text")
          .orderBy("doc_id")
      },
      Some {
        val h = (1 to 5).map("zsh" + _).mkString(" ")
        val ahb = (1 to 5).map("zsa" + _).mkString(" ") + " " + h + " " +
          (1 to 5).map("zsb" + _).mkString(" ")
        minietl.dedup.Winnow.spanDedupFixpointOracleSql(
          k = 3, minSpanTokens = 5, maxPostings = 2, maxIter = 3,
          table = ("(SELECT * FROM (VALUES " +
            s"(CAST(0 AS BIGINT), '$ahb'), (CAST(1 AS BIGINT), '$ahb'), " +
            s"(CAST(2 AS BIGINT), '$h')) v(doc_id, text)) AS src"))
      }),

    "q_lsh_ann" -> Q(
      (s, dir) => {
        val e = embeddings(s, dir)
        minietl.sim.Similarity.lshTopK(e, e.filter(col("vec_id") < 10), k = 5,
          bits = 4, dim = 64)
          .orderBy("q_id", "rank")
      },
      // the LSH bucketing is deterministic in the seed, so the oracle replays
      // the identical signature/join/ranking in DuckDB
      Some(minietl.sim.Similarity.lshTopKOracleSql(
        k = 5, bits = 4, dim = 64, queryPredicate = "id < 10"))),

    // train-then-serve: the query function trains the quantizer, publishes a
    // serving oracle with the LEARNED centroids rendered as SQL literals
    // (Ivf.topKOracleSql), and serves. Verify dumps oracle_sql.json only
    // after the battery has run, so the oracle is always present and always
    // describes the exact model this run served from. Training itself is not
    // SQL-replayable (distributed float means); it is covered by IvfSpec.
    "q_ivf_ann" -> Q(
      (s, dir) => {
        val e = embeddings(s, dir)
        val model = minietl.sim.Ivf.train(e, nlist = 8, iters = 3)
        ivfServingOracle = Some(minietl.sim.Ivf.topKOracleSql(
          model, k = 5, nprobe = 3, queryPredicate = "id < 10"))
        minietl.sim.Ivf.topK(e, e.filter(col("vec_id") < 10), model, k = 5, nprobe = 3)
          .orderBy("q_id", "rank")
      },
      None),

    // Within-document stutter REPAIR (the cleaning twin of
    // q_repetition_stats' signal): runs of consecutive identical tokens
    // collapse to one occurrence; both engines replay the same
    // previous-element lambda (Spark `get` 0-based / DuckDB 1-based
    // bracket, each null at the left edge).
    "q_squeeze_repeats" -> Q(
      (s, dir) => {
        val cleaned = minietl.text.TextAnalysis.squeezeRepeats(col("text"))
        documents(s, dir).select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n_before"),
          size(split(cleaned, " ")).cast("bigint").as("n_after"),
          cleaned.as("cleaned"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_before,
             |  CAST(len(cleaned_list) AS BIGINT) AS n_after,
             |  array_to_string(cleaned_list, ' ') AS cleaned
             |FROM (
             |  SELECT doc_id, text,
             |    list_filter(string_split(text, ' '),
             |      (x, i) -> x IS DISTINCT FROM string_split(text, ' ')[i - 1]) AS cleaned_list
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // K-means clustering as a corpus-curation operator (domain discovery):
    // train the same deterministic Lloyd model as q_ivf_ann, then report
    // cluster × label composition. Serving replayed from the learned
    // centroid literals (the IVF pattern); training is spec-covered.
    "q_kmeans_clusters" -> Q(
      (s, dir) => {
        val e = embeddings(s, dir)
        val model = minietl.sim.Ivf.train(e, nlist = 8, iters = 3)
        kmeansServingOracle = Some(
          minietl.sim.Ivf.clusterCompositionOracleSql(model, Seq("label")))
        minietl.sim.Ivf.clusterComposition(e, model, byCols = Seq("label"))
          .orderBy("cluster", "label")
      },
      None),

    // JL random projection (sim/RandomProjection.scala): 64 → 8 dims with
    // deterministic ±1 hash-derived signs, the ingest-time reducer ahead
    // of LSH/IVF. The oracle regenerates the identical sign matrix from
    // (seed, dims) and replays the sequential folds and the √dimOut scale.
    "q_random_projection" -> Q(
      (s, dir) => {
        val comps = minietl.sim.RandomProjection.components(
          col("embedding"), seed = 7, dimIn = 64, dimOut = 8)
        embeddings(s, dir)
          .select(col("vec_id") +: comps.zipWithIndex.map { case (c, k) =>
            (round(c, 4) + lit(0.0)).as(s"y$k")
          }: _*)
          .orderBy("vec_id")
      },
      Some {
        val exprs = minietl.sim.RandomProjection.componentOracleExprs(
          "v", seed = 7, dimIn = 64, dimOut = 8)
        val cols = exprs.zipWithIndex
          .map { case (e, k) => s"round($e, 4) + 0.0 AS y$k" }.mkString(",\n  ")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |           FROM embeddings)
           |SELECT vec_id,
           |  $cols
           |FROM e ORDER BY vec_id""".stripMargin
      }),

    // SemDeDup (sim/SemDedup.scala): k-means bounds the quadratic, cosine
    // edges inside clusters, connected components pick one canonical per
    // duplicate set. Train-then-serve oracle: centroid literals + pairwise
    // + recursive reachability CTE replay the whole serving path (including
    // any hot-cluster recluster rounds — none fire at this cap/SF, and the
    // oracle is built from the ACTUAL trained chain, so the replay is
    // honest either way).
    "q_semdedup" -> Q(
      (s, dir) => {
        val e = embeddings(s, dir)
        val model = minietl.sim.Ivf.train(e, nlist = 8, iters = 3)
        val (out, subs) = minietl.sim.SemDedup.semDedupTrace(e, model, tau = 0.4)
        semdedupServingOracle = Some(
          minietl.sim.SemDedup.oracleSql(model, tau = 0.4, subModels = subs))
        out.orderBy("id")
      },
      None),

    // The hot-cluster RECOVERY path (VERDICT r15 Next #2), forced by a cap
    // the sf corpora exceed (nlist=4 puts ~n/4 rows per cluster, far over
    // cap 40): over-cap clusters are split by a second k-means round
    // (composite (cluster, sub) pairing key) instead of isolating every
    // row. The oracle unrolls the trained sub-model round — big/over/
    // sub-assign CTEs — so a hash match proves the census, the recursive
    // re-assignment with low-index ties, the final still-over-cap census,
    // AND the within-cell cosine components.
    "q_semdedup_recluster" -> Q(
      (s, dir) => {
        val e = embeddings(s, dir)
        val model = minietl.sim.Ivf.train(e, nlist = 4, iters = 3)
        val (out, subs) = minietl.sim.SemDedup.semDedupTrace(e, model,
          tau = 0.4, maxClusterSize = 40)
        require(subs.nonEmpty,
          "q_semdedup_recluster: cap 40 must trigger at least one recluster round")
        semdedupReclusterOracle = Some(minietl.sim.SemDedup.oracleSql(
          model, tau = 0.4, maxClusterSize = 40, subModels = subs))
        out.orderBy("id")
      },
      None),

    // The DEPTH-2 recovery chain (the 100 TB hierarchy argument, made
    // oracle-gated): reclusterMaxNlist=2 clamps each round's sub-model to
    // 2 centroids, so round 1 leaves over-cap composite groups by
    // pigeonhole (>= ceil(n / (4 clusters x 2 subs)) rows in the largest
    // group, > cap 40 at every SF) and round 2 must re-split them —
    // two trained sub-models, two unrolled CTE rounds in the oracle, and
    // whatever STILL exceeds the cap after round 2 isolates. A hash match
    // proves the multi-round census chain, both re-assignments, and the
    // final isolate fallback in one gate.
    "q_semdedup_recluster2" -> Q(
      (s, dir) => {
        val e = embeddings(s, dir)
        val model = minietl.sim.Ivf.train(e, nlist = 4, iters = 3)
        val (out, subs) = minietl.sim.SemDedup.semDedupTrace(e, model,
          tau = 0.4, maxClusterSize = 40, reclusterRounds = 2,
          reclusterMaxNlist = 2)
        require(subs.size == 2,
          "q_semdedup_recluster2: the nlist clamp must force exactly two recovery rounds")
        semdedupRecluster2Oracle = Some(minietl.sim.SemDedup.oracleSql(
          model, tau = 0.4, maxClusterSize = 40, subModels = subs))
        out.orderBy("id")
      },
      None),

    // decodeStub features are exact binary doubles (integer fold + power-of-2
    // scale), so no rounding is needed and DuckDB can replay a slot's strided
    // fold independently (text is ASCII: char positions = byte positions)
    "q_multimodal_features" -> Q(
      (s, dir) => {
        val media = minietl.multimodal.Multimodal.fakeMedia(documents(s, dir), "doc_id", "text")
        minietl.multimodal.Multimodal.extractFeatures(media, featureDim = 16)
          .select(col("media_id"), col("n_bytes"),
            element_at(col("features"), 1).as("f0"),
            element_at(col("features"), 16).as("f15"))
          .orderBy("media_id")
      },
      Some(s"""SELECT doc_id AS media_id,
              |  CAST(coalesce(octet_length(encode(text)), 0) AS BIGINT) AS n_bytes,
              |  ${mmSlotSql(0)} AS f0,
              |  ${mmSlotSql(15)} AS f15
              |FROM documents ORDER BY media_id""".stripMargin)),

    // REAL image decode under the hash gate: a deterministic checkerboard
    // PNG is generated per document (Multimodal.syntheticImages documents
    // the closed-form pixel layout), decoded back with JDK ImageIO, and the
    // exact integer channel sums + luminance entropy are compared against
    // an oracle that replays the generator's arithmetic from doc_id alone —
    // DuckDB cannot decode PNGs, so a hash match proves the decode really
    // recovered every pixel.
    "q_image_features" -> Q(
      (s, dir) => {
        val imgs = minietl.multimodal.Multimodal.syntheticImages(documents(s, dir), "doc_id")
        minietl.multimodal.Multimodal.imageStats(imgs)
          .select(col("media_id"), col("width"), col("height"),
            col("r_sum"), col("g_sum"), col("b_sum"), col("n_pixels"),
            round(col("entropy"), 6).as("entropy"))
          .orderBy("media_id")
      },
      Some("""SELECT media_id, width, height,
             |  CAST(r1*n1 + r2*n2 AS BIGINT) AS r_sum,
             |  CAST(g1*n1 + g2*n2 AS BIGINT) AS g_sum,
             |  CAST(b1*n1 + b2*n2 AS BIGINT) AS b_sum,
             |  CAST(width*height AS BIGINT) AS n_pixels,
             |  CASE WHEN (r1+g1+b1)//3 = (r2+g2+b2)//3 THEN 0.0
             |       ELSE round(-((n1*1.0/(width*height)) * log2(n1*1.0/(width*height))
             |                  + (n2*1.0/(width*height)) * log2(n2*1.0/(width*height))), 6)
             |  END AS entropy
             |FROM (
             |  SELECT media_id, width, height, n1, width*height - n1 AS n2,
             |         r1, g1, b1, r2, g2, b2
             |  FROM (
             |    SELECT doc_id AS media_id,
             |      CAST(4 + doc_id % 5 AS INT) AS width,
             |      CAST(3 + doc_id % 4 AS INT) AS height,
             |      ((5 + doc_id % 5) // 2) * ((4 + doc_id % 4) // 2)
             |        + ((4 + doc_id % 5) // 2) * ((3 + doc_id % 4) // 2) AS n1,
             |      (doc_id*37) % 256 AS r1, (doc_id*59) % 256 AS g1, (doc_id*83) % 256 AS b1,
             |      (doc_id*101 + 7) % 256 AS r2, (doc_id*13 + 11) % 256 AS g2, (doc_id*29 + 23) % 256 AS b2
             |    FROM documents))
             |ORDER BY media_id""".stripMargin)),

    // Perceptual image dedup (multimodal/PerceptualHash.scala): REAL
    // decode → 56-bit dHash → exact-duplicate grouping on the full hash.
    // The corpus is gradient PNGs whose every sampled gray value is
    // closed-form over doc_id, so the oracle recomputes all 56 gradient-
    // sign bits from arithmetic alone — a hash match proves the decode,
    // the 8×8 nearest-neighbor sampling, AND the bit packing.
    "q_image_dhash" -> Q(
      (s, dir) => {
        val imgs = minietl.multimodal.PerceptualHash
          .syntheticGradientImages(documents(s, dir), "doc_id")
        // referenced by the group census AND the labeling join — persist
        // the narrow hash frame so the PNG encode+decode runs once
        // (r17-opt; same rationale as q_image_neardup_hamming)
        val hashes = minietl.multimodal.PerceptualHash.dHashes(imgs).persist()
        val groups = hashes.groupBy("dhash").agg(
          count(lit(1)).as("group_size"), min("media_id").as("canon"))
        hashes.join(groups, "dhash")
          .select(col("media_id"), col("width"), col("height"), col("dhash"),
            col("group_size"),
            when(col("media_id") === col("canon"), lit(1L)).otherwise(lit(0L))
              .as("keep"))
          .orderBy("media_id")
      },
      Some {
        val dh = minietl.multimodal.PerceptualHash.dHashOracleExpr("doc_id")
        s"""WITH h AS (
           |  SELECT doc_id AS media_id,
           |    CAST(8 + doc_id % 5 AS INT) AS width,
           |    CAST(8 + doc_id % 4 AS INT) AS height,
           |    $dh AS dhash
           |  FROM documents),
           |g AS (SELECT dhash, count(*) AS group_size, min(media_id) AS canon
           |      FROM h GROUP BY 1)
           |SELECT h.media_id, h.width, h.height, h.dhash, g.group_size,
           |  CAST(CASE WHEN h.media_id = g.canon THEN 1 ELSE 0 END AS BIGINT)
           |    AS keep
           |FROM h JOIN g USING (dhash) ORDER BY h.media_id""".stripMargin
      }),

    // Banded Hamming near-dup over the same dHash corpus: 4×14-bit bands
    // (pigeonhole recall 1.0 for distance ≤ 3), exact bit_count(xor)
    // verify on band-collided candidates only — never an all-pairs
    // product. The oracle replays hash + bands + verify in DuckDB.
    "q_image_neardup_hamming" -> Q(
      (s, dir) => {
        val imgs = minietl.multimodal.PerceptualHash
          .syntheticGradientImages(documents(s, dir), "doc_id")
        // the hash frame is referenced by hammingPairs' three legs (both
        // join sides + the bucket census) AND the final left join, and the
        // dHashes lineage is an RDD (no stats, never broadcast, and — the
        // real cost — every unpersisted reference re-ENCODES and re-DECODES
        // every PNG; r17-opt measured 5 decode executions in the plan).
        // Persist the NARROW hash frame once (guide §1.2 "don't compute
        // things twice"; released by the battery's clearCache like every
        // operator-internal persist)
        val hashes = minietl.multimodal.PerceptualHash.dHashes(imgs).persist()
        // pairs is read twice by the symmetric union below — without a
        // persist the whole banded self-join subtree executes once per
        // branch (r17-opt: the before-plan carried both copies)
        val pairs = minietl.multimodal.PerceptualHash
          .hammingPairs(hashes, "media_id", "dhash", maxDist = 3).persist()
        // per-image summary keeps the output LINEAR in corpus size (the
        // raw pair set is ~quadratic inside hot parameter groups: 13k
        // pairs over 500 docs at sf0.01); any wrong pair flips some
        // image's count / nearest, so the gate strength is unchanged
        val sym = pairs
          .select(col("id_a").as("id"), col("id_b").as("nb"), col("hamming"))
          .union(pairs
            .select(col("id_b").as("id"), col("id_a").as("nb"), col("hamming")))
        val summary = sym.groupBy("id").agg(
          count(lit(1)).as("n_neighbors"),
          min(struct(col("hamming"), col("nb"))).as("m"))
        hashes.select(col("media_id")).join(
            summary.select(col("id").as("media_id"), col("n_neighbors"),
              col("m.hamming").as("min_hamming"), col("m.nb").as("nearest_id")),
            Seq("media_id"), "left")
          .select(col("media_id"),
            coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
            col("min_hamming"), col("nearest_id"))
          .orderBy("media_id")
      },
      Some {
        val dh = minietl.multimodal.PerceptualHash.dHashOracleExpr("doc_id")
        s"""WITH h AS (SELECT doc_id AS id, $dh AS dhash FROM documents),
           |b0 AS (SELECT id, dhash, bb.b AS band,
           |        (dhash >> (14 * bb.b)) & 16383 AS bv
           |      FROM h, (SELECT unnest(range(0, 4)) AS b) bb),
           |big AS (SELECT band, bv FROM b0 GROUP BY band, bv
           |        HAVING count(*) > ${minietl.dedup.Dedup.DefaultMaxBucket}),
           |b AS (SELECT b0.* FROM b0 ANTI JOIN big USING (band, bv)),
           |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b,
           |           CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT)
           |             AS hamming
           |         FROM b x JOIN b y
           |           ON x.band = y.band AND x.bv = y.bv AND x.id < y.id),
           |p AS (SELECT id_a, id_b, hamming FROM cand
           |      WHERE hamming BETWEEN 1 AND 3),
           |sym AS (SELECT id_a AS id, id_b AS nb, hamming FROM p
           |        UNION ALL
           |        SELECT id_b AS id, id_a AS nb, hamming FROM p),
           |summ AS (SELECT id, count(*) AS n_neighbors,
           |           min(hamming) AS min_hamming,
           |           first(nb ORDER BY hamming, nb) AS nearest_id
           |         FROM sym GROUP BY id)
           |SELECT h.id AS media_id,
           |  coalesce(s.n_neighbors, 0) AS n_neighbors,
           |  s.min_hamming, s.nearest_id
           |FROM h LEFT JOIN summ s ON s.id = h.id
           |ORDER BY media_id""".stripMargin
      }),

    // The composed near-dup INGEST stage (multimodal/PerceptualHash
    // .dedupNear): exact groups collapse to min-key reps, banded Hamming
    // pairs between distinct hashes, transitive connected components,
    // keep the minimum key per component. The oracle replays hash → group
    // → bands → census cap → verified pairs → recursive reachability →
    // min-rep labeling, so the keep flag gates the WHOLE composition
    // (A≈B≈C must drop C even when dist(A,C) > maxDist).
    "q_image_neardup_dedup" -> Q(
      (s, dir) => {
        // the synthetic corpus is referenced four times (hash pass, the
        // stage's pass-back semi-join, the keep-flag join's both sides) and
        // each unpersisted reference would re-ENCODE every PNG — persist
        // the fixture once (released by the battery's clearCache between
        // queries, like every operator-internal persist)
        val imgs = minietl.multimodal.PerceptualHash
          .syntheticGradientImages(documents(s, dir), "doc_id")
          .select(col("media_id"), col("content"))
          .persist()
        val kept = minietl.multimodal.PerceptualHash
          .dedupNear(imgs, "media_id", "content")
        imgs.select(col("media_id"))
          .join(kept.select(col("media_id"), lit(1L).as("keep")),
            Seq("media_id"), "left")
          .select(col("media_id"), coalesce(col("keep"), lit(0L)).as("keep"))
          .orderBy("media_id")
      },
      Some {
        val dh = minietl.multimodal.PerceptualHash.dHashOracleExpr("doc_id")
        s"""WITH RECURSIVE h AS (SELECT doc_id AS id, $dh AS dhash FROM documents),
           |g AS (SELECT dhash, min(id) AS rep FROM h GROUP BY 1),
           |b0 AS (SELECT rep, dhash, bb.b AS band,
           |        (dhash >> (14 * bb.b)) & 16383 AS bv
           |      FROM g, (SELECT unnest(range(0, 4)) AS b) bb),
           |big AS (SELECT band, bv FROM b0 GROUP BY band, bv
           |        HAVING count(*) > ${minietl.dedup.Dedup.DefaultMaxBucket}),
           |b AS (SELECT b0.* FROM b0 ANTI JOIN big USING (band, bv)),
           |p AS (SELECT DISTINCT x.rep AS id_a, y.rep AS id_b
           |      FROM b x JOIN b y
           |        ON x.band = y.band AND x.bv = y.bv AND x.rep < y.rep
           |      WHERE bit_count(xor(x.dhash, y.dhash)) BETWEEN 1 AND 3),
           |edges AS (SELECT id_a AS a, id_b AS b FROM p
           |          UNION ALL SELECT id_b, id_a FROM p),
           |nodes AS (SELECT DISTINCT a AS id FROM edges),
           |reach AS (
           |  SELECT id, id AS r FROM nodes
           |  UNION
           |  SELECT e2.a AS id, reach.r FROM edges e2 JOIN reach ON e2.b = reach.id),
           |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
           |keeprep AS (SELECT DISTINCT coalesce(c.comp, g.rep) AS keep_id
           |            FROM g LEFT JOIN comp c ON c.id = g.rep)
           |SELECT h.id AS media_id,
           |  CAST(CASE WHEN k.keep_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           |    AS keep
           |FROM h LEFT JOIN keeprep k ON k.keep_id = h.id
           |ORDER BY media_id""".stripMargin
      }),

    // Perceptual AUDIO dedup (multimodal/PerceptualAudio.scala): REAL PCM
    // decode → 56-bit window-energy-contour hash → exact groups → banded
    // Hamming near-dup → transitive components → keep min key. The
    // square-wave corpus makes every window energy closed-form over
    // doc_id, so the oracle recomputes all 56 contour bits from arithmetic
    // alone (a hash match proves the real decode, the window bounds, the
    // energy fold, and the packing), then replays groups → bands → census
    // cap → verified pairs → recursive reachability → min-rep labeling.
    "q_audio_neardup_dedup" -> Q(
      (s, dir) => {
        // the synthetic corpus is referenced by the hash pass AND the
        // dedup stage's two passes — persist so WAV encoding runs once
        val wavs = minietl.multimodal.Multimodal
          .syntheticWavs(documents(s, dir), "doc_id")
          .select(col("media_id"), col("content"))
          .persist()
        // ONE decode: the same hash frame feeds the audit columns AND the
        // dedup fold (dedupNear(df, key, content) would recompute
        // energyHashFrame internally — a second full PCM decode; r17-opt).
        // Checkpointed here: dedupNearFromHashes reads a checkpoint as it is.
        val hashes = minietl.pipeline.RunCaches.checkpoint(minietl.multimodal.PerceptualAudio
          .energyHashFrame(wavs, "media_id", "content"))
        val kept = minietl.multimodal.PerceptualAudio
          .dedupNearFromHashes(wavs, "media_id", hashes)
        hashes
          .join(kept.select(col("media_id"), lit(1L).as("keep")),
            Seq("media_id"), "left")
          .select(col("media_id"), col("ahash"),
            coalesce(col("keep"), lit(0L)).as("keep"))
          .orderBy("media_id")
      },
      Some {
        val ah = minietl.multimodal.PerceptualAudio.energyHashOracleExpr("doc_id")
        s"""WITH RECURSIVE h AS (SELECT doc_id AS id, $ah AS ahash FROM documents),
           |g AS (SELECT ahash, min(id) AS rep FROM h GROUP BY 1),
           |b0 AS (SELECT rep, ahash, bb.b AS band,
           |        (ahash >> (14 * bb.b)) & 16383 AS bv
           |      FROM g, (SELECT unnest(range(0, 4)) AS b) bb),
           |big AS (SELECT band, bv FROM b0 GROUP BY band, bv
           |        HAVING count(*) > ${minietl.dedup.Dedup.DefaultMaxBucket}),
           |b AS (SELECT b0.* FROM b0 ANTI JOIN big USING (band, bv)),
           |p AS (SELECT DISTINCT x.rep AS id_a, y.rep AS id_b
           |      FROM b x JOIN b y
           |        ON x.band = y.band AND x.bv = y.bv AND x.rep < y.rep
           |      WHERE bit_count(xor(x.ahash, y.ahash)) BETWEEN 1 AND 3),
           |edges AS (SELECT id_a AS a, id_b AS b FROM p
           |          UNION ALL SELECT id_b, id_a FROM p),
           |nodes AS (SELECT DISTINCT a AS id FROM edges),
           |reach AS (
           |  SELECT id, id AS r FROM nodes
           |  UNION
           |  SELECT e2.a AS id, reach.r FROM edges e2 JOIN reach ON e2.b = reach.id),
           |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
           |keeprep AS (SELECT DISTINCT coalesce(c.comp, g.rep) AS keep_id
           |            FROM g LEFT JOIN comp c ON c.id = g.rep)
           |SELECT h.id AS media_id, h.ahash,
           |  CAST(CASE WHEN k.keep_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           |    AS keep
           |FROM h LEFT JOIN keeprep k ON k.keep_id = h.id
           |ORDER BY media_id""".stripMargin
      }),

    // REAL PCM audio decode under the hash gate — the audio twin of
    // q_image_features: a deterministic period-2 square-wave WAV is
    // generated per document (Multimodal.syntheticWavs documents the
    // closed-form sample layout), decoded back with JDK javax.sound.sampled,
    // and the exact integer sample sum / sum-of-squares / peak are compared
    // against an oracle replaying the generator's arithmetic from doc_id
    // alone — DuckDB cannot parse WAV, so a hash match proves the decode
    // really recovered every sample.
    "q_audio_features" -> Q(
      (s, dir) => {
        val wavs = minietl.multimodal.Multimodal.syntheticWavs(documents(s, dir), "doc_id")
        minietl.multimodal.Multimodal.audioStats(wavs)
          .select(col("media_id"), col("frames"),
            col("channels").cast("long").as("channels"), col("sample_rate"),
            col("bits").cast("long").as("bits"),
            col("sample_sum"), col("sum_sq"), col("peak_abs"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(300 + doc_id % 101 AS BIGINT) AS frames,
             |  CAST(1 AS BIGINT) AS channels,
             |  CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
             |  CAST(16 AS BIGINT) AS bits,
             |  CAST(a1 * n1 + a2 * n2 AS BIGINT) AS sample_sum,
             |  CAST(a1 * a1 * n1 + a2 * a2 * n2 AS BIGINT) AS sum_sq,
             |  CAST(greatest(abs(a1), abs(a2)) AS BIGINT) AS peak_abs
             |FROM (
             |  SELECT doc_id, (n + 1) // 2 AS n1, n // 2 AS n2,
             |    (131 * doc_id) % 20001 - 10000 AS a1,
             |    (257 * doc_id + 19) % 20001 - 10000 AS a2
             |  FROM (SELECT doc_id, 300 + doc_id % 101 AS n FROM documents))
             |ORDER BY media_id""".stripMargin)),

    // REAL ISO-BMFF container-metadata walk (the JDK ships no video codec,
    // so frame decode stays stubbed — but brand/duration/tracks/codec
    // fourcc/display size are a zero-dependency binary parse, the Excel
    // move applied to video; multimodal/Multimodal.scala parseMp4Meta).
    // Each doc_id gets a real generated MP4 container whose every field is
    // closed-form over the id (syntheticMp4s scaladoc), so DuckDB verifies
    // the box walk without parsing ISO-BMFF itself.
    "q_video_meta" -> Q(
      (s, dir) => {
        val mp4s = minietl.multimodal.Multimodal.syntheticMp4s(documents(s, dir), "doc_id")
        minietl.multimodal.Multimodal.videoMeta(mp4s)
          .select(col("media_id"), col("major_brand"), col("timescale"),
            col("duration_ms"), col("n_tracks").cast("long").as("n_tracks"),
            col("track_types"), col("codecs"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  ['isom','mp42','dash'][CAST(doc_id % 3 AS INT) + 1] AS major_brand,
             |  CAST(1000 AS BIGINT) AS timescale,
             |  CAST(5000 + (doc_id % 997) * 10 AS BIGINT) AS duration_ms,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_tracks,
             |  CASE WHEN doc_id % 2 = 0 THEN 'vide,soun' ELSE 'vide' END AS track_types,
             |  ['avc1','hvc1','vp09','av01'][CAST(doc_id % 4 AS INT) + 1] ||
             |    CASE WHEN doc_id % 2 = 0 THEN ',mp4a' ELSE '' END AS codecs,
             |  CAST(16 * (2 + doc_id % 8) AS BIGINT) AS width,
             |  CAST(16 * (1 + doc_id % 6) AS BIGINT) AS height
             |FROM documents ORDER BY media_id""".stripMargin)),

    // REAL video frame decode under the hash gate (VERDICT r13 Next #6):
    // per-id uncompressed BI_RGB AVIs (real RIFF containers, bottom-up
    // 24bpp rows) are decoded frame by frame; byte_sum/min/max cover every
    // channel byte and top_left_sum is orientation-SENSITIVE (the top row
    // is stored LAST in the file), so a hash match proves the real
    // container walk + pixel layout decode, not a byte slurp. DuckDB
    // replays the closed-form pixel formula over generate_series — it
    // never parses RIFF, which is the point.
    "q_video_frames" -> Q(
      (s, dir) => {
        val avis = minietl.multimodal.Multimodal.syntheticAvis(documents(s, dir), "doc_id")
        minietl.multimodal.Multimodal.videoFrames(avis)
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH ids AS (SELECT doc_id AS id, 4 * (2 + doc_id % 4) AS w,
             |    2 + doc_id % 5 AS h, 2 + doc_id % 3 AS nf FROM documents),
             |px AS (SELECT id, w, h, f.f, y.y, x.x,
             |    (id * 7 + f.f * 131 + y.y * 17 + x.x * 3 + c.c * 29) % 251 AS v
             |  FROM ids,
             |    LATERAL unnest(range(0, nf)) f(f),
             |    LATERAL unnest(range(0, h)) y(y),
             |    LATERAL unnest(range(0, w)) x(x),
             |    LATERAL unnest(range(0, 3)) c(c))
             |SELECT id AS media_id, f AS frame_idx,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(sum(v) AS BIGINT) AS byte_sum,
             |  CAST(min(v) AS BIGINT) AS byte_min,
             |  CAST(max(v) AS BIGINT) AS byte_max,
             |  CAST(sum(v) FILTER (WHERE y = 0 AND x = 0) AS BIGINT) AS top_left_sum
             |FROM px GROUP BY id, f, w, h
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // MJPEG-in-MP4 frame decode (VERDICT r15 Next #4 — the stsc/stsz/stco
    // sample-table walk feeding the JDK JPEG path, closing the AVI-only
    // asymmetry): per-id real MP4s whose mdat carries solid-gray JPEG
    // template frames; the engine recovers each sample through the
    // run-length sample-to-chunk map and decodes it. The oracle replays
    // the generator's (clip, frame) -> template layout with the templates'
    // decoded stats as literals — it pins the WALK (wrong slicing decodes
    // to nothing or to another template's stats); JPEG codec fidelity is
    // spec-pinned (MultimodalSpec), since a lossy codec has no closed-form
    // SQL pixel oracle. Corpus bounded to 48 clips: template stats are
    // id-independent, so more rows would re-verify the same arithmetic.
    "q_mjpeg_frames" -> Q(
      (s, dir) => {
        val clips = minietl.multimodal.Multimodal.syntheticMjpegMp4s(
          documents(s, dir).where(col("doc_id") < 48), "doc_id")
        minietl.multimodal.Multimodal.mp4Frames(clips)
          .orderBy("media_id", "frame_idx")
      },
      Some {
        val vals = minietl.multimodal.Multimodal.jpegTemplates.zipWithIndex
          .map { case ((_, st), t) =>
            s"($t, ${st.width}, ${st.height}, ${st.byteSum}, " +
              s"${st.byteMin}, ${st.byteMax}, ${st.topLeftSum})"
          }.mkString(",\n    ")
        s"""WITH t(tid, w, h, bsum, bmin, bmax, tl) AS (VALUES
           |    $vals),
           |ids AS (SELECT doc_id AS id, 1 + doc_id % 4 AS nf
           |        FROM documents WHERE doc_id < 48),
           |fr AS (SELECT id, f.f AS frame_idx, (id + f.f) % 6 AS tid
           |       FROM ids, LATERAL unnest(range(0, nf)) f(f))
           |SELECT id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           |  CAST(bsum AS BIGINT) AS byte_sum,
           |  CAST(bmin AS BIGINT) AS byte_min,
           |  CAST(bmax AS BIGINT) AS byte_max,
           |  CAST(tl AS BIGINT) AS top_left_sum
           |FROM fr JOIN t USING (tid)
           |ORDER BY media_id, frame_idx""".stripMargin
      }),

    // The API source under the hash gate (closes the last §2.1 family
    // without a DuckDB oracle row, VERDICT r9 Next #4): a loopback JDK
    // HttpServer serves 240 formula-derived records as page/limit JSON
    // pages nested under data.items; the query reads them through the
    // DataSourceV2 REST path (page ranges → InputPartitions, executors
    // fetch in parallel — 16 partitions over 24 pages); DuckDB replays the
    // record formula from generate_series. A hash match proves pagination,
    // dotted data_path navigation, typed row decode, and partition
    // planning return exactly the served rows.
    "q_api_roundtrip" -> Q(
      (s, _) => {
        s.read.format("minietl.io.rest.RestDataSource")
          .schema("rec_id LONG, name STRING, score LONG")
          .option("url", s"$apiFixtureUrl/records")
          .option("pages", "24").option("limit", "10")
          .option("dataPath", "data.items")
          .load()
          .orderBy("rec_id")
      },
      Some("""SELECT CAST(i AS BIGINT) AS rec_id, 'rec_' || i AS name,
             |  CAST((i % 7) * 10 AS BIGINT) AS score
             |FROM generate_series(0, 239) AS t(i) ORDER BY rec_id""".stripMargin)),

    // The STREAMING surface driven from YAML config alone (round-8 mandate:
    // the config-level analog of the reference Scheduler done the
    // Structured-Streaming way): a file-stream source + declared schema +
    // watermark + filter stage + tumbling window_agg + memory sink, all
    // described in the stream: YAML form and drained AvailableNow — result
    // must match the batch twin SQL exactly.
    "q_config_stream" -> Q(
      (s, dir) => {
        val stage = stagingDir("cfgstream", dir)
        deleteTree(stage)
        events(s, dir).select("ts", "event_type", "value")
          .coalesce(1).write.mode("overwrite").parquet(s"$stage/in")
        val qname = s"cfg_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val yaml =
          s"""name: battery_stream
             |stream:
             |  source:
             |    type: parquet
             |    path: $stage/in
             |    schema:
             |      - {name: ts, dtype: timestamp}
             |      - {name: event_type, dtype: string}
             |      - {name: value, dtype: float64}
             |  watermark: {column: ts, delay: 0 seconds}
             |  stages:
             |    - {type: filter, condition: "value > 1"}
             |    - type: window_agg
             |      window: 5 minutes
             |      keys: [event_type]
             |      aggregations: {value: [sum, count]}
             |  sink:
             |    type: memory
             |    query_name: $qname
             |    checkpoint: $stage/chk
             |    output_mode: complete
             |    trigger: available_now
             |""".stripMargin
        withStreamStateParts(s) {
          minietl.config.Config.loadStream(yaml).runAvailableNow(s)
        }
        s.table(qname)
          .select(col("window.start").as("win_start"), col("event_type"),
            round(col("value_sum"), 2).as("value_sum"), col("value_count"))
          .orderBy("win_start", "event_type")
      },
      Some("""SELECT CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP) AS win_start,
             |  event_type, round(sum(value), 2) AS value_sum, count(value) AS value_count
             |FROM events WHERE value > 1 GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    // BPE subword tokenizer, train-then-serve under the hash gate (the IVF
    // pattern): the query trains 20 deterministic merges on the corpus
    // word-count table, publishes a serving manifest (word → learned
    // segmentation) as SQL literals, and serves the per-doc encoding
    // aggregate distributed. DuckDB replays the AGGREGATION from the
    // manifest — subword identities included (n_distinct_subwords), not
    // just counts — so a hash match proves the broadcast-join serving path
    // emits exactly the learned segmentation for every token. The greedy
    // training loop itself is driver-side over the model-sized word table
    // (not SQL-replayable) and is covered by BpeSpec's hand example.
    "q_bpe_encode" -> Q(
      (s, dir) => {
        val d = documents(s, dir)
        val model = minietl.text.Bpe.train(d, "text", numMerges = 20)
        bpeServingOracle = Some(
          s"""WITH vocab(word, enc) AS (VALUES
             |    ${minietl.text.Bpe.manifestValuesSql(model)}),
             |toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |j AS (SELECT doc_id, enc FROM toks JOIN vocab ON tok = word
             |      WHERE tok <> ''),
             |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |    CAST(sum(len(string_split(enc, ' '))) AS BIGINT) AS n_subwords
             |  FROM j GROUP BY doc_id),
             |subs AS (SELECT doc_id, unnest(string_split(enc, ' ')) AS sub FROM j),
             |d AS (SELECT doc_id, CAST(count(DISTINCT sub) AS BIGINT)
             |    AS n_distinct_subwords
             |  FROM subs GROUP BY doc_id)
             |SELECT per.doc_id, n_tokens, n_subwords, n_distinct_subwords
             |FROM per JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin)
        minietl.text.Bpe.encodeStats(d, "doc_id", "text", model)
          .orderBy("doc_id")
      },
      None),

    // Structured Streaming parity: the same events aggregation, executed as
    // an unbounded file stream drained with Trigger.AvailableNow into a
    // memory sink — result must match the batch oracle exactly.
    "q_stream_window" -> Q(
      (s, dir) => {
        val agg = minietl.streaming.Streaming.tumblingAgg(
          stagedEventStream(s, dir), tsCol = "ts", watermarkDelay = "0 seconds",
          windowDuration = "5 minutes", keys = Seq("event_type"),
          aggs = Map("value" -> Seq("sum", "count")))
        drainCompleteMode(s, agg, "stream_win")
          .select(col("window.start").as("win_start"), col("event_type"),
            round(col("value_sum"), 2).as("value_sum"), col("value_count"))
          .orderBy("win_start", "event_type")
      },
      Some("""SELECT CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP) AS win_start,
             |  event_type, round(sum(value), 2) AS value_sum, count(value) AS value_count
             |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    // Session windows through the STREAMING path (variable-length gap-merged
    // state in the session store), drained AvailableNow and checked against
    // the same lag/islands oracle as the batch q_sessionize.
    "q_stream_sessionize" -> Q(
      (s, dir) => {
        val agg = minietl.streaming.Streaming.sessionAgg(
          stagedEventStream(s, dir), tsCol = "ts", watermarkDelay = "0 seconds",
          gap = "30 minutes", keys = Seq("user_id"),
          aggs = Map("value" -> Seq("sum", "count")))
        drainCompleteMode(s, agg, "stream_sess")
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("value_count").as("n_events"),
            round(col("value_sum"), 2).as("total"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH o AS (
             |  SELECT user_id, ts, value, event_id,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events),
             |sess AS (
             |  SELECT user_id, ts, value,
             |    sum(CASE WHEN prev_ts IS NULL
             |             OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM o)
             |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
             |  count(*) AS n_events, round(sum(value), 2) AS total
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // The same session semantics through CUSTOM state (flatMapGroupsWithState
    // + EventTimeTimeout + per-key flush sentinels) instead of
    // session_window — the fully-programmable path for session logic the
    // built-in cannot express. Emits closed sessions with start AND end;
    // checked against the identical batch islands oracle.
    "q_stream_custom_sessions" -> Q(
      (s, dir) => {
        val sessions = minietl.streaming.Streaming.customSessionize(
          stagedSessionStream(s, dir, gapSeconds = 1800),
          keyCol = "user_id", tsCol = "ts", valueCol = "value",
          gapSeconds = 1800, watermarkDelay = "0 seconds",
          flushCol = Some("flush"))
        drainAppendMode(s, sessions.toDF(), "stream_csess")
          .select(col("k").as("user_id"),
            timestamp_micros(col("start_us")).as("session_start"),
            timestamp_micros(col("end_us")).as("session_end"),
            col("n_events"),
            round(col("total"), 2).as("total"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH o AS (
             |  SELECT user_id, ts, value, event_id,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events),
             |sess AS (
             |  SELECT user_id, ts, value,
             |    sum(CASE WHEN prev_ts IS NULL
             |             OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM o)
             |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
             |  CAST(max(ts) AS TIMESTAMP) AS session_end,
             |  count(*) AS n_events, round(sum(value), 2) AS total
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // Stream-STATIC left-anti join: streaming documents deduped against a
    // historical fingerprint set (the even doc_ids play the role of the
    // already-ingested corpus). No state store on either side — the static
    // digest is re-planned per micro-batch; checked against the batch
    // anti-join SQL.
    "q_stream_dedup_static" -> Q(
      (s, dir) => {
        val history = documents(s, dir)
          .where(pmod(col("doc_id"), lit(2)) === 0)
          .select(md5(col("text").cast("binary")).as("fp"))
        val fresh = minietl.streaming.Streaming.dedupAgainstHistory(
          stagedDocStream(s, dir)
            .withColumn("fp", md5(col("text").cast("binary"))),
          history, "fp")
        drainAppendMode(s, fresh.select(col("doc_id"), col("fp")), "stream_sdedup")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS fp FROM documents
             |WHERE md5(text) NOT IN
             |  (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0)
             |ORDER BY doc_id""".stripMargin)),

    // Stream-stream event-time interval join through the STREAMING path
    // (join state bounded by watermark + interval), drained AvailableNow in
    // append mode and checked against the batch range-join oracle: every
    // click in the hour before each purchase.
    "q_stream_interval_join" -> Q(
      (s, dir) => {
        val purchases = stagedEventStream(s, dir)
          .where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = stagedEventStream(s, dir)
          .where(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("cts"),
            col("event_id").as("click_id"), col("value").as("cval"))
        val joined = minietl.streaming.Streaming.intervalJoin(
          purchases, clicks, keys = Seq("user_id"),
          leftTs = "ts", rightTs = "cts", watermarkDelay = "2 hours",
          lookback = "1 hour", lookahead = "0 seconds")
        drainAppendMode(s, joined, "stream_ij")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("click_id"), round(col("cval"), 2).as("click_value"))
          .orderBy("event_id", "click_id")
      },
      Some("""SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
             |  c.event_id AS click_id, round(c.value, 2) AS click_value
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id
             | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
             |ORDER BY p.event_id, click_id""".stripMargin)),

    // Watermark LATE-DATA semantics made oracle-checkable (the only battery
    // query verifying watermark behavior, not just windowed-agg arithmetic).
    // Three mtime-ordered micro-batches (see stagedLateEventStream): the
    // replay batch's odd stragglers are filtered against Wf = max(bulk
    // ts) - 1h (the watermark the PREVIOUS batch executed with — batch N
    // filters with W(N-2) under Spark ≥3.4's split late-filter/eviction
    // watermarks, probed), dropped iff their 1h window closed at-or-before
    // Wf; the
    // final no-data batch emits (append mode) exactly the windows the
    // closing watermark We = G - 1h has passed. Output: full windows from
    // the bulk, a (Wf, We] band where accepted late rows are visible, and
    // counts missing the dropped stragglers below Wf.
    "q_stream_late_data" -> Q(
      (s, dir) => {
        val agg = stagedLateEventStream(s, dir)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100, 0) AS BIGINT)")).as("cents"))
        drainAppendMode(s, agg, "stream_late")
          .select(col("window.start").as("win_start"),
            col("n_events"), col("cents"))
          .orderBy("win_start")
      },
      Some("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value
             |          FROM events),
             |g AS (SELECT max(ts) AS gmax FROM e),
             |b AS (SELECT max(ts) AS bmax FROM e, g
             |      WHERE event_id % 2 = 0 AND ts <= gmax - INTERVAL 2 HOUR),
             |wf AS (SELECT (epoch_us(bmax) // 1000 - 3600000) * 1000 AS us FROM b),
             |we AS (SELECT (epoch_us(gmax) // 1000 - 3600000) * 1000 AS us FROM g),
             |kept AS (
             |  SELECT ts, value FROM e, g
             |  WHERE event_id % 2 = 0 AND ts <= gmax - INTERVAL 2 HOUR
             |  UNION ALL
             |  SELECT ts, value FROM e, g
             |  WHERE ts > gmax - INTERVAL 2 HOUR AND ts <= gmax - INTERVAL 1 HOUR
             |  UNION ALL
             |  SELECT ts, value FROM e, g, wf
             |  WHERE ((event_id % 2 = 1 AND ts <= gmax - INTERVAL 2 HOUR)
             |         OR ts > gmax - INTERVAL 1 HOUR)
             |    AND epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) > wf.us),
             |agg AS (SELECT date_trunc('hour', ts) AS win_start,
             |          count(*) AS n_events,
             |          CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |        FROM kept GROUP BY 1)
             |SELECT CAST(win_start AS TIMESTAMP) AS win_start, n_events, cents
             |FROM agg, we
             |WHERE epoch_us(win_start + INTERVAL 1 HOUR) <= we.us
             |ORDER BY win_start""".stripMargin)),

    // Streaming watermark-bounded exact dedup through the STREAMING path
    // (dropDuplicatesWithinWatermark state keyed on event_id, dropped once
    // the watermark passes): the staged file re-emits every 10th event, the
    // dedup collapses the copies, and the windowed per-type counts come out
    // identical to the clean batch table. One AvailableNow batch holds the
    // whole file, so all copies land within the dedup state's lifetime.
    "q_stream_dedup" -> Q(
      (s, dir) => {
        val deduped = minietl.streaming.Streaming.dedupWithinWatermark(
          stagedDupEventStream(s, dir), tsCol = "ts",
          watermarkDelay = "24 hours", keys = Seq("event_id"))
        drainAppendMode(s, deduped, "stream_dedup")
          .groupBy(date_trunc("hour", col("ts")).as("win_start"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100, 0) AS BIGINT)")).as("cents"))
          .orderBy("win_start", "event_type")
      },
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
             |  event_type, count(*) AS n_events,
             |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    // The SELF-MAINTAINING exact ingest-dedup loop under the hash gate
    // (VERDICT r10 Next #1): two mtime-ordered micro-batches — batch 0 the
    // even-id docs, batch 1 the odd-id docs PLUS re-emitted %10==0 docs
    // (cross-batch history dups, dropped against the digest batch 0 grew)
    // and a second copy of the %10==5 docs (within-batch dups, collapsed by
    // the loop's keep-any). Staging rows are one min-id representative per
    // distinct text, so keep-any is deterministic even where the corpus
    // carries exact-dup texts (sf0.1 has 8). The result row set is the full
    // drain → admit → digest trajectory: admitted (batch, doc, fp), a
    // digest-membership flag computed by joining the REAL digest back, and
    // the batch's digest row count; DuckDB replays the loop as
    // first-batch-sighting-wins over the same staged multiset.
    "q_stream_dedup_history" -> Q(
      (s, dir) => {
        // persisted across the two staging writes: b0/b1 reference the
        // representative frame four times across two separate write jobs,
        // and without the persist the groupBy(text) aggregation re-runs per
        // job (§1.2 — ReusedExchange only dedups within ONE query)
        val docs = documents(s, dir)
          .groupBy("text").agg(min("doc_id").as("doc_id"))
          .select(col("doc_id"), col("text"))
          .persist()
        val b0 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        val b1 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
          .unionAll(docs.where(pmod(col("doc_id"), lit(10)) === 0))
          .unionAll(docs.where(pmod(col("doc_id"), lit(10)) === 5))
        val (work, in) = stageBatchFiles("dhist", dir, Seq(b0, b1))
        docs.unpersist() // staging materialized both batches; release now
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(in)
          .withColumn("fp", md5(col("text").cast("binary")))
        val outDir = work.resolve("out").toString
        val q = minietl.streaming.Streaming.dedupAndRecordHistory(
          stream, "fp", s"$work/digest", s"$work/chk") { (fresh, bid) =>
          fresh.select("doc_id", "fp").write.mode("overwrite")
            .parquet(minietl.streaming.Streaming.batchOutputPath(outDir, bid))
        }
        q.awaitTermination()
        val sunk = s.read.parquet(outDir)
          .select(col("batch").cast("long").as("batch"), col("doc_id"), col("fp"))
        val digest = s.read.parquet(s"$work/digest")
          .select(col("batch").cast("long").as("batch"), col("fp"))
        val digestN = digest.groupBy("batch").agg(count(lit(1)).as("digest_n"))
        sunk
          .join(digest.withColumn("in_digest", lit(true)), Seq("batch", "fp"), "left")
          .join(digestN, Seq("batch"))
          .select(col("batch"), col("doc_id"), col("fp"),
            coalesce(col("in_digest"), lit(false)).as("in_digest"),
            col("digest_n").cast("long").as("digest_n"))
          .orderBy("doc_id")
      },
      Some("""WITH rep AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
             |staged AS (
             |  SELECT doc_id, md5(text) AS fp, 0 AS batch FROM rep WHERE doc_id % 2 = 0
             |  UNION ALL SELECT doc_id, md5(text), 1 FROM rep WHERE doc_id % 2 = 1
             |  UNION ALL SELECT doc_id, md5(text), 1 FROM rep WHERE doc_id % 10 = 0
             |  UNION ALL SELECT doc_id, md5(text), 1 FROM rep WHERE doc_id % 10 = 5),
             |firsts AS (SELECT doc_id, fp, batch,
             |             row_number() OVER (PARTITION BY fp ORDER BY batch, doc_id) AS rn
             |           FROM staged)
             |SELECT CAST(batch AS BIGINT) AS batch, doc_id, fp, true AS in_digest,
             |  CAST(count(*) OVER (PARTITION BY batch) AS BIGINT) AS digest_n
             |FROM firsts WHERE rn = 1
             |ORDER BY doc_id""".stripMargin)),

    // The NEAR-dup ingest loop under the same gate, via the PORTABLE hash
    // family (md5-60-bit shingles, raw-slice band keys): DuckDB replays BOTH
    // drains end to end — within-batch banded-LSH dedup, the cross-batch
    // band-collision drop against the digest batch 0 grew, and the digest's
    // growth itself (bands × admitted, emitted per row as digest_rows).
    // Batch 1 re-emits the %10==0 docs: an already-admitted doc collides in
    // EVERY band, the re-sight case; odd docs near-duplicating an admitted
    // even doc collide probabilistically — both decisions replay exactly
    // because the hashes do.
    "q_stream_neardup_history" -> Q(
      (s, dir) => {
        val docs = documents(s, dir).select(col("doc_id"), col("text"))
        val b0 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        val b1 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
          .unionAll(docs.where(pmod(col("doc_id"), lit(10)) === 0))
        val (work, in) = stageBatchFiles("ndhist", dir, Seq(b0, b1))
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(in)
        val outDir = work.resolve("out").toString
        val q = minietl.streaming.Streaming.nearDupDedupAndRecordHistory(
          stream, "doc_id", "text", s"$work/digest", s"$work/chk",
          shingleN = 3, k = 64, bands = 16, threshold = 0.5,
          crossBatch = "collision", family = minietl.functions.HashFamily.Portable) { (fresh, bid) =>
          fresh.select("doc_id").write.mode("overwrite")
            .parquet(minietl.streaming.Streaming.batchOutputPath(outDir, bid))
        }
        q.awaitTermination()
        val adm = s.read.parquet(outDir)
          .select(col("batch").cast("long").as("batch"), col("doc_id"))
        val dn = s.read.parquet(s"$work/digest")
          .groupBy(col("batch").cast("long").as("batch"))
          .agg(count(lit(1)).as("digest_rows"))
        adm.join(dn, Seq("batch"))
          .select(col("batch"), col("doc_id"),
            col("digest_rows").cast("long").as("digest_rows"))
          .orderBy("doc_id")
      },
      Some(minietl.dedup.Dedup.nearDupHistoryOracleSql(
        Seq("id % 2 = 0", "id % 2 = 1 OR id % 10 = 0"),
        shingleN = 3, k = 64, bands = 16, threshold = 0.5))),

    // Gopher/C4-style intra-document repetition signals (scan-side arrays)
    "q_repetition_stats" -> Q(
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"),
            minietl.text.TextAnalysis.dupNgramFraction(col("text"), 2).as("dup2_frac"),
            minietl.text.TextAnalysis.dupNgramFraction(col("text"), 3).as("dup3_frac"),
            minietl.text.TextAnalysis.consecDupFraction(col("text")).as("consec_frac"))
          .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
             |g AS (SELECT doc_id, tk,
             |        list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS g2,
             |        list_transform(range(1, len(tk) - 1),
             |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS g3
             |      FROM d)
             |SELECT doc_id,
             |  CASE WHEN len(g2) > 0
             |       THEN round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 4)
             |       ELSE 0.0 END AS dup2_frac,
             |  CASE WHEN len(g3) > 0
             |       THEN round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 4)
             |       ELSE 0.0 END AS dup3_frac,
             |  CASE WHEN len(tk) > 1
             |       THEN round(CAST(len(list_filter(range(1, len(tk)),
             |              i -> tk[i] = tk[i+1])) AS DOUBLE) / (len(tk) - 1), 4)
             |       ELSE 0.0 END AS consec_frac
             |FROM g ORDER BY doc_id""".stripMargin)),

    // Corpus-trained bigram-surprise LM scoring (CCNet-style quality
    // filtering) in pure integer arithmetic: surprise bits are
    // bitlen(prefix_count DIV bigram_count), so the whole model — training
    // AND scoring — replays bit-for-bit in the oracle.
    "q_lm_surprise" -> Q(
      (s, dir) =>
        minietl.text.LmScore.bigramSurprise(documents(s, dir), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |occ AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             |          i -> toks[i] || ' ' || toks[i + 1])) AS bigram FROM t),
             |bc AS (SELECT bigram, count(*) AS c_bigram FROM occ GROUP BY bigram),
             |pc AS (SELECT split_part(bigram, ' ', 1) AS prefix,
             |         CAST(sum(c_bigram) AS BIGINT) AS c_prefix FROM bc GROUP BY 1),
             |sc AS (SELECT o.doc_id,
             |         length(bin(p.c_prefix // b.c_bigram)) AS surprise
             |       FROM occ o JOIN bc b USING (bigram)
             |       JOIN pc p ON split_part(o.bigram, ' ', 1) = p.prefix)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(sum(surprise) AS BIGINT) AS surprise_bits,
             |  (1000 * CAST(sum(surprise) AS BIGINT)) // count(*) AS avg_millibits
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // corpus-wide top bigrams: explode → map-side-combined hash agg →
    // global top-k; shuffle volume is O(distinct grams), not rows
    "q_top_ngrams" -> Q(
      (s, dir) =>
        minietl.text.TextAnalysis.topNgrams(documents(s, dir), "text", n = 2, k = 20),
      Some("""WITH d AS (SELECT string_split(trim(text), ' ') AS toks FROM documents),
             |g AS (SELECT unnest(list_transform(range(1, len(toks)),
             |        i -> toks[i] || ' ' || toks[i + 1])) AS ngram
             |      FROM d)
             |SELECT ngram, count(*) AS n FROM g
             |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin)),

    // deterministic hash sampling: selection is a pure function of the key
    // (stable across runs/partitionings/engines), and DuckDB replays the
    // identical md5-threshold predicate — a seeded RNG sample could not be
    // oracle-checked at all
    "q_hash_sample" -> Q(
      (s, dir) =>
        documents(s, dir)
          .transform(Ops.hashSample("doc_id", 0.25))
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
             |WHERE md5(CAST(doc_id AS VARCHAR)) < '40000000'
             |ORDER BY doc_id""".stripMargin)),

    // merge/upsert: one-shuffle union + row_number keep-first; oracle states
    // the same semantics declaratively (updates win, unmatched are inserts)
    "q_upsert" -> Q(
      (s, dir) => {
        val d = documents(s, dir)
        val updates = d.filter(col("doc_id") % 7 === 0)
          .withColumn("source", lit("patched"))
          .unionByName(
            d.filter(col("doc_id") % 13 === 0)
              .withColumn("doc_id", col("doc_id") + 1000000)
              .withColumn("source", lit("inserted")))
        d.transform(Ops.upsert(updates, Seq("doc_id")))
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("""WITH u AS (
             |  SELECT doc_id, text, lang, 'patched' AS source, n_chars
             |  FROM documents WHERE doc_id % 7 = 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, text, lang, 'inserted', n_chars
             |  FROM documents WHERE doc_id % 13 = 0)
             |SELECT doc_id, lang, source, n_chars FROM (
             |  SELECT doc_id, lang, source, n_chars FROM u
             |  UNION ALL
             |  SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
             |  WHERE d.doc_id NOT IN (SELECT doc_id FROM u))
             |ORDER BY doc_id""".stripMargin)),

    // PII scrub over text with synthetic injected PII (the corpus itself is
    // clean, so the query plants a deterministic email/phone/IP per row and
    // verifies both the scrubbed text and the pre-scrub match counts)
    "q_pii_redact" -> Q(
      (s, dir) => {
        val injected = concat(col("text"),
          lit(" contact_"), col("doc_id"),
          lit("@mail.example.com or call 555-010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), (expr("doc_id DIV 256") % 256).cast("string"))
        documents(s, dir)
          .withColumn("__t", injected)
          .select(Seq(col("doc_id"),
            minietl.text.Pii.redact(col("__t")).as("redacted")) ++
            Seq("n_email", "n_id", "n_phone", "n_ip")
              .zip(minietl.text.Pii.counts(col("__t")))
              .map { case (nm, c) => c.as(nm) }: _*)
          .orderBy("doc_id")
      },
      Some(s"""WITH i AS (
              |  SELECT doc_id,
              |    text || ' contact_' || doc_id || '@mail.example.com or call 555-010-' ||
              |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
              |    ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
              |    CAST((doc_id // 256) % 256 AS VARCHAR) AS t
              |  FROM documents)
              |SELECT doc_id,
              |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
              |    '${minietl.text.Pii.EmailRe}', '<EMAIL>', 'g'),
              |    '${minietl.text.Pii.IdRe}', '<ID>', 'g'),
              |    '${minietl.text.Pii.PhoneRe}', '<PHONE>', 'g'),
              |    '${minietl.text.Pii.Ipv4Re}', '<IP>', 'g') AS redacted,
              |  CAST(len(regexp_extract_all(t, '${minietl.text.Pii.EmailRe}')) AS BIGINT) AS n_email,
              |  CAST(len(regexp_extract_all(t, '${minietl.text.Pii.IdRe}')) AS BIGINT) AS n_id,
              |  CAST(len(regexp_extract_all(t, '${minietl.text.Pii.PhoneRe}')) AS BIGINT) AS n_phone,
              |  CAST(len(regexp_extract_all(t, '${minietl.text.Pii.Ipv4Re}')) AS BIGINT) AS n_ip
              |FROM i ORDER BY doc_id""".stripMargin)),

    // benchmark decontamination: every 17th doc plays the eval set; training
    // docs sharing any 5-gram with it (the corpus' planted near-dups) drop
    "q_decontaminate" -> Q(
      (s, dir) => {
        val d = documents(s, dir)
        minietl.text.Decontaminate.decontaminate(
          d.filter(col("doc_id") % 17 =!= 0), d.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", n = 5)
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
             |g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
             |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
             |             tk[i+3] || ' ' || tk[i+4])) AS gram
             |      FROM toks),
             |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
             |tainted AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram)
             |            WHERE g.doc_id % 17 != 0)
             |SELECT doc_id, lang, source FROM documents
             |WHERE doc_id % 17 != 0 AND doc_id NOT IN (SELECT doc_id FROM tainted)
             |ORDER BY doc_id""".stripMargin)),

    // graded contamination: per-document share of distinct 5-gram shingles
    // present in the benchmark set, as exact integers + fixed-point
    // permille — the thresholdable signal practitioners use instead of
    // drop-on-first-hit
    "q_contamination_fraction" -> Q(
      (s, dir) => {
        val d = documents(s, dir)
        minietl.text.Decontaminate.contaminationFraction(
          d.filter(col("doc_id") % 17 =!= 0), d.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", n = 5)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
             |g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
             |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
             |             tk[i+3] || ' ' || tk[i+4])) AS gram
             |      FROM toks),
             |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
             |tg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 17 != 0)
             |SELECT tg.doc_id, count(*) AS n_grams,
             |  CAST(count(bg.gram) AS BIGINT) AS n_matched,
             |  (1000 * CAST(count(bg.gram) AS BIGINT)) // count(*) AS permille
             |FROM tg LEFT JOIN bg USING (gram)
             |GROUP BY tg.doc_id ORDER BY doc_id""".stripMargin)),

    // bloom-prefiltered decontamination: same exact semantics, the bench
    // grams travel as ONE fixed-size sketch instead of a string broadcast;
    // false positives only pay verify work, so the exact oracle applies
    "q_decontaminate_bloom" -> Q(
      (s, dir) => {
        val d = documents(s, dir)
        minietl.text.Decontaminate.decontaminateBloom(
          d.filter(col("doc_id") % 13 =!= 0), d.filter(col("doc_id") % 13 === 0),
          "doc_id", "text", n = 4)
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
             |g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 2),
             |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
             |             tk[i+3])) AS gram
             |      FROM toks),
             |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 13 = 0),
             |tainted AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram)
             |            WHERE g.doc_id % 13 != 0)
             |SELECT doc_id, lang, source FROM documents
             |WHERE doc_id % 13 != 0 AND doc_id NOT IN (SELECT doc_id FROM tainted)
             |ORDER BY doc_id""".stripMargin)),

    // sliding context-window chunking (64-token windows, stride 48)
    "q_chunk_docs" -> Q(
      (s, dir) =>
        minietl.text.Chunking.chunkDocuments(
          documents(s, dir), "doc_id", "text", chunkSize = 64, stride = 48)
          .orderBy("doc_id", "chunk_idx"),
      // starts stop at the first window reaching the end (subset-duplicate
      // guard): last = stride * ceil((len-chunk)/stride), 0 for short docs
      Some("""WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
             |d2 AS (SELECT doc_id, tk,
             |         CASE WHEN len(tk) > 64 THEN 48 * ((len(tk) - 64 + 47) // 48)
             |              ELSE 0 END AS last FROM d),
             |s AS (SELECT doc_id, tk, unnest(range(0, last + 1, 48)) AS start FROM d2)
             |SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_idx,
             |  array_to_string(tk[start + 1 : start + 64], ' ') AS chunk,
             |  CAST(len(tk[start + 1 : start + 64]) AS BIGINT) AS n_tokens
             |FROM s ORDER BY doc_id, chunk_idx""".stripMargin)),

    // sequence-packing manifest: 512-token sequences, sharded by lang
    "q_pack_sequences" -> Q(
      (s, dir) =>
        minietl.text.Chunking.packSequences(
          documents(s, dir), "doc_id", "text", capacity = 512, shardCols = Seq("lang"))
          .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, lang,
             |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum
             |      FROM d)
             |SELECT doc_id, lang, n_tokens,
             |  CAST(cum // 512 AS BIGINT) AS seq_idx,
             |  CAST(cum % 512 AS BIGINT) AS offset
             |FROM c ORDER BY doc_id""".stripMargin)),

    // domain mixing: per-lang keep fractions, deterministic and nested
    "q_stratified_sample" -> Q(
      (s, dir) =>
        documents(s, dir)
          .transform(Ops.stratifiedHashSample("doc_id", "lang",
            Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1))
          .select("doc_id", "lang", "source")
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE md5(CAST(doc_id AS VARCHAR)) <
             |  CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN '40000000'
             |            ELSE '19999999' END
             |ORDER BY doc_id""".stripMargin)),

    // deterministic global shuffle: the md5 sort key IS the output (a
    // range-partitioned distributed sort at scale; no global row_number)
    "q_shuffle_order" -> Q(
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"), Ops.shuffleKey("doc_id", "42").as("skey"))
          .orderBy("skey"),
      Some("""SELECT doc_id, md5('42#' || CAST(doc_id AS VARCHAR)) AS skey
             |FROM documents ORDER BY skey""".stripMargin)),

    "q_doc_lang_stats" -> Q(
      (s, dir) =>
        documents(s, dir)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"), round(avg("n_chars"), 4).as("avg_chars"))
          .orderBy("lang", "source"),
      Some("""SELECT lang, source, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
             |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    // Corpus vocabulary health per language: type-token and hapax ratios
    // as floored basis points — all-integer, two hash aggs, no collect
    "q_vocab_stats" -> Q(
      (s, dir) =>
        minietl.text.TextAnalysis.vocabStats(
            documents(s, dir), "text", Seq("lang"))
          .orderBy("lang"),
      Some("""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS term
             |           FROM documents),
             |c AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS tc
             |      FROM t GROUP BY 1, 2),
             |a AS (SELECT lang, CAST(sum(tc) AS BIGINT) AS n_tokens,
             |        CAST(count(*) AS BIGINT) AS n_terms,
             |        CAST(sum(CASE WHEN tc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
             |      FROM c GROUP BY 1)
             |SELECT lang, n_tokens, n_terms, n_hapax,
             |  CAST(floor((n_terms * 10000) / n_tokens) AS BIGINT) AS ttr_bp,
             |  CAST(floor((n_hapax * 10000) / n_terms) AS BIGINT) AS hapax_bp
             |FROM a ORDER BY lang""".stripMargin)),

    // Data-quality constraint battery: six checks, ONE aggregation pass
    // over the frame; the oracle recomputes every aggregate and verdict.
    "q_quality_checks" -> Q(
      (s, dir) => {
        import minietl.schema.Checks._
        report(t(s, dir, "lineitem"), Seq(
          complete("l_orderkey"),
          unique("l_orderkey"),
          inRange("l_discount", 0.0, 0.1),
          isIn("l_returnflag", Seq("A", "N", "R")),
          satisfies("l_quantity <= 50", col("l_quantity") <= 50, 1.0),
          countBetween(1L, 10000000000L)))
          .orderBy("check_name")
      },
      Some("""WITH a AS (
             |  SELECT
             |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS nulls,
             |    CAST(count(l_orderkey) - count(DISTINCT l_orderkey) AS DOUBLE) AS dups,
             |    CAST(sum(CASE WHEN l_discount IS NOT NULL
             |                  AND (l_discount < 0.0 OR l_discount > 0.1)
             |             THEN 1 ELSE 0 END) AS DOUBLE) AS oor,
             |    CAST(sum(CASE WHEN l_returnflag IS NOT NULL
             |                  AND l_returnflag NOT IN ('A', 'N', 'R')
             |             THEN 1 ELSE 0 END) AS DOUBLE) AS outside,
             |    avg(CAST(CASE WHEN l_quantity <= 50 THEN 1 ELSE 0 END AS DOUBLE)) AS satisfied,
             |    CAST(count(*) AS DOUBLE) AS n
             |  FROM lineitem)
             |SELECT * FROM (
             |  SELECT 'complete(l_orderkey)' AS check_name, nulls = 0 AS passed,
             |         nulls AS observed FROM a
             |  UNION ALL SELECT 'unique(l_orderkey)', dups = 0, dups FROM a
             |  UNION ALL SELECT 'inRange(l_discount, [0.0, 0.1])', oor = 0, oor FROM a
             |  UNION ALL SELECT 'isIn(l_returnflag)', outside = 0, outside FROM a
             |  UNION ALL SELECT 'satisfies(l_quantity <= 50 >= 1.0)',
             |         satisfied >= 1.0, satisfied FROM a
             |  UNION ALL SELECT 'countBetween(1, 10000000000)',
             |         n >= 1 AND n <= 10000000000, n FROM a)
             |ORDER BY check_name""".stripMargin)),

    // Temperature sampling (kept mass per lang ∝ n^0.5): fractions are
    // sqrt-exact doubles, so DuckDB re-derives the identical md5 thresholds
    // from the raw counts — the full computation is replayed, not just the
    // kept set.
    "q_temperature_sample" -> Q(
      (s, dir) =>
        documents(s, dir)
          .transform(Ops.temperatureSample("doc_id", "lang", targetFraction = 0.8))
          .select("doc_id", "lang", "source")
          .orderBy("doc_id"),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |m AS (SELECT min(n) AS nmin FROM c),
             |f AS (SELECT lang, 0.8 * sqrt(CAST(nmin AS DOUBLE) / n) AS frac FROM c, m)
             |SELECT d.doc_id, d.lang, d.source
             |FROM documents d JOIN f USING (lang)
             |WHERE frac >= 1.0 OR md5(CAST(d.doc_id AS VARCHAR)) <
             |  printf('%08x', CAST(floor(frac * 4294967296.0) AS BIGINT))
             |ORDER BY d.doc_id""".stripMargin)),

    // Two-stage quantized ANN: int8 approximate-cosine pre-rank over all
    // pairs (integer dots — scales cancel), exact cosine only on the preK
    // survivors. Both stages replay bit-for-bit in DuckDB: the code dots
    // are small exact integers, so double list_inner_product equals the
    // BIGINT fold.
    "q_ann_topk_int8" -> Q(
      (s, dir) => {
        // per-row quantize + 20-candidate rerank dominate: rebalance pays
        // (measured 1.35 → 0.8 s warm; see rebalanced() scaladoc)
        val e = rebalanced(s, embeddings(s, dir))
        minietl.sim.Quantize.int8RerankTopK(
          e, e.filter(col("vec_id") < 10), k = 5, preK = 20)
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
             |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
             |c AS (SELECT vec_id, v,
             |        CASE WHEN scale = 0.0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
             |             ELSE list_transform(v, x -> CAST(CAST(round(x * CAST(127 AS DOUBLE) / scale, 0) AS INT) AS DOUBLE))
             |        END AS cd
             |      FROM s),
             |n AS (SELECT vec_id, v, cd,
             |        sqrt(list_inner_product(v, v)) AS nrm,
             |        sqrt(list_inner_product(cd, cd)) AS cnorm
             |      FROM c),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |pre AS (
             |  SELECT q.vec_id AS q_id, t.vec_id AS n_id, q.v AS qv, t.v AS tv,
             |    q.nrm AS qn, t.nrm AS tn,
             |    round(list_inner_product(q.cd, t.cd) / (q.cnorm * t.cnorm), 6) AS acos
             |  FROM q, n t WHERE q.vec_id != t.vec_id),
             |cand AS (
             |  SELECT * FROM (
             |    SELECT q_id, n_id, qv, tv, qn, tn,
             |      row_number() OVER (PARTITION BY q_id ORDER BY acos DESC, n_id) AS prerank
             |    FROM pre) WHERE prerank <= 20),
             |fin AS (
             |  SELECT q_id, n_id,
             |    round(list_inner_product(qv, tv) / (qn * tn), 4) AS cos
             |  FROM cand),
             |ranked AS (
             |  SELECT q_id, n_id, cos,
             |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
             |  FROM fin)
             |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // Symmetric int8 quantization of the embedding column; DuckDB replays
    // the exact element arithmetic (cast → *127/scale → half-up round), plus
    // the integer self-dot of the codes as a 64-bit checksum per vector.
    "q_emb_quantize" -> Q(
      (s, dir) => {
        import minietl.sim.Quantize._
        // scan-side per-element quantize arithmetic dominates: rebalance
        // pays (measured 1.0 → 0.3 s warm; see rebalanced() scaladoc)
        rebalanced(s, embeddings(s, dir))
          .select(col("vec_id"),
            int8Scale(col("embedding")).as("scale"),
            int8Codes(col("embedding")).as("__codes"))
          .withColumn("code_dot", int8Dot(col("__codes"), col("__codes")))
          // driver contract: no ARRAY output columns — render as CSV string
          .select(col("vec_id"), col("scale"),
            array_join(transform(col("__codes"), _.cast("string")), ",")
              .as("codes"),
            col("code_dot"))
          .orderBy("vec_id")
      },
      Some("""WITH q AS (
             |  SELECT vec_id,
             |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS scale,
             |    CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |c AS (
             |  SELECT vec_id, scale,
             |    CASE WHEN scale = 0.0
             |         THEN list_transform(v, x -> 0)
             |         ELSE list_transform(v, x -> CAST(round(x * CAST(127 AS DOUBLE) / scale, 0) AS INT))
             |    END AS codes
             |  FROM q)
             |SELECT vec_id, scale,
             |  array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)), ',') AS codes,
             |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(codes, x -> CAST(x AS BIGINT) * x)),
             |    (acc, y) -> acc + y) AS BIGINT) AS code_dot
             |FROM c ORDER BY vec_id""".stripMargin)),

    // Token-budget corpus composition: per lang, keep docs in seeded-shuffle
    // order until 1500 tokens are spent. Integer window sum — exact replay.
    "q_token_budget" -> Q(
      (s, dir) =>
        documents(s, dir)
          .withColumn("n_tokens", minietl.text.TextAnalysis.tokenCount(col("text")))
          .transform(Ops.tokenBudget("lang", "n_tokens", budget = 1500,
            order = Ops.shuffleKey("doc_id", "7"), cumColumn = Some("cum_tokens")))
          .select("doc_id", "lang", "n_tokens", "cum_tokens")
          .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    md5('7#' || CAST(doc_id AS VARCHAR)) AS sk
             |  FROM documents),
             |c AS (SELECT doc_id, lang, n_tokens,
             |        CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY sk
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |      FROM d)
             |SELECT doc_id, lang, n_tokens, cum_tokens
             |FROM c WHERE cum_tokens <= 1500 ORDER BY doc_id""".stripMargin)),

    // Nucleus (top-p) corpus selection: per language, the smallest
    // best-quality-first doc set carrying 60% of the stratum's total
    // quality mass; the keep decision is exact integer/decimal arithmetic
    "q_top_p_select" -> Q(
      (s, dir) =>
        documents(s, dir)
          .withColumn("quality_bp",
            minietl.text.TextAnalysis.qualityScore(col("text")))
          .transform(Ops.topPSelect("lang", "quality_bp", pBasisPoints = 6000,
            order = Seq(col("quality_bp").desc, col("doc_id").asc),
            cumColumn = Some("cum_mass")))
          .select("doc_id", "lang", "quality_bp", "cum_mass")
          .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, lang,
             |    CAST(length(text) AS BIGINT) AS L,
             |    CAST(greatest(len(string_split(text, ' ')), 1) AS BIGINT) AS n,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS u,
             |    CAST(len(list_filter(string_split(lower(text), ' '),
             |      t -> list_contains(['the','a','and','of','to','in','is','that','for','it'], t))) AS BIGINT) AS k,
             |    CAST(len(regexp_extract_all(text, '[^\p{L}\p{N}\s]')) AS BIGINT) AS p
             |  FROM documents),
             |q AS (SELECT doc_id, lang,
             |        3 * least(L * 20, 10000)
             |          + 3 * CAST(floor(u * 10000.0 / n) AS BIGINT)
             |          + 3 * least(CAST(floor(k * 50000.0 / n) AS BIGINT), 10000)
             |          + (10000 - CAST(floor(p * 10000.0 / greatest(L, 1)) AS BIGINT))
             |          AS quality_bp
             |      FROM d),
             |w AS (SELECT doc_id, lang, quality_bp,
             |        CAST(sum(quality_bp) OVER (PARTITION BY lang
             |          ORDER BY quality_bp DESC, doc_id
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass,
             |        CAST(sum(quality_bp) OVER (PARTITION BY lang) AS BIGINT) AS total
             |      FROM q)
             |SELECT doc_id, lang, quality_bp, cum_mass FROM w
             |WHERE CAST(cum_mass - quality_bp AS HUGEINT) * 10000 <
             |      6000 * CAST(total AS HUGEINT)
             |ORDER BY doc_id""".stripMargin)),

    // Salted token budget for hot strata: deterministic md5 shard, EXACT
    // per-shard sub-budgets that sum to the stratum budget (1502 over 4
    // shards -> 376,376,375,375 — the remainder path is exercised). Full
    // DuckDB replay: shard hash, per-(lang,shard) running sum, shard cap.
    "q_token_budget_salted" -> Q(
      (s, dir) =>
        documents(s, dir)
          .withColumn("n_tokens", minietl.text.TextAnalysis.tokenCount(col("text")))
          .transform(Ops.tokenBudgetSalted("lang", "n_tokens", budget = 1502,
            order = Ops.shuffleKey("doc_id", "7"),
            shardKey = minietl.functions.PortableHash.md5Hash60(
              concat(lit("tb#"), col("doc_id").cast("string"))),
            shards = 4, cumColumn = Some("cum_tokens")))
          .select("doc_id", "lang", "n_tokens", "cum_tokens")
          .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    md5('7#' || CAST(doc_id AS VARCHAR)) AS sk,
             |    CAST(concat('0x', substring(md5('tb#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS shard
             |  FROM documents),
             |c AS (SELECT doc_id, lang, n_tokens, shard,
             |        CAST(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY sk
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |      FROM d)
             |SELECT doc_id, lang, n_tokens, cum_tokens
             |FROM c WHERE cum_tokens <= 1502 // 4 + (CASE WHEN shard < 1502 % 4 THEN 1 ELSE 0 END)
             |ORDER BY doc_id""".stripMargin)),

    // Salted nucleus selection: the same 60% rule per (lang, md5-shard)
    // against the SHARD's total mass — the documented escape hatch for
    // strata too hot to sort on one task, replayed shard-exactly.
    "q_top_p_salted" -> Q(
      (s, dir) =>
        documents(s, dir)
          .withColumn("quality_bp",
            minietl.text.TextAnalysis.qualityScore(col("text")))
          .transform(Ops.topPSelectSalted("lang", "quality_bp", pBasisPoints = 6000,
            order = Seq(col("quality_bp").desc, col("doc_id").asc),
            shardKey = minietl.functions.PortableHash.md5Hash60(
              concat(lit("tp#"), col("doc_id").cast("string"))),
            shards = 4, cumColumn = Some("cum_mass")))
          .select("doc_id", "lang", "quality_bp", "cum_mass")
          .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, lang,
             |    CAST(length(text) AS BIGINT) AS L,
             |    CAST(greatest(len(string_split(text, ' ')), 1) AS BIGINT) AS n,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS u,
             |    CAST(len(list_filter(string_split(lower(text), ' '),
             |      t -> list_contains(['the','a','and','of','to','in','is','that','for','it'], t))) AS BIGINT) AS k,
             |    CAST(len(regexp_extract_all(text, '[^\p{L}\p{N}\s]')) AS BIGINT) AS p,
             |    CAST(concat('0x', substring(md5('tp#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS shard
             |  FROM documents),
             |q AS (SELECT doc_id, lang, shard,
             |        3 * least(L * 20, 10000)
             |          + 3 * CAST(floor(u * 10000.0 / n) AS BIGINT)
             |          + 3 * least(CAST(floor(k * 50000.0 / n) AS BIGINT), 10000)
             |          + (10000 - CAST(floor(p * 10000.0 / greatest(L, 1)) AS BIGINT))
             |          AS quality_bp
             |      FROM d),
             |w AS (SELECT doc_id, lang, quality_bp,
             |        CAST(sum(quality_bp) OVER (PARTITION BY lang, shard
             |          ORDER BY quality_bp DESC, doc_id
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass,
             |        CAST(sum(quality_bp) OVER (PARTITION BY lang, shard) AS BIGINT) AS total
             |      FROM q)
             |SELECT doc_id, lang, quality_bp, cum_mass FROM w
             |WHERE CAST(cum_mass - quality_bp AS HUGEINT) * 10000 <
             |      6000 * CAST(total AS HUGEINT)
             |ORDER BY doc_id""".stripMargin)),

    // Gopher format-rule battery: every ratio threshold is an exact integer
    // comparison, so the keep set replays bit-for-bit in DuckDB.
    "q_gopher_rules" -> Q(
      (s, dir) => {
        import minietl.text.QualityRules._
        val txt = col("text")
        documents(s, dir)
          .select(col("doc_id"),
            wordCountOk(txt, 30, 100000).as("word_count_ok"),
            meanWordLenOk(txt).as("word_len_ok"),
            symbolRatioOk(txt).as("symbol_ok"),
            bulletLinesOk(txt).as("bullet_ok"),
            ellipsisLinesOk(txt).as("ellipsis_ok"),
            alphaWordsOk(txt).as("alpha_ok"),
            stopwordsOk(txt).as("stopword_ok"),
            gopherKeep(txt, 30, 100000).as("keep"))
          .orderBy("doc_id")
      },
      Some(minietl.text.QualityRules.oracleSql(
        "documents", "doc_id", "text", 30, 100000) + "\nORDER BY doc_id")),

    // C4-style global paragraph dedup. The corpus has no newlines, so the
    // query first derives line structure (a newline after every 3rd token —
    // same regexp_replace on both engines), then drops every paragraph that
    // appeared earlier anywhere in the corpus and reassembles the docs.
    "q_paragraph_dedup" -> Q(
      (s, dir) =>
        minietl.text.ParagraphDedup.dedupParagraphs(
          documents(s, dir).withColumn("text",
            regexp_replace(col("text"), "((\\S+ ){2}\\S+) ", "$1\n")),
          "text", "doc_id", delim = "\n")
          .orderBy("doc_id"),
      Some(minietl.text.ParagraphDedup.oracleSql(
        "documents", "doc_id",
        """regexp_replace(text, '((\S+ ){2}\S+) ', '\1' || chr(10), 'g')""",
        "chr(10)") + "\nORDER BY doc_id")),

    // Ordered funnel signup → click → purchase per user: every stage is a
    // prefix-scan window over ONE (user, ts, event_id) sort; the oracle
    // replays the identical prefix-min recurrence.
    "q_funnel" -> Q(
      (s, dir) =>
        minietl.events.EventAnalytics.funnel(events(s, dir), "user_id",
            "event_type", "ts", "event_id", Seq("signup", "click", "purchase"))
          .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             |               event_id FROM events),
             |w1 AS (SELECT *,
             |  CASE WHEN event_type = 'signup' THEN ts END AS c1,
             |  min(CASE WHEN event_type = 'signup' THEN ts END)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS UNBOUNDED PRECEDING) AS r1 FROM e),
             |w2 AS (SELECT *,
             |  CASE WHEN event_type = 'click' AND r1 <= ts THEN ts END AS c2 FROM w1),
             |w2m AS (SELECT *, min(c2)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS UNBOUNDED PRECEDING) AS r2 FROM w2),
             |w3 AS (SELECT *,
             |  CASE WHEN event_type = 'purchase' AND r2 <= ts THEN ts END AS c3 FROM w2m)
             |SELECT user_id, min(c1) AS t_signup, min(c2) AS t_click,
             |  min(c3) AS t_purchase,
             |  CAST((CASE WHEN min(c1) IS NOT NULL THEN 1 ELSE 0 END)
             |     + (CASE WHEN min(c2) IS NOT NULL THEN 1 ELSE 0 END)
             |     + (CASE WHEN min(c3) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS depth
             |FROM w3 GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // First-order Markov transition matrix of the per-user event sequence:
    // integer transition counts, probability = exact IEEE division of two
    // BIGINTs (identical in any engine — no rounding needed).
    "q_markov_transitions" -> Q(
      (s, dir) =>
        minietl.events.EventAnalytics.markovTransitions(events(s, dir),
            "user_id", "event_type", "ts", "event_id")
          .orderBy("from_type", "to_type"),
      Some("""WITH o AS (SELECT event_type, lead(event_type)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
             |  FROM events)
             |SELECT event_type AS from_type, next_type AS to_type,
             |  count(*) AS n,
             |  CAST(count(*) AS DOUBLE)
             |    / CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS p
             |FROM o WHERE next_type IS NOT NULL
             |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin)),

    // KMV (bottom-k) distinct-count sketch audit over three key columns:
    // fixed-size sketch vs exact distinct. The estimate is one IEEE
    // multiply-divide over exactly-agreed integers — engine-portable with
    // no tolerance. user_id has fewer distinct values than k at every SF,
    // exercising the exact-degrade path; the other two exercise the
    // estimator path at sf >= 0.01.
    // Third sketch leg: mergeable log-histogram quantiles (fixed ~368-bucket
    // summary per key, map-side combined — the 100 TB alternative to a full
    // sort or engine-private t-digests), replayed bit-for-bit in DuckDB via
    // the same integer bit arithmetic.
    "q_quantile_sketch" -> Q(
      (s, dir) =>
        minietl.sketch.Sketches.logHistQuantiles(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
          Seq((50, 100), (95, 100), (99, 100)))
          .orderBy("l_returnflag", "q_num"),
      Some(minietl.sketch.Sketches.logHistQuantilesOracleSql(
        "lineitem", Seq("l_returnflag"), "l_extendedprice",
        Seq((50, 100), (95, 100), (99, 100)),
        orderBy = Some("l_returnflag, q_num")))),

    // The SAME sketch maintained by STREAMING state: bucket counts accrue
    // incrementally in a streaming groupBy (the sketch's merge is its
    // group-by key, so state is ≤ ~368 rows), drained complete-mode, then
    // resolved through the identical selection arithmetic. Oracle = the
    // batch sketch SQL over the same events — stream and batch must agree
    // exactly.
    "q_stream_quantile" -> Q(
      (s, dir) => {
        val bucketCounts = stagedEventStream(s, dir)
          .select(expr("CAST(floor(value * 1000) AS BIGINT)").as("x"))
          .withColumn("bucket", minietl.sketch.Sketches.logHistBucket("x"))
          .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        val drained = drainCompleteMode(s, bucketCounts, "stream_qsk")
        minietl.sketch.Sketches.quantilesFromBucketCounts(
          drained, Nil, Seq((50, 100), (95, 100), (99, 100)), scale = 1000L)
          .orderBy("q_num")
      },
      Some(minietl.sketch.Sketches.logHistQuantilesOracleSql(
        "events", Nil, "value", Seq((50, 100), (95, 100), (99, 100)),
        orderBy = Some("q_num")))),

    "q_kmv_distinct" -> Q(
      (s, dir) => {
        // ONE scan per source: the audit needs an exact distinct count, so
        // a full distinct of the key set is unavoidable — but the sketch
        // can then ride the SAME distinct frame (kmv of the distinct values
        // is the identical hash set: its TreeSet accumulator dedups anyway)
        // instead of re-scanning and re-hashing every occurrence. Before:
        // 2 scans + countDistinct's distinct shuffle + kmv's bottom-k pass
        // over all rows; after: 1 scan + the same distinct shuffle, kmv and
        // count both over the (persisted, tiny) distinct frame (r17-opt,
        // guide §1.2). n_exact = count over distinct non-null values ==
        // countDistinct by definition; nulls were already excluded by both
        // sides (countDistinct skips them, kmv filters null hashes).
        def audit(df: DataFrame, field: String, colName: String): DataFrame = {
          val dv = df.select(col(colName)).where(col(colName).isNotNull)
            .distinct().persist()
          minietl.sketch.Sketches.kmvDistinct(dv, colName, 256)
            .crossJoin(broadcast(dv.agg(count(lit(1)).as("n_exact"))))
            .select(lit(field).as("field"), col("n_exact"),
              col("n_kept"), col("estimate"))
        }
        audit(events(s, dir), "events.event_id", "event_id")
          .unionAll(audit(events(s, dir), "events.user_id", "user_id"))
          .unionAll(audit(t(s, dir, "lineitem"), "lineitem.l_partkey", "l_partkey"))
          .orderBy("field")
      },
      Some("""WITH src AS (
             |  SELECT 'events.event_id' AS field, CAST(event_id AS VARCHAR) AS v FROM events
             |  UNION ALL
             |  SELECT 'events.user_id', CAST(user_id AS VARCHAR) FROM events
             |  UNION ALL
             |  SELECT 'lineitem.l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem),
             |h AS (SELECT DISTINCT field,
             |    CAST(concat('0x', substring(md5(v), 1, 15)) AS BIGINT) AS h
             |  FROM src WHERE v IS NOT NULL),
             |k AS (SELECT field, h,
             |    row_number() OVER (PARTITION BY field ORDER BY h) AS rn FROM h),
             |sk AS (SELECT field, count(*) AS n_kept, max(h) AS kth
             |  FROM k WHERE rn <= 256 GROUP BY field),
             |ex AS (SELECT field, count(DISTINCT v) AS n_exact FROM src GROUP BY field)
             |SELECT sk.field, ex.n_exact, sk.n_kept,
             |  CASE WHEN sk.n_kept < 256 THEN CAST(sk.n_kept AS DOUBLE)
             |       ELSE 255.0 * 1152921504606846976.0 / CAST(sk.kth AS DOUBLE)
             |  END AS estimate
             |FROM sk JOIN ex USING (field) ORDER BY field""".stripMargin)),

    // Count-min sketch heavy hitters over document tokens: the true top-20
    // tokens' exact counts next to their sketch estimates (cms_n >= exact_n
    // by construction; the 4x1024 sketch is fixed-size however large the
    // corpus — that is the 100 TB point).
    "q_countmin_topk" -> Q(
      (s, dir) => {
        val toks = documents(s, dir)
          .select(explode(split(col("text"), " ")).as("tok"))
        minietl.sketch.Sketches.countMinTopK(toks, "tok",
            depth = 4, width = 1024, k = 20)
          .orderBy(col("exact_n").desc, col("token").asc)
      },
      Some("""WITH toks AS (
             |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
             |lanes AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS t(lane)),
             |sketch AS (
             |  SELECT lane,
             |    CAST(concat('0x', substring(md5(concat(lane, ':', tok)), 1, 15))
             |      AS BIGINT) % 1024 AS bucket,
             |    count(*) AS n
             |  FROM toks CROSS JOIN lanes GROUP BY 1, 2),
             |top AS (SELECT tok AS token, count(*) AS exact_n FROM toks
             |  GROUP BY tok ORDER BY exact_n DESC, token LIMIT 20)
             |SELECT t.token, t.exact_n, min(s.n) AS cms_n
             |FROM top t CROSS JOIN lanes l
             |JOIN sketch s ON s.lane = l.lane
             | AND s.bucket = CAST(concat('0x',
             |       substring(md5(concat(l.lane, ':', t.token)), 1, 15))
             |     AS BIGINT) % 1024
             |GROUP BY t.token, t.exact_n
             |ORDER BY exact_n DESC, token""".stripMargin)),

    // Count-min maintained by STREAMING state: the sketch's (lane, bucket)
    // cells ARE the groupBy key, so state is bounded at depth x width
    // however unbounded the stream; drained complete-mode it must equal the
    // batch sketch over the same corpus cell-for-cell.
    "q_stream_countmin" -> Q(
      (s, dir) => {
        val toks = stagedDocStream(s, dir)
          .select(explode(split(col("text"), " ")).as("tok"))
        val sketch = minietl.sketch.Sketches.countMinSketch(
          toks, "tok", depth = 4, width = 1024)
        drainCompleteMode(s, sketch, "stream_cms")
          .orderBy("lane", "bucket")
      },
      Some("""WITH toks AS (
             |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
             |lanes AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS t(lane))
             |SELECT lane,
             |  CAST(concat('0x', substring(md5(concat(lane, ':', tok)), 1, 15))
             |    AS BIGINT) % 1024 AS bucket,
             |  count(*) AS n
             |FROM toks CROSS JOIN lanes GROUP BY 1, 2
             |ORDER BY lane, bucket""".stripMargin)),

    // Integer fixed-point PageRank over the part co-purchase graph (parts
    // sharing an order), 3 damped iterations. All arithmetic is truncating
    // 64-bit integer — order-independent, so the DuckDB replay of the same
    // three unrolled iterations is bit-identical (float PageRank could
    // never hash-match across engines).
    "q_pagerank" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = minietl.graph.PageRank.coOccurrenceEdges(
          li, "l_orderkey", "l_partkey")
        minietl.graph.PageRank.pageRankFixedPoint(s, edges, iterations = 3)
          .orderBy(col("rank_fp").desc, col("node").asc)
          .limit(20)
          .select(col("node").as("part"), col("rank_fp"))
      },
      Some("""WITH edges AS (
             |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
             |  FROM lineitem l1 JOIN lineitem l2
             |    ON l1.l_orderkey = l2.l_orderkey
             |   AND l1.l_partkey <> l2.l_partkey),
             |deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
             |nn AS (SELECT count(*) AS n FROM deg),
             |r0 AS (SELECT node, 1000000000000 // nn.n AS rank_fp FROM deg, nn),
             |b AS (SELECT (15 * 1000000000000 // 100) // n AS base FROM nn),
             |r1 AS (SELECT e.dst AS node,
             |    b.base + 85 * CAST(sum(r.rank_fp // d.outdeg) AS BIGINT) // 100 AS rank_fp
             |  FROM edges e JOIN r0 r ON e.src = r.node
             |  JOIN deg d ON d.node = r.node CROSS JOIN b
             |  GROUP BY e.dst, b.base),
             |r2 AS (SELECT e.dst AS node,
             |    b.base + 85 * CAST(sum(r.rank_fp // d.outdeg) AS BIGINT) // 100 AS rank_fp
             |  FROM edges e JOIN r1 r ON e.src = r.node
             |  JOIN deg d ON d.node = r.node CROSS JOIN b
             |  GROUP BY e.dst, b.base),
             |r3 AS (SELECT e.dst AS node,
             |    b.base + 85 * CAST(sum(r.rank_fp // d.outdeg) AS BIGINT) // 100 AS rank_fp
             |  FROM edges e JOIN r2 r ON e.src = r.node
             |  JOIN deg d ON d.node = r.node CROSS JOIN b
             |  GROUP BY e.dst, b.base)
             |SELECT node AS part, rank_fp FROM r3
             |ORDER BY rank_fp DESC, part LIMIT 20""".stripMargin)),

    // Weekly cohort retention heat-map cells (all-integer offsets).
    "q_cohort_retention" -> Q(
      (s, dir) =>
        minietl.events.EventAnalytics.cohortRetention(events(s, dir), "user_id", "ts")
          .orderBy("cohort_week", "week_offset"),
      Some("""WITH a AS (SELECT user_id,
             |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
             |f AS (SELECT user_id, day,
             |        min(day) OVER (PARTITION BY user_id) AS first_day FROM a)
             |SELECT CAST(date_trunc('week', first_day) AS DATE) AS cohort_week,
             |  CAST(date_diff('day', first_day, day) // 7 AS BIGINT) AS week_offset,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
             |FROM f GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)),

    // Daily purchase totals resampled to a dense per-user calendar with
    // forward-fill; gap days ride the lag window (no dense-spine join).
    "q_resample_ffill" -> Q(
      (s, dir) =>
        minietl.events.EventAnalytics.resampleDaily(
            events(s, dir).where(col("event_type") === "purchase"),
            "user_id", "ts", "value")
          // library emits the exact DECIMAL(38,2); render per driver contract
          .withColumn("day_total", decToDouble(col("day_total"), 2))
          .orderBy("user_id", "day"),
      Some(s"""WITH daily AS (
             |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS day_total
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |l AS (SELECT *, lag(day) OVER w AS prev_day,
             |        lag(day_total) OVER w AS prev_total
             |      FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
             |x AS (SELECT user_id, day, day_total, prev_total,
             |        CAST(unnest(generate_series(
             |          CAST(coalesce(prev_day + 1, day) AS TIMESTAMP),
             |          CAST(day AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
             |      FROM l)
             |SELECT user_id, d AS day, (d = day) AS observed,
             |  ${decToDoubleSql("CASE WHEN d = day THEN day_total ELSE prev_total END", 2)} AS day_total
             |FROM x ORDER BY user_id, day""".stripMargin)),

    // kNN majority-vote classification over the labeled embedding corpus
    // (top-10 cosine neighbors; deterministic vote tie-break).
    "q_knn_label" -> Q(
      (s, dir) => {
        val e = embeddings(s, dir)
        minietl.sim.Similarity.knnClassify(e, e.filter(col("vec_id") < 20),
            k = 10, labelCol = "label")
          .orderBy("q_id")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v
             |           FROM embeddings),
             |q AS (SELECT * FROM e WHERE vec_id < 20),
             |scored AS (
             |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label,
             |    round(list_cosine_similarity(q.v, c.v), 4) AS cos
             |  FROM q, e c WHERE q.vec_id != c.vec_id),
             |ranked AS (SELECT *, row_number()
             |  OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk FROM scored),
             |votes AS (SELECT q_id, CAST(label AS BIGINT) AS lbl,
             |    CAST(count(*) AS BIGINT) AS votes, max(cos) AS best_cos
             |  FROM ranked WHERE rk <= 10 GROUP BY 1, 2)
             |SELECT q_id, lbl AS pred_label, votes FROM (
             |  SELECT *, row_number() OVER (PARTITION BY q_id
             |    ORDER BY votes DESC, best_cos DESC, lbl) AS rn FROM votes)
             |WHERE rn = 1 ORDER BY q_id""".stripMargin)),

    // Per-type 3-sigma outlier flags with the division/sqrt-free EXACT
    // decision (n·x−S)² > k²(n·Q−S²) in cents — no float in the flag.
    "q_sigma_outliers" -> Q(
      (s, dir) =>
        minietl.events.EventAnalytics.sigmaOutliers(events(s, dir),
            Seq("event_type"), "value", k = 3)
          .select(col("event_id"), col("event_type"),
            (round(col("value"), 2) + lit(0.0)).as("value"),
            col("group_n"), col("is_outlier"))
          .orderBy("event_id"),
      Some("""WITH b AS (SELECT event_id, event_type, value,
             |            CAST(round(value * 100, 0) AS BIGINT) AS xc FROM events),
             |w AS (SELECT *,
             |        CAST(count(xc) OVER g AS BIGINT) AS n,
             |        CAST(sum(xc) OVER g AS BIGINT) AS s,
             |        CAST(sum(xc * xc) OVER g AS BIGINT) AS q
             |      FROM b WINDOW g AS (PARTITION BY event_type)),
             |d AS (SELECT *, n * xc - s AS dev FROM w)
             |SELECT event_id, event_type, round(value, 2) + 0.0 AS value,
             |  n AS group_n,
             |  coalesce(CAST(dev AS DECIMAL(19,0)) * CAST(dev AS DECIMAL(19,0)) >
             |    (CAST(n AS DECIMAL(16,0)) * CAST(q AS DECIMAL(19,0)) -
             |     CAST(s AS DECIMAL(17,0)) * CAST(s AS DECIMAL(18,0)))
             |      * CAST(9 AS DECIMAL(2,0)), false) AS is_outlier
             |FROM d ORDER BY event_id""".stripMargin)),

    // Robust MAD outlier flags: 2·median and 4·MAD carried as exact
    // BIGINTs (integer midpoints are exact under both interpolation
    // phrasings), all-integer flag decision — no float in the verdict.
    "q_mad_outliers" -> Q(
      (s, dir) =>
        minietl.events.EventAnalytics.madOutliers(events(s, dir),
            Seq("event_type"), "value", k = 3)
          .select(col("event_id"), col("event_type"),
            (round(col("value"), 2) + lit(0.0)).as("value"),
            col("group_n"), col("median_x2_cents"), col("mad_x4_cents"),
            col("is_outlier"))
          .orderBy("event_id"),
      Some("""WITH b AS (SELECT event_id, event_type, value,
             |            CAST(round(value * 100, 0) AS BIGINT) AS xc FROM events),
             |m AS (SELECT event_type,
             |        CAST(2 * median(xc) AS BIGINT) AS median_x2_cents,
             |        CAST(count(xc) AS BIGINT) AS group_n
             |      FROM b GROUP BY 1),
             |d AS (SELECT b.*, m.median_x2_cents, m.group_n,
             |        abs(2 * xc - m.median_x2_cents) AS dev2
             |      FROM b JOIN m USING (event_type)),
             |md AS (SELECT event_type,
             |         CAST(2 * median(dev2) AS BIGINT) AS mad_x4_cents
             |       FROM d GROUP BY 1)
             |SELECT event_id, event_type, round(value, 2) + 0.0 AS value,
             |  group_n, median_x2_cents, mad_x4_cents,
             |  coalesce(2 * dev2 > 3 * mad_x4_cents, false) AS is_outlier
             |FROM d JOIN md USING (event_type) ORDER BY event_id""".stripMargin)),

    // Day-over-day growth per event type: exact cent totals and deltas,
    // floored basis-point ratio — pandas pct_change made replay-exact
    "q_pct_change" -> Q(
      (s, dir) =>
        minietl.events.EventAnalytics.periodOverPeriod(events(s, dir),
            Seq("event_type"), "ts", "value")
          .orderBy("event_type", "day"),
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |            CAST(round(value * 100, 0) AS BIGINT) AS xc FROM events),
             |a AS (SELECT event_type, day, CAST(sum(xc) AS BIGINT) AS value_cents
             |      FROM d GROUP BY 1, 2),
             |w AS (SELECT *, lag(value_cents) OVER (PARTITION BY event_type
             |        ORDER BY day) AS prev_cents FROM a)
             |SELECT event_type, day, value_cents, prev_cents,
             |  value_cents - prev_cents AS delta_cents,
             |  CASE WHEN prev_cents > 0
             |       THEN CAST(floor((value_cents * 10000) / prev_cents) AS BIGINT)
             |  END AS ratio_bp
             |FROM w ORDER BY event_type, day""".stripMargin)),

    // Benford first-digit audit per event type: exact digit counts over
    // positive cent values plus floored basis-point shares — the classic
    // fabricated-data screen, integer end to end
    "q_benford" -> Q(
      (s, dir) => {
        val counted = events(s, dir)
          .withColumn("__xc", expr("try_cast(round(value * 100, 0) AS BIGINT)"))
          .where(col("__xc") > 0)
          .withColumn("digit",
            substring(col("__xc").cast("string"), 1, 1).cast("bigint"))
          .groupBy("event_type", "digit").agg(count(lit(1)).as("n"))
        counted
          .withColumn("share_bp",
            floor(col("n") * lit(10000L) /
              sum("n").over(Window.partitionBy("event_type"))).cast("bigint"))
          .orderBy("event_type", "digit")
      },
      Some("""WITH b AS (SELECT event_type,
             |            CAST(round(value * 100, 0) AS BIGINT) AS xc FROM events),
             |d AS (SELECT event_type,
             |        CAST(substr(CAST(xc AS VARCHAR), 1, 1) AS BIGINT) AS digit
             |      FROM b WHERE xc > 0),
             |c AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
             |      FROM d GROUP BY 1, 2)
             |SELECT event_type, digit, n,
             |  CAST(floor((n * 10000) / sum(n) OVER (PARTITION BY event_type))
             |    AS BIGINT) AS share_bp
             |FROM c ORDER BY event_type, digit""".stripMargin)),

    // Levenshtein fuzzy-dup pairs on 40-char document heads: first-token
    // blocking + lossless length blocking + banded threshold verify
    "q_edit_distance_pairs" -> Q(
      (s, dir) => {
        val p = documents(s, dir).select(col("doc_id"),
          substring(col("text"), 1, 40).as("head"),
          split(col("text"), " ")(0).as("blk"))
        minietl.dedup.Dedup.editDistancePairs(p, "doc_id", "head",
            maxDist = 4, blockCols = Seq("blk"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH p AS (SELECT doc_id AS id, substr(text, 1, 40) AS nm,
             |            CAST(length(substr(text, 1, 40)) AS BIGINT) AS len,
             |            string_split(text, ' ')[1] AS blk FROM documents)
             |SELECT a.id AS id_a, b.id AS id_b,
             |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
             |FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
             |  AND abs(a.len - b.len) <= 4
             |WHERE levenshtein(a.nm, b.nm) <= 4
             |ORDER BY id_a, id_b""".stripMargin)),

    // Decile bucketing (equal-frequency binning) per event type — a
    // standard-SQL superset op; ntile ties resolve by the unique order key.
    "q_ntile" -> Q(
      (s, dir) =>
        events(s, dir)
          .select(col("event_id"), col("event_type"),
            ntile(10).over(Window.partitionBy("event_type")
              .orderBy(col("value").asc, col("event_id").asc))
              .cast("bigint").as("decile"))
          .orderBy("event_id"),
      Some("""SELECT event_id, event_type,
             |  CAST(ntile(10) OVER (PARTITION BY event_type
             |    ORDER BY value, event_id) AS BIGINT) AS decile
             |FROM events ORDER BY event_id""".stripMargin)),

    // RFM segmentation (recency / frequency / monetary quintiles): exact
    // integer recency vs the corpus max day, BIGINT frequency, DECIMAL
    // monetary; quintiles via ntile with unique tie orders. Higher score =
    // better customer on every axis. The quintile windows are GLOBAL
    // (single-task) — correct for entity-level aggregates up to ~10^8
    // entities; beyond that, replace the exact ntile with percentile
    // thresholds (Ops.winsorize pattern) to keep the cut distributed.
    "q_rfm" -> Q(
      (s, dir) => {
        val p = events(s, dir).where(col("event_type") === "purchase")
        val perUser = p.groupBy("user_id").agg(
          max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("frequency"),
          sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").as("monetary"))
        val maxDay = p.agg(max(to_date(col("ts"))).as("__max_day"))
        val scored = perUser.crossJoin(broadcast(maxDay))
          .withColumn("recency_days",
            datediff(col("__max_day"), col("last_day")).cast("bigint"))
        def quint(order: Column) =
          ntile(5).over(Window.orderBy(order, col("user_id").asc)).cast("bigint")
        scored
          .withColumn("r_score", quint(col("recency_days").desc))
          .withColumn("f_score", quint(col("frequency").asc))
          .withColumn("m_score", quint(col("monetary").asc))
          .select(col("user_id"), col("recency_days"), col("frequency"),
            // ntile above ranked the exact decimal; the OUTPUT is float64
            decToDouble(col("monetary"), 2).as("monetary"),
            col("r_score"), col("f_score"), col("m_score"),
            (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
              .as("rfm_segment"))
          .orderBy("user_id")
      },
      Some(s"""WITH p AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |            value FROM events WHERE event_type = 'purchase'),
             |u AS (SELECT user_id, max(day) AS last_day,
             |        CAST(count(*) AS BIGINT) AS frequency,
             |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS monetary
             |      FROM p GROUP BY user_id),
             |mx AS (SELECT max(day) AS max_day FROM p),
             |s AS (SELECT u.*, CAST(date_diff('day', last_day, max_day) AS BIGINT)
             |        AS recency_days FROM u CROSS JOIN mx),
             |q AS (SELECT *,
             |  CAST(ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS BIGINT) AS r_score,
             |  CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS BIGINT) AS f_score,
             |  CAST(ntile(5) OVER (ORDER BY monetary, user_id) AS BIGINT) AS m_score
             |  FROM s)
             |SELECT user_id, recency_days, frequency,
             |  ${decToDoubleSql("monetary", 2)} AS monetary,
             |  r_score, f_score,
             |  m_score, r_score * 100 + f_score * 10 + m_score AS rfm_segment
             |FROM q ORDER BY user_id""".stripMargin)),

    // Time-weighted average value per user (TWAP): exact microsecond ×
    // cent integer accumulators; only the final ratio is a double.
    "q_twap" -> Q(
      (s, dir) =>
        minietl.events.EventAnalytics.timeWeightedAvg(
          events(s, dir), "user_id", "ts", "value", "event_id")
          .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             |            CAST(round(value * 100, 0) AS BIGINT) AS cents
             |          FROM events),
             |d AS (SELECT user_id, cents,
             |        epoch_us(lead(ts) OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id)) - epoch_us(ts) AS dur
             |      FROM e),
             |a AS (SELECT user_id,
             |        CAST(sum(CAST(cents * dur AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS num,
             |        CAST(sum(CAST(dur AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS den,
             |        count(*) AS n_intervals
             |      FROM d WHERE dur IS NOT NULL AND cents IS NOT NULL
             |      GROUP BY user_id)
             |SELECT user_id,
             |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100, 4) AS twap,
             |  CAST(den AS BIGINT) AS total_dur_us, n_intervals
             |FROM a ORDER BY user_id""".stripMargin)),

    // Exact sample covariance of (quantity, price) per return flag: the
    // accumulator n·Σxy − Σx·Σy is computed entirely in integers/decimals
    // (quantity integral, price in cents), so the statistic's numerator is
    // bit-exact; only the final normalized value is a (4dp-rounded) double.
    // The numerator passes 2^63 at large SF, so it is EMITTED AS A STRING
    // (integer digits render identically from DECIMAL(38,0) and HUGEINT) —
    // the driver contract forbids wide-DECIMAL output columns and a float64
    // rendering would be lossy past 2^53.
    "q_covariance" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("bigint").as("x"),
            round(col("l_extendedprice") * 100, 0).cast("bigint").as("y"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"))
          .select(col("l_returnflag"), col("n"),
            (expr("CAST(n AS DECIMAL(16,0)) * CAST(sxy AS DECIMAL(19,0))") -
              expr("CAST(sx AS DECIMAL(17,0)) * CAST(sy AS DECIMAL(18,0))"))
              .cast("decimal(38,0)").cast("string").as("cov_num"),
            round(
              expr("CAST(CAST(n AS DECIMAL(16,0)) * CAST(sxy AS DECIMAL(19,0)) - CAST(sx AS DECIMAL(17,0)) * CAST(sy AS DECIMAL(18,0)) AS DOUBLE)") /
                (col("n").cast("double") * (col("n") - 1).cast("double") * 100),
              4).as("cov"))
          .orderBy("l_returnflag"),
      Some("""WITH b AS (SELECT l_returnflag,
             |            CAST(l_quantity AS BIGINT) AS x,
             |            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
             |          FROM lineitem),
             |a AS (SELECT l_returnflag, count(*) AS n, sum(x * y) AS sxy,
             |        sum(x) AS sx, sum(y) AS sy
             |      FROM b GROUP BY l_returnflag),
             |c AS (SELECT l_returnflag, n,
             |        CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
             |          - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num
             |      FROM a)
             |SELECT l_returnflag, n,
             |  CAST(num AS VARCHAR) AS cov_num,
             |  round(CAST(num AS DOUBLE)
             |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * 100), 4) AS cov
             |FROM c ORDER BY l_returnflag""".stripMargin)),

    // Exact Pearson correlation: cov/var numerators as exact decimals
    // (n·Σxy−ΣxΣy etc.; Σy² widened to DECIMAL — cent-squared sums pass
    // 2⁶³), the coefficient derived from them in identical IEEE double
    // ops on both engines. Built-in corr() is NOT replayable (float
    // accumulation order); this is.
    "q_correlation" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("bigint").as("x"),
            round(col("l_extendedprice") * 100, 0).cast("bigint").as("y"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y").cast("decimal(20,0)") * col("y")).as("syy"))
          .select(col("l_returnflag"), col("n"),
            // exact DECIMAL(38,0) numerators; kept internal for the corr
            // derivation, emitted as strings per the driver-output contract
            expr("CAST(CAST(n AS DECIMAL(16,0)) * CAST(sxy AS DECIMAL(19,0)) - CAST(sx AS DECIMAL(17,0)) * CAST(sy AS DECIMAL(18,0)) AS DECIMAL(38,0))")
              .as("_cov_num"),
            expr("CAST(CAST(n AS DECIMAL(16,0)) * CAST(sxx AS DECIMAL(19,0)) - CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(18,0)) AS DECIMAL(38,0))")
              .as("_varx_num"),
            expr("CAST(CAST(n AS DECIMAL(10,0)) * syy - CAST(sy AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS DECIMAL(38,0))")
              .as("_vary_num"))
          .withColumn("corr",
            when(col("_varx_num") > 0 && col("_vary_num") > 0,
              round(col("_cov_num").cast("double") /
                sqrt(col("_varx_num").cast("double") *
                  col("_vary_num").cast("double")), 4) + lit(0.0)))
          .select(col("l_returnflag"), col("n"),
            col("_cov_num").cast("string").as("cov_num"),
            col("_varx_num").cast("string").as("varx_num"),
            col("_vary_num").cast("string").as("vary_num"),
            col("corr"))
          .orderBy("l_returnflag"),
      Some("""WITH b AS (SELECT l_returnflag,
             |            CAST(l_quantity AS BIGINT) AS x,
             |            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
             |          FROM lineitem),
             |a AS (SELECT l_returnflag, count(*) AS n, sum(x * y) AS sxy,
             |        sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             |        sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
             |      FROM b GROUP BY 1),
             |c AS (SELECT l_returnflag, n,
             |        CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
             |          - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS covn,
             |        CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
             |          - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS vxn,
             |        CAST(n AS HUGEINT) * syy
             |          - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS vyn
             |      FROM a)
             |SELECT l_returnflag, n,
             |  CAST(covn AS VARCHAR) AS cov_num,
             |  CAST(vxn AS VARCHAR) AS varx_num,
             |  CAST(vyn AS VARCHAR) AS vary_num,
             |  CASE WHEN vxn > 0 AND vyn > 0 THEN
             |    round(CAST(covn AS DOUBLE)
             |      / sqrt(CAST(vxn AS DOUBLE) * CAST(vyn AS DOUBLE)), 4) + 0.0
             |  END AS corr
             |FROM c ORDER BY l_returnflag""".stripMargin)),

    // Deterministic per-group mode (ties to smallest value — total order).
    "q_group_mode" -> Q(
      (s, dir) =>
        events(s, dir)
          .transform(Ops.modePerGroup(Seq("user_id"), "event_type"))
          .orderBy("user_id"),
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY n DESC, event_type) AS rn FROM c)
             |SELECT user_id, event_type AS mode_value,
             |  CAST(n AS BIGINT) AS mode_count
             |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Group-median imputation of deterministically planted nulls (the
    // FillNA family extended to group statistics). Exactness discipline,
    // measured the hard way (28/10000 rows flipped without it):
    //  - quantize to integer CENTS before the median — engines phrase the
    //    even-count interpolation differently (l*(1-d)+h*d vs l+d*(h-l)),
    //    an ulp apart on non-representable decimals, but midpoints of
    //    integer-valued doubles are exact under both phrasings;
    //  - emit the cent value via the scaled-BIGINT two-step (×10 is exact —
    //    .0/.5 cents are dyadic — then BIGINT→DOUBLE/10), NOT a rounded
    //    double: round() itself disagrees across engines on true
    //    half-boundaries (Spark rounds the shortest decimal rendering,
    //    others the scaled product).
    "q_impute_median" -> Q(
      (s, dir) =>
        events(s, dir)
          .select(col("event_id"), col("user_id"),
            when(col("event_type") === "error", lit(null))
              .otherwise(round(col("value") * 100, 0)).as("v"))
          .transform(Ops.imputeGroup("v", Seq("user_id"), "median"))
          .select(col("event_id"), col("user_id"),
            ((col("v") * 10).cast("bigint").cast("double") / 10.0).as("v_cents"))
          .orderBy("event_id"),
      Some("""WITH b AS (SELECT event_id, user_id,
             |            CASE WHEN event_type = 'error' THEN NULL
             |                 ELSE round(value * 100, 0) END AS v FROM events),
             |m AS (SELECT user_id, quantile_cont(v, 0.5) AS med
             |      FROM b GROUP BY user_id)
             |SELECT b.event_id, b.user_id,
             |  CAST(CAST(coalesce(b.v, m.med) * 10 AS BIGINT) AS DOUBLE) / 10.0 AS v_cents
             |FROM b LEFT JOIN m USING (user_id)
             |ORDER BY event_id""".stripMargin)),

    // n-gram containment (quote/subset detection — high containment, low
    // Jaccard): inverted-index candidates with a posting-length cap, exact
    // merge-walk verify. Hash-invariant counts, so the string-shingle
    // DuckDB replay is exact.
    "q_ngram_containment" -> Q(
      (s, dir) =>
        minietl.dedup.Dedup.ngramContainmentPairs(
          documents(s, dir), "text", "doc_id", shingleN = 3, threshold = 0.5,
          maxPostingLen = 100)
          .orderBy("id_a", "id_b"),
      Some("""WITH d AS (SELECT doc_id, text t, string_split(text, ' ') toks
             |           FROM documents),
             |s AS (SELECT doc_id,
             |        CASE WHEN len(toks) < 3 THEN [t]
             |             ELSE list_distinct(list_transform(range(1, len(toks) - 1),
             |               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END sh
             |      FROM d),
             |p AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |pc AS (SELECT *, count(*) OVER (PARTITION BY g) AS plen FROM p),
             |pk AS (SELECT doc_id, g FROM pc WHERE plen <= 100),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM pk a JOIN pk b ON a.g = b.g AND a.doc_id < b.doc_id),
             |j AS (SELECT id_a, id_b,
             |        len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
             |        len(sa.sh) AS na, len(sb.sh) AS nb
             |      FROM cand
             |      JOIN s sa ON sa.doc_id = cand.id_a
             |      JOIN s sb ON sb.doc_id = cand.id_b)
             |SELECT id_a, id_b,
             |  round(CAST(inter AS DOUBLE) / na, 4) AS cont_a,
             |  round(CAST(inter AS DOUBLE) / nb, 4) AS cont_b
             |FROM j
             |WHERE greatest(round(CAST(inter AS DOUBLE) / na, 4),
             |               round(CAST(inter AS DOUBLE) / nb, 4)) >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)),

    // Per-type percentile winsorization (heavy-tail clipping) — percentile
    // interpolation parity with quantile_cont is proven by q_percentile.
    "q_winsorize" -> Q(
      (s, dir) =>
        events(s, dir)
          .transform(Ops.winsorize(Seq("event_type"), "value", lo = 0.05, hi = 0.95))
          .select(col("event_id"), col("event_type"),
            (round(col("value"), 2) + lit(0.0)).as("value"),
            (round(col("value_w"), 2) + lit(0.0)).as("value_w"))
          .orderBy("event_id"),
      Some("""WITH p AS (SELECT event_type,
             |        quantile_cont(value, 0.05) AS lo,
             |        quantile_cont(value, 0.95) AS hi
             |      FROM events GROUP BY event_type)
             |SELECT e.event_id, e.event_type,
             |  round(e.value, 2) + 0.0 AS value,
             |  round(greatest(least(e.value, p.hi), p.lo), 2) + 0.0 AS value_w
             |FROM events e JOIN p USING (event_type)
             |ORDER BY event_id""".stripMargin)),

    // Fixed-width histogram (20 × 25-unit bins, top bin clamps): portable
    // floor arithmetic; mass accumulates as an exact DECIMAL per bin and
    // renders as float64 (decToDouble two-step).
    "q_histogram" -> Q(
      (s, dir) =>
        events(s, dir)
          .groupBy(col("event_type"),
            least(floor(col("value") / 25), lit(19)).cast("bigint").as("bin"))
          .agg(count(lit(1)).as("n"),
            decToDouble(sum(col("value").cast("decimal(18,2)")), 2).as("mass"))
          .orderBy("event_type", "bin"),
      Some(s"""SELECT event_type,
             |  CAST(least(floor(value / 25), 19) AS BIGINT) AS bin,
             |  count(*) AS n,
             |  ${decToDoubleSql("sum(CAST(value AS DECIMAL(18,2)))", 2)} AS mass
             |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin)),

    // Wide → long unpivot (reshape superset; the reference has pivot only
    // in spirit). The oracle replays as the canonical UNION ALL.
    "q_melt" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
          .transform(Ops.melt(Seq("l_orderkey", "l_linenumber"),
            Seq("l_quantity", "l_discount", "l_tax"), "metric", "value"))
          .select(col("l_orderkey"), col("l_linenumber"), col("metric"),
            (round(col("value"), 2) + lit(0.0)).as("value"))
          .orderBy("l_orderkey", "l_linenumber", "metric"),
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
             |  round(l_quantity, 2) + 0.0 AS value FROM lineitem
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_discount',
             |  round(l_discount, 2) + 0.0 FROM lineitem
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_tax',
             |  round(l_tax, 2) + 0.0 FROM lineitem
             |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    // SCD2 history build: collapse each user's event-type runs into
    // [valid_from, valid_to) intervals; ONE shuffle (see Ops.scd2).
    "q_scd2" -> Q(
      (s, dir) =>
        events(s, dir)
          .select("user_id", "event_type", "ts", "event_id")
          .transform(Ops.scd2(Seq("user_id"), "ts", "event_id",
            Seq("event_type")))
          .orderBy("user_id", "valid_from", "event_type"),
      Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             |               event_id FROM events),
             |k AS (SELECT *, lag(event_type) OVER w AS prev FROM e
             |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |c AS (SELECT * FROM k WHERE prev IS NULL OR prev != event_type),
             |f AS (SELECT user_id, event_type, ts AS valid_from,
             |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |          AS valid_to
             |      FROM c)
             |SELECT user_id, event_type, valid_from, valid_to,
             |  (valid_to IS NULL) AS is_current
             |FROM f ORDER BY user_id, valid_from, event_type""".stripMargin)),

    // Tokenizer-vocabulary build (count-ranked ids) + order-preserving
    // document encoding with OOV=0 — the full pipeline replays in DuckDB
    // (zipped unnests for positions, list(... ORDER BY pos) for sequences).
    "q_vocab_encode" -> Q(
      (s, dir) => {
        val docs = documents(s, dir)
        val vocab = minietl.text.TextAnalysis.buildVocab(docs, "text", minCount = 5)
        minietl.text.TextAnalysis.encodeDocs(docs, "doc_id", "text", vocab)
          // driver contract: no ARRAY output columns — render as CSV string
          .withColumn("token_ids",
            array_join(transform(col("token_ids"), _.cast("string")), ","))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
             |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
             |  FROM documents),
             |cnt AS (SELECT term, count(*) AS term_count FROM t
             |        GROUP BY term HAVING count(*) >= 5),
             |v AS (SELECT term, CAST(row_number() OVER
             |        (ORDER BY term_count DESC, term) AS BIGINT) AS term_id
             |      FROM cnt),
             |enc AS (SELECT t.doc_id, t.pos, coalesce(v.term_id, 0) AS tid
             |        FROM t LEFT JOIN v USING (term))
             |SELECT doc_id,
             |  array_to_string(list_transform(list(tid ORDER BY pos),
             |    x -> CAST(x AS VARCHAR)), ',') AS token_ids,
             |  CAST(len(list(tid ORDER BY pos)) AS BIGINT) AS n_tokens,
             |  CAST(len(list_filter(list(tid ORDER BY pos), x -> x = 0))
             |    AS BIGINT) AS n_oov
             |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Hashing-trick featurization: dim-32 TF vector + distinct-slot count
    // under the portable md5-60-bit hash contract — full DuckDB replay.
    "q_feature_hash" -> Q(
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"),
            // driver contract: no ARRAY output columns — CSV-string render
            array_join(transform(
              minietl.text.FeatureHash.tfVector(col("text"), 32),
              _.cast("string")), ",").as("tf"),
            minietl.text.FeatureHash.nnz(col("text"), 32).as("nnz"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |array_to_string(list_transform(
              |${minietl.text.FeatureHash.oracleExpr("text", 32)},
              |  x -> CAST(x AS VARCHAR)), ',') AS tf,
              |${minietl.text.FeatureHash.nnzOracleExpr("text", 32)} AS nnz
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Trained-classifier-in-the-loop routing (text/NaiveBayes.scala): train
    // multinomial NB on lang over hashed token features, classify the same
    // corpus, report the argmax per document. The oracle REPLAYS THE WHOLE
    // TRAIN-THEN-SERVE PIPELINE in DuckDB — counts, smoothing, priors, the
    // sequential score fold, and the (score desc, label asc) tie-break —
    // so a hash match proves the trained model's arithmetic end to end.
    "q_naive_bayes" -> Q(
      (s, dir) => {
        val docs = documents(s, dir)
        val model = minietl.text.NaiveBayes.train(docs, "lang", "text", 64)
        minietl.text.NaiveBayes.classify(docs, model, "doc_id", "text", 64)
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select(col("doc_id"), col("lang"), col("pred"),
            round(col("score"), 4).as("score"),
            when(col("pred") === col("lang"), lit(1L)).otherwise(lit(0L))
              .as("correct"))
          .orderBy("doc_id")
      },
      Some {
        val nb = minietl.text.NaiveBayes.oracleSql(
          "documents", "lang", "doc_id", "text", 64)
        s"""WITH nb AS ($nb)
           |SELECT nb.doc_id, d.lang, nb.pred, nb.score,
           |  CAST(CASE WHEN nb.pred = d.lang THEN 1 ELSE 0 END AS BIGINT)
           |    AS correct
           |FROM nb JOIN documents d ON d.doc_id = nb.doc_id
           |ORDER BY nb.doc_id""".stripMargin
      }),

    // DSIR-style data selection (text/Dsir.scala): hashed-feature importance
    // log-ratio between the en target domain and the raw corpus, score every
    // document, keep the deterministic top-200. The oracle rebuilds both
    // distributions, the ratio vector, the sequential fold, and the same
    // (score desc, doc_id asc) top-k in DuckDB.
    "q_dsir_select" -> Q(
      (s, dir) => {
        val docs = documents(s, dir)
        val ratio = minietl.text.Dsir.logRatio(docs, "text",
          col("lang") === "en", 64)
        minietl.text.Dsir.select(docs, ratio, "doc_id", "text", 64, k = 200)
          // + 0.0: a near-zero score rounds to IEEE -0.0, whose string form
          // breaks the value-sorted compare (see the round() scaladoc note)
          .select(col("doc_id"), (round(col("score"), 4) + lit(0.0)).as("score"),
            col("rank"))
          .orderBy("rank")
      },
      Some(minietl.text.Dsir.oracleSql("documents", "doc_id", "text",
        "lang = 'en'", 64, k = 200) + " ORDER BY rank")),

    // Canonical text normalization over a deterministically uglified input
    // (tabs, doubled spaces, uppercase) so the scrub is actually exercised.
    "q_text_normalize" -> Q(
      (s, dir) => {
        val ugly = concat(lit("\t "), upper(col("text")), lit("  \n"))
        documents(s, dir)
          .select(col("doc_id"),
            minietl.text.TextAnalysis.normalizeText(ugly).as("norm_text"),
            minietl.text.TextAnalysis.tokenCount(
              minietl.text.TextAnalysis.normalizeText(ugly)).as("n_tokens"))
          .orderBy("doc_id")
      },
      Some {
        val ugly = "chr(9) || ' ' || upper(text) || '  ' || chr(10)"
        val norm = minietl.text.TextAnalysis.normalizeOracleExpr(ugly)
        s"""SELECT doc_id, $norm AS norm_text,
           |  CAST(len(string_split($norm, ' ')) AS BIGINT) AS n_tokens
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // Z-order (Morton) layout key over two independent dimensions
    // (ops/Layout.scala): group the fact table by the interleaved key and
    // replay the identical bit arithmetic through zOrderSqlTwin — proving
    // the layout expression the multi-dimension pruning write path sorts by
    // (LayoutSpec asserts the actual row-group pruning on a clustered
    // write; this row proves cross-engine key parity under the hash gate).
    "q_zorder" -> Q(
      (s, dir) => {
        val z = minietl.ops.Layout.zOrderKey(
          col("l_quantity").cast("long"), pmod(col("l_partkey"), lit(64)), 6)
        t(s, dir, "lineitem")
          .groupBy(z.as("z"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
          .orderBy("z")
      },
      Some(s"""SELECT ${minietl.ops.Layout.zOrderSqlTwin(
                 "CAST(l_quantity AS BIGINT)", "(l_partkey % 64)", 6)} AS z,
              |  count(*) AS n,
              |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
              |FROM lineitem GROUP BY 1 ORDER BY z""".stripMargin)),

    // XLSX interchange proven against the hash gate, not just ScalaTest: a
    // bounded slice goes parquet → xlsx (driver-buffered, per the Excel
    // contract) → read back → aggregate; the oracle aggregates the same
    // slice straight from the parquet table.
    "q_excel_roundtrip" -> Q(
      (s, dir) => {
        val xdir = stagingDir("excel", dir)
        java.nio.file.Files.createDirectories(xdir)
        val path = xdir.resolve("nation.xlsx").toString
        minietl.io.Excel.write(t(s, dir, "nation").orderBy("n_nationkey"), path)
        minietl.io.Excel.read(s, path)
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("n_nations"),
            sum(col("n_nationkey")).as("key_sum"),
            min(col("n_name")).as("first_name"))
          .orderBy("n_regionkey")
      },
      Some("""SELECT n_regionkey, count(*) AS n_nations,
             |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
             |  min(n_name) AS first_name
             |FROM nation GROUP BY 1 ORDER BY n_regionkey""".stripMargin)),

    // CSV interchange under the hash gate (the q_excel_roundtrip pattern,
    // mirroring tests/test_loaders.py:22-99 / test_extractors.py:19-76's
    // round-trip contract): supplier → csv (Writers.csv, header) → read
    // back through Readers.csv with the DECLARED source schema (no
    // inference scan) → aggregate; the oracle aggregates the same table
    // straight from parquet. Aggregates are exact pass-throughs (counts,
    // integer sums, min/max of raw doubles and strings) so the row proves
    // serialization fidelity, not rounding luck: Spark renders doubles in
    // shortest-round-trip form, so max(s_acctbal) must come back
    // bit-identical.
    "q_csv_roundtrip" -> Q(
      (s, dir) => {
        val cdir = stagingDir("csvrt", dir)
        val src = t(s, dir, "supplier")
        minietl.io.Writers.csv(src, cdir.toString)
        minietl.io.Readers.csv(s, cdir.toString, schema = Some(src.schema))
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_suppliers"),
            sum(col("s_suppkey")).as("key_sum"),
            max(col("s_acctbal")).as("max_bal"),
            min(col("s_name")).as("first_name"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT s_nationkey, count(*) AS n_suppliers,
             |  CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             |  max(s_acctbal) AS max_bal,
             |  min(s_name) AS first_name
             |FROM supplier GROUP BY 1 ORDER BY s_nationkey""".stripMargin)),

    // JSONL interchange under the hash gate (test_loaders.py:102-194 /
    // test_extractors.py:79-148): customer → jsonl (Writers.json; one
    // object per line) → Readers.json with the declared schema →
    // aggregate. JSON numbers round-trip exactly (shortest-repr doubles,
    // exact int64), strings are escaped per RFC 8259 — min(c_name) and
    // min(c_acctbal) prove both survive.
    "q_jsonl_roundtrip" -> Q(
      (s, dir) => {
        val jdir = stagingDir("jsonlrt", dir)
        val src = t(s, dir, "customer")
        minietl.io.Writers.json(src, jdir.toString)
        minietl.io.Readers.json(s, jdir.toString, lines = true,
            schema = Some(src.schema))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("c_custkey")).as("key_sum"),
            min(col("c_acctbal")).as("min_bal"),
            min(col("c_name")).as("first_name"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers,
             |  CAST(sum(c_custkey) AS BIGINT) AS key_sum,
             |  min(c_acctbal) AS min_bal,
             |  min(c_name) AS first_name
             |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // MultiLoader + CallbackLoader under the hash gate (loaders.py:453-484,
    // 512-545; VERDICT r13 Next #3 — the last spec-only §2.5 sinks):
    // documents' scalar columns fan out ONCE-PERSISTED through
    // Writers.multi to THREE real sinks (csv, jsonl, parquet) plus a
    // Writers.foreachPartition collecting sink (each executor partition
    // appends its rows to a partition-indexed TSV — the callback-side
    // effect pattern; the read-back relies on local-mode's shared FS,
    // exactly like every staged roundtrip in this battery, while a cluster
    // callback would target an external system). All four legs are read
    // back tagged by sink and unioned; the oracle cross-joins documents
    // with the four sink names, so the hash equality proves each leg
    // round-tripped every row byte-exactly AND that the fan-out wrote no
    // leg twice. NullLoader stays oracle-less by definition (it discards).
    "q_multi_sink" -> Q(
      (s, dir) => {
        val base = stagingDir("multisink", dir)
        java.nio.file.Files.createDirectories(base)
        val src = documents(s, dir).select("doc_id", "lang", "n_chars")
        // recreate the callback dir per call: the file sinks overwrite via
        // SaveMode, the callback leg must not accrete stale partition files
        // across a repeat run in the same session (idempotence check)
        val cb = s"$base/cb"
        deleteTree(java.nio.file.Paths.get(cb))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cb))
        minietl.io.Writers.multi(src, Seq(
          d => minietl.io.Writers.csv(d, s"$base/csv"),
          d => minietl.io.Writers.json(d, s"$base/jsonl"),
          d => minietl.io.Writers.parquet(d, s"$base/pq"),
          d => minietl.io.Writers.foreachPartition(d, { it =>
            if (it.hasNext) {
              val pid = org.apache.spark.TaskContext.getPartitionId()
              val w = java.nio.file.Files.newBufferedWriter(
                java.nio.file.Paths.get(cb, f"part-$pid%05d.tsv"))
              try it.foreach { r =>
                w.write(s"${r.getLong(0)}\t${r.getString(1)}\t${r.getLong(2)}\n")
              } finally w.close()
            }
          })))
        val schema = src.schema
        def tag(d: DataFrame, sink: String) =
          d.select(col("doc_id"), col("lang"), col("n_chars"),
            lit(sink).as("sink"))
        tag(minietl.io.Readers.csv(s, s"$base/csv", schema = Some(schema)), "csv")
          .unionByName(tag(minietl.io.Readers.json(s, s"$base/jsonl",
            lines = true, schema = Some(schema)), "jsonl"))
          .unionByName(tag(s.read.parquet(s"$base/pq"), "parquet"))
          .unionByName(tag(s.read.schema(schema).option("sep", "\t").csv(cb),
            "callback"))
          .orderBy("doc_id", "sink")
      },
      Some("""SELECT doc_id, lang, n_chars, v.sink
             |FROM documents
             |CROSS JOIN (VALUES ('csv'), ('jsonl'), ('parquet'), ('callback')) v(sink)
             |ORDER BY doc_id, sink""".stripMargin)),

    // JDBC interchange under the hash gate (test_loaders.py:197-276 /
    // test_extractors.py:285-356): supplier → embedded Derby (Writers.jdbc,
    // replace — Derby ships in Spark's own jars, no external database) →
    // Readers.jdbc read-back → aggregate. DuckDB never touches Derby: the
    // oracle aggregates the pre-write parquet table, so the hash equality
    // IS the proof that the SQL round trip preserved every value (Derby
    // DOUBLE is IEEE binary64 — exact; strings come back from CLOB).
    "q_jdbc_roundtrip" -> Q(
      (s, dir) => {
        val ddir = stagingDir("derbyrt", dir)
        java.nio.file.Files.createDirectories(ddir)
        val url = s"jdbc:derby:$ddir/db;create=true"
        minietl.io.Writers.jdbc(t(s, dir, "supplier"), url, "supplier_rt",
          ifExists = "replace")
        minietl.io.Readers.jdbc(s, url, table = Some("supplier_rt"))
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_suppliers"),
            min(col("s_suppkey")).as("key_min"),
            sum(col("s_suppkey")).as("key_sum"),
            max(col("s_acctbal")).as("max_bal"),
            min(col("s_name")).as("first_name"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT s_nationkey, count(*) AS n_suppliers,
             |  min(s_suppkey) AS key_min,
             |  CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             |  max(s_acctbal) AS max_bal,
             |  min(s_name) AS first_name
             |FROM supplier GROUP BY 1 ORDER BY s_nationkey""".stripMargin)),
  )

  private val registry: Seq[(String, Q)] = relational ++ pipelineExtras

  // ------------------------------------------------------------------
  // Driver contract
  // ------------------------------------------------------------------

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.fn }.toMap

  /** Set by the q_ivf_ann query function after training (the oracle embeds
    * the learned centroids, which exist only once training has run). Read by
    * [[oracleSql]], which Verify calls after draining the battery.
    */
  @volatile private var ivfServingOracle: Option[String] = None

  /** Set by q_bpe_encode after training (the oracle embeds the learned
    * segmentation manifest) — same lifecycle as [[ivfServingOracle]].
    */
  @volatile private var bpeServingOracle: Option[String] = None

  /** Set by q_kmeans_clusters after training — same lifecycle. */
  @volatile private var kmeansServingOracle: Option[String] = None

  /** Set by q_semdedup after training — same lifecycle. */
  @volatile private var semdedupServingOracle: Option[String] = None

  /** Set by q_semdedup_recluster after training (embeds the main AND the
    * recluster-round sub-model centroids) — same lifecycle.
    */
  @volatile private var semdedupReclusterOracle: Option[String] = None

  /** Set by q_semdedup_recluster2 after training (embeds the main model
    * and BOTH recovery rounds' sub-models) — same lifecycle.
    */
  @volatile private var semdedupRecluster2Oracle: Option[String] = None

  /** Queries whose oracle exists only after their query function ran
    * (train-then-serve): key → the oracle if trained, None before — an
    * unconditional apply() of a None entry is a sequencing bug and fails
    * fast (see [[oracleSql]]).
    */
  private def trainedOracles: Map[String, Option[String]] = Map(
    "q_ivf_ann" -> ivfServingOracle,
    "q_bpe_encode" -> bpeServingOracle,
    "q_kmeans_clusters" -> kmeansServingOracle,
    "q_semdedup" -> semdedupServingOracle,
    "q_semdedup_recluster" -> semdedupReclusterOracle,
    "q_semdedup_recluster2" -> semdedupRecluster2Oracle)

  /** Oracle SQL per query. A train-then-serve entry ([[trainedOracles]]:
    * q_ivf_ann embeds learned centroids, q_bpe_encode the learned
    * segmentation manifest) appears only once its query has trained, so
    * before training the map simply LACKS the key — `get`/`contains`/
    * `getOrElse` behave like any Map's (a demanding caller can probe
    * without tripping). Only the unconditional `apply` fails fast
    * pre-training, with an actionable message instead of the bare
    * `NoSuchElementException` — that direct lookup is always a sequencing
    * bug.
    */
  def oracleSql: Map[String, String] = {
    val base = registry.collect { case (k, Q(_, Some(sql))) => k -> sql }.toMap ++
      trainedOracles.collect { case (k, Some(sql)) => k -> sql }
    new scala.collection.immutable.AbstractMap[String, String] {
      def get(key: String): Option[String] = base.get(key)
      override def apply(key: String): String = {
        if (trainedOracles.get(key).exists(_.isEmpty))
          throw new IllegalStateException(
            s"$key oracle requested before the $key query ran: its SQL embeds " +
              s"a trained artifact. Run SparkEntry.queries(\"$key\") " +
              "(as graft.Verify does) before reading this oracle entry.")
        base(key)
      }
      def iterator: Iterator[(String, String)] = base.iterator
      def removed(key: String): Map[String, String] = base.removed(key)
      def updated[V1 >: String](key: String, value: V1): Map[String, V1] =
        base.updated(key, value)
    }
  }
}
