package minietl.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}

import minietl.pipeline.RunCaches

/** Structured Streaming surface.
  *
  * The reference's "streaming" is bounded chunked iteration (SURVEY §1.1);
  * its only unbounded-looking pieces are `StatefulAggTransformer` (cross-
  * chunk partial aggregation, mini_etl/components/transformers.py:381-519)
  * and the cron/interval `Scheduler` re-running a bounded pipeline
  * (core/scheduler.py:152-349). Their honest Spark analogs:
  *
  *  - StatefulAggTransformer → streaming `groupBy().agg()` (partial→final
  *    merge handled by the engine) or [[runningGroupAgg]] when the
  *    incremental per-group state itself is the product;
  *  - Scheduler intervals → `Trigger.ProcessingTime`; a "run every N then
  *    exit" batch-refresh job → `Trigger.AvailableNow`;
  *  - per-chunk callbacks → `foreachBatch`.
  *
  * Everything here is a thin, typed veneer over those primitives so a
  * pipeline built from `minietl.ops` stages can be re-bound to an unbounded
  * source unchanged (`DataFrame => DataFrame` stages apply verbatim).
  */
object Streaming {

  private def aggColumns(aggs: Map[String, Seq[String]]) = {
    val aggCols = for { (c, fns) <- aggs.toSeq.sortBy(_._1); fn <- fns }
      yield minietl.ops.Ops.aggFn(fn, c).as(s"${c}_${fn.toLowerCase}")
    require(aggCols.nonEmpty, "empty aggregation spec")
    aggCols
  }

  /** Event-time tumbling-window aggregation with a watermark — the standard
    * unbounded replacement for the reference's whole-input GroupAgg. Late
    * rows beyond `watermarkDelay` are dropped and their windows finalized.
    */
  def tumblingAgg(
      df: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      keys: Seq[String],
      aggs: Map[String, Seq[String]]): DataFrame =
    tumblingAggWatermarked(df.withWatermark(tsCol, watermarkDelay),
      tsCol, windowDuration, keys, aggs)

  /** [[tumblingAgg]] for a frame whose watermark the CALLER already set —
    * required when composing multiple stateful stages on one stream
    * (Spark rejects redefining the watermark mid-plan): apply
    * `withWatermark` once at the source, then chain watermarked variants.
    */
  def tumblingAggWatermarked(
      df: DataFrame, tsCol: String, windowDuration: String,
      keys: Seq[String], aggs: Map[String, Seq[String]]): DataFrame = {
    val aggCols = aggColumns(aggs)
    df.groupBy(window(col(tsCol), windowDuration) +: keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** Incrementally-maintained per-group aggregate state. */
  final case class GroupAggState(
      key: String, count: Long, sum: Double, min: Double, max: Double) {
    def mean: Double = if (count == 0) 0.0 else sum / count
  }

  /** The direct streaming analog of the reference's StatefulAggTransformer:
    * per-key running count/sum/min/max (mean derived), updated per
    * micro-batch via mapGroupsWithState. State lives in the state store
    * (checkpointed, partitioned by key) — the distributed version of the
    * reference's driver-held `_state` dict (transformers.py:420-435).
    */
  def runningGroupAgg(
      df: DataFrame, keyCol: String, valueCol: String): Dataset[GroupAggState] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[GroupAggState]) =>
          val prev = state.getOption.getOrElse(
            GroupAggState(key, 0L, 0.0, Double.PositiveInfinity, Double.NegativeInfinity))
          val next = rows.foldLeft(prev) { (s, r) =>
            GroupAggState(key, s.count + 1, s.sum + r._2, math.min(s.min, r._2), math.max(s.max, r._2))
          }
          state.update(next)
          next
      }
  }

  /** Event-time SLIDING-window aggregation: like [[tumblingAgg]] but each
    * row lands in windowDuration/slideDuration overlapping windows (e.g.
    * 10-minute windows every 5 minutes). Same watermark/lateness contract.
    */
  def slidingAgg(
      df: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      slideDuration: String,
      keys: Seq[String],
      aggs: Map[String, Seq[String]]): DataFrame =
    slidingAggWatermarked(df.withWatermark(tsCol, watermarkDelay),
      tsCol, windowDuration, slideDuration, keys, aggs)

  /** [[slidingAgg]] on an already-watermarked frame (see
    * [[tumblingAggWatermarked]] for why the split exists).
    */
  def slidingAggWatermarked(
      df: DataFrame, tsCol: String, windowDuration: String, slideDuration: String,
      keys: Seq[String], aggs: Map[String, Seq[String]]): DataFrame = {
    val aggCols = aggColumns(aggs)
    df.groupBy(window(col(tsCol), windowDuration, slideDuration) +: keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** One CLOSED session emitted by [[customSessionize]]: timestamps carried
    * as epoch micros (exact long arithmetic; render with timestamp_micros).
    */
  final case class ClosedSession(
      k: Long, start_us: Long, end_us: Long, n_events: Long, total: Double)

  /** Open-session state for [[customSessionize]] (public: Spark's codegen'd
    * state encoder must construct it from generated code).
    */
  final case class OpenSess(start: Long, last: Long, n: Long, sum: Double)

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * fully-programmable sibling of [[sessionAgg]] for session logic
    * `session_window` cannot express (custom close rules, per-session
    * payloads, emit-on-close side effects). A row starts a NEW session when
    * `ts - previous_ts >= gapSeconds`, else extends the open one; a closed
    * session carries (start, end, count, sum).
    *
    * Determinism contract — scoped to WITHIN a micro-batch: rows are
    * buffered and sorted by (ts) per key per batch before folding, so
    * output is independent of arrival order inside a batch (the buffer is
    * bounded by per-key-per-batch volume, not stream history). ACROSS
    * batches the guarantees are the watermark's: `flatMapGroupsWithState`
    * does not auto-drop late input, so rows strictly below the current
    * watermark are dropped HERE (rows AT the watermark are kept — Spark's
    * own late-data boundary for its stateful
    * operators), and an above-watermark row that still arrives out of
    * order relative to the open session extends it with
    * `start = min(start, ts)` / `last = max(last, ts)` — it can therefore
    * widen a session that a single-batch replay would have split, which is
    * the inherent cost of out-of-order arrival under any bounded-state
    * sessionizer. Exact batch parity holds when each key's rows arrive
    * batch-monotonically (e.g. the battery's staged single-batch replay).
    *
    * Flush paths, in preference order:
    *  - rows with `flushCol = true` act as pure time passage: they close a
    *    session whose gap has elapsed but never open one — a deterministic
    *    end-of-stream flush for bounded replays (the battery stages one
    *    sentinel per key past the global max ts);
    *  - otherwise `EventTimeTimeout` fires once the watermark passes
    *    `last + gap` and the open session closes from the timeout callback
    *    (the production path for genuinely unbounded streams).
    */
  def customSessionize(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, gapSeconds: Long,
                       watermarkDelay: String,
                       flushCol: Option[String] = None): Dataset[ClosedSession] = {
    val spark = df.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    val flush = flushCol.map(c => col(c).cast("boolean")).getOrElse(lit(false))
    def us(t: java.sql.Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    df.withWatermark(tsCol, watermarkDelay)
      .select(col(keyCol).cast("long").as("k"), col(tsCol).as("ts"),
        col(valueCol).cast("double").as("v"), flush.as("fl"))
      .as[(Long, java.sql.Timestamp, Double, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[(Long, java.sql.Timestamp, Double, Boolean)],
         state: GroupState[OpenSess]) =>
          def closed(o: OpenSess) = ClosedSession(key, o.start, o.last, o.n, o.sum)
          if (state.hasTimedOut) {
            val out = state.getOption.map(closed).iterator
            state.remove()
            out
          } else {
            // flatMapGroupsWithState does NOT auto-drop late input — enforce
            // the watermark contract ourselves so a straggler from a past
            // batch cannot rewind an open session (see docstring)
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val rows = it.filter(r => us(r._2) >= wmUs).toArray.sortBy(r => us(r._2))
            val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var open = state.getOption
            rows.foreach { r =>
              val t = us(r._2)
              open match {
                case Some(o) if t - o.last >= gapUs =>
                  out += closed(o)
                  open = if (r._4) None else Some(OpenSess(t, t, 1L, r._3))
                case Some(o) =>
                  // min/max (not o.start/t): an above-watermark row arriving
                  // in a LATER batch can be out of order relative to the
                  // open session; widening is the deterministic merge
                  if (!r._4) open = Some(OpenSess(
                    math.min(o.start, t), math.max(o.last, t), o.n + 1, o.sum + r._3))
                case None =>
                  if (!r._4) open = Some(OpenSess(t, t, 1L, r._3))
              }
            }
            open match {
              case Some(o) =>
                val timeoutMs = (o.last + gapUs) / 1000 + 1
                if (timeoutMs <= state.getCurrentWatermarkMs()) {
                  // gap already elapsed relative to the watermark: close now
                  // (setTimeoutTimestamp would reject a past timestamp)
                  out += closed(o)
                  state.remove()
                } else {
                  state.update(o)
                  state.setTimeoutTimestamp(timeoutMs)
                }
              case None => if (state.exists) state.remove()
            }
            out.iterator
          }
      }
  }

  /** Event-time SESSION windows: rows gapped less than `gap` merge into one
    * variable-length session per key (the unbounded analog of the batch
    * `Ops.sessionize`). State is per open session in the state store;
    * sessions finalize when the watermark passes their gap.
    */
  def sessionAgg(
      df: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      gap: String,
      keys: Seq[String],
      aggs: Map[String, Seq[String]]): DataFrame =
    sessionAggWatermarked(df.withWatermark(tsCol, watermarkDelay),
      tsCol, gap, keys, aggs)

  /** [[sessionAgg]] on an already-watermarked frame (see
    * [[tumblingAggWatermarked]]).
    */
  def sessionAggWatermarked(
      df: DataFrame, tsCol: String, gap: String,
      keys: Seq[String], aggs: Map[String, Seq[String]]): DataFrame = {
    val aggCols = aggColumns(aggs)
    df.groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** Streaming exact dedup on `keys`, bounded by the watermark: duplicates
    * arriving within the watermark delay of each other collapse to the
    * first row; state for a key is dropped once the watermark passes it, so
    * state size tracks the delay window, not the stream's history. The
    * unbounded analog of `Dedup.exact` / `Ops.dedupe(Keep.Any)` for
    * streaming ingest (dedup-at-the-door before the corpus lands).
    */
  def dedupWithinWatermark(
      df: DataFrame, tsCol: String, watermarkDelay: String,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "dedup needs at least one key column")
    dedupWatermarked(df.withWatermark(tsCol, watermarkDelay), keys)
  }

  /** [[dedupWithinWatermark]] on an already-watermarked frame (see
    * [[tumblingAggWatermarked]]).
    */
  def dedupWatermarked(df: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "dedup needs at least one key column")
    df.dropDuplicatesWithinWatermark(keys)
  }

  /** Dedup-at-the-door against a HISTORICAL corpus: drop every streaming
    * row whose fingerprint already exists in a static fingerprint table —
    * the ingest-time companion of [[dedupWithinWatermark]] (which only sees
    * duplicates inside the watermark window; this sees the accumulated
    * past). A stream-static LEFT ANTI join: the static side needs no state
    * store and no watermark — Spark re-plans it per micro-batch, so at
    * scale the fingerprint table should be a broadcast-sized digest or a
    * bucketed table, not raw history.
    */
  def dedupAgainstHistory(stream: DataFrame, historyFp: DataFrame,
                          fpCol: String): DataFrame =
    stream.join(historyFp.select(fpCol).distinct(), Seq(fpCol), "left_anti")

  /** The SELF-MAINTAINING ingest-dedup loop that [[dedupAgainstHistory]]
    * leaves to the caller: per micro-batch, drop rows whose `fpCol`
    * already exists in the parquet digest at `historyDir` (or earlier in
    * the same batch — keep-any, deterministic for byte-identical
    * duplicate payloads), hand the survivors to `sink`, then append their
    * fingerprints to the digest, so the history grows exactly by what was
    * admitted. The probe's semi join is itself the duplicate set. Null
    * fingerprints never match history; each batch admits and records one.
    * The digest's schema is checked when the query starts. Replay safety,
    * join direction and release: see `admitAgainstHistory`.
    */
  def dedupAndRecordHistory(
      stream: DataFrame, fpCol: String, historyDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val fpSchema = StructType(Seq(stream.schema(fpCol).copy(nullable = true)))
    admitAgainstHistory(stream, exactDigests(historyDir, fpCol), checkpoint, trigger,
      sink, startSchemas = Seq(fpSchema)) { batch =>
      Admission(batch.dropDuplicates(fpCol), fpCol,
        keys = batch.select(fpCol).where(col(fpCol).isNotNull),
        records = fresh => Seq(fresh.select(fpCol)))
    }
  }

  /** A digest directory of an ingest-dedup loop and the columns it stores,
    * in order. The layout functions below are the one definition of each
    * loop's digest: the loops write with it and `compact_after` compacts
    * with it.
    */
  private[minietl] final case class DigestTable(dir: String, columns: Seq[String])

  /** [[dedupAndRecordHistory]]'s digest: the admitted fingerprints. */
  private[minietl] def exactDigests(historyDir: String, fpCol: String): Seq[DigestTable] =
    Seq(DigestTable(historyDir, Seq(fpCol)))

  /** [[nearDupDedupAndRecordHistory]]'s digest per `crossBatch` mode: flat
    * (band, key) rows in collision mode; (band, key, id) rows under
    * `bands` plus one payload row per admitted doc in the verified modes
    * (`sigs` for estimate, `shingles` for exact).
    */
  private[minietl] def nearDupDigests(historyDir: String, crossBatch: String): Seq[DigestTable] =
    crossBatch match {
      case "collision" => Seq(DigestTable(historyDir, Seq("band", "key")))
      case mode =>
        val (sub, payload) = if (mode == "exact") ("shingles", "sh") else ("sigs", "sig")
        Seq(DigestTable(s"$historyDir/bands", Seq("band", "key", "id")),
          DigestTable(s"$historyDir/$sub", Seq("id", payload)))
    }

  /** [[mediaHashDedupAndRecordHistory]]'s digest: the 8-byte hash at
    * `maxDist` 0, else (band, key, hash) rows.
    */
  private[minietl] def mediaDigests(historyDir: String, maxDist: Int): Seq[DigestTable] =
    Seq(DigestTable(historyDir, if (maxDist == 0) Seq("hash") else Seq("band", "key", "hash")))

  /** What one micro-batch of an ingest-dedup loop admits and records; the
    * loop derives it from the batch, and [[admitAgainstHistory]] runs it.
    *
    *  - `within`: the batch after within-batch dedup. Its columns beyond
    *    the batch's own are internal and never reach the sink.
    *  - `idCol`: the column of `within` that a duplicate is dropped by.
    *  - `keys`: the probe's build side. The probe joins it with the first
    *    digest on the columns both have. With an `__id` column (the
    *    `idCol` value the key belongs to) the probe is an inner join whose
    *    `verify`-ed rows name the duplicates. Without one, the keys are
    *    `idCol` values and the probe is a semi join whose rows are the
    *    duplicates themselves.
    *  - `verify`: matched probe rows, and the other digests, to the rows
    *    that really are duplicates.
    *  - `records`: admitted rows to one delta per digest table, columns in
    *    the table's order (renamed to its column names).
    */
  private final case class Admission(
      within: DataFrame, idCol: String, keys: DataFrame,
      records: DataFrame => Seq[DataFrame],
      verify: (DataFrame, Seq[DataFrame]) => DataFrame = (matched, _) => matched)

  /** The per-micro-batch kernel behind the three ingest-dedup loops: one
    * `foreachBatch` query that, per batch, admits the rows of
    * `admission(batch)` that no digest in `digests` already holds, hands
    * them to `sink`, and records them. foreachBatch runs batches
    * sequentially, so the read-check-append cycle is race-free.
    *
    * JOIN DIRECTION is the steady-state contract (digest ≫ batch after
    * enough drains). A join can only build one side, and `batch ANTI JOIN
    * digest` can build only the right, so at steady state it would hash
    * the whole history per batch. Instead the probe is `digest JOIN keys`:
    * the digest is streamed once, the batch keys are built (broadcast at
    * any batch size that broadcasts), and the probe result is bounded by
    * the batch. The admitted rows are `within LEFT ANTI JOIN probe`.
    * Neither join input is `distinct`ed: a semi join emits each digest row
    * at most once whatever the build side holds, and an anti join drops
    * the same rows whatever its right side's multiplicity. Deduplicating
    * the digest would shuffle the whole history every batch; compaction
    * owns digest hygiene ([[compactHistoryCols]] between drains, so the
    * probe scans a few right-sized files, not one small file per batch).
    * HistoryJoinDirectionSpec pins the executed plans.
    *
    * Each digest is read through its [[DigestReader]] with the schema of
    * the loop's own records, without a schema-inference job; `startSchemas`
    * are checked before the query starts, the rest at the first batch.
    *
    * The admitted rows are materialized once ([[materialize]], an eager
    * `localCheckpoint`), and the sink and every digest delta read them.
    * Adaptive execution sizes the checkpoint's final stage from its data
    * (one partition for a small batch, so one file per output), while a
    * `persist()`ed plan keeps all `spark.sql.shuffle.partitions`
    * partitions and writes that many small files per output. A loop's
    * shared intermediate (the near-dup signature base, the media hashes)
    * is materialized the same way. A checkpoint costs its own jobs once; a
    * cache is filled by the query stages that first read it, and adaptive
    * execution runs a fill job for each cached read it plans before the
    * fill is done (a near-dup batch ran 34 jobs with a cached base, 17
    * with a checkpointed one).
    *
    * RELEASE: each batch runs in one `RunCaches.scoped` scope. Every frame
    * the batch materializes, and every frame the operators it calls cache
    * and `RunCaches.register`, is released when the batch ends, also when
    * it throws, so a drain leaves no cache pins behind.
    *
    * REPLAY SAFETY (exactly-once under crash/restart): every digest is a
    * per-batch-keyed parquet layout (`dir/batch=<id>`), and each batch (a)
    * refuses to run next to an interrupted compaction, (b) DELETES its own
    * deltas, discarding any partial write a crashed prior attempt of the
    * same batchId left behind, (c) recomputes the admitted rows against
    * the committed batches only, and (d) writes its deltas with
    * overwrite. A replayed batch therefore reproduces the same admitted
    * rows and converges the digest to the same state no matter where the
    * previous attempt died. The SINK must uphold its half: it receives
    * `batchId` precisely so it can write idempotently (the standard
    * foreachBatch recipe, [[batchOutputPath]] + overwrite); an append-only
    * sink degrades to at-least-once for a batch that crashed between the
    * sink write and the digest writes. Reading a digest directory yields
    * an extra `batch` partition column, so digest consumers select their
    * columns explicitly (the kernel does).
    */
  private def admitAgainstHistory(
      stream: DataFrame, digests: Seq[DigestTable], checkpoint: String,
      trigger: Trigger, sink: (DataFrame, Long) => Unit,
      startSchemas: Seq[StructType] = Nil)(
      admission: DataFrame => Admission): org.apache.spark.sql.streaming.StreamingQuery = {
    val readers = digests.map(t => new DigestReader(t.dir))
    readers.zip(startSchemas).foreach { case (r, s) => r.check(stream.sparkSession, s) }
    stream.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        digests.foreach(t => requireNoCompactionDebris(spark, t.dir))
        digests.foreach(t => dropBatchDelta(spark, t.dir, batchId))
        RunCaches.scoped {
          val a = admission(batch)
          def deltas(rows: DataFrame): Seq[DataFrame] =
            a.records(rows).zip(digests).map { case (r, t) => r.toDF(t.columns: _*) }
          val history = readers.zip(deltas(a.within)).map { case (r, d) =>
            r.read(spark, StructType(d.schema.map(_.copy(nullable = true))))
          }
          val on = a.keys.columns.filter(history.head.columns.contains).toSeq
          val dups =
            if (a.keys.columns.contains("__id"))
              a.verify(history.head.join(a.keys, on), history.tail).select("__id")
            else history.head.join(a.keys, on, "left_semi").select(col(on.head).as("__id"))
          val fresh = materialize(
            a.within.join(dups, a.within(a.idCol) === dups("__id"), "left_anti"))
          sink(fresh.drop(fresh.columns.filterNot(batch.columns.contains): _*), batchId)
          deltas(fresh).zip(digests).foreach { case (d, t) =>
            d.write.mode("overwrite").parquet(batchOutputPath(t.dir, batchId))
          }
        }
      }
      .start()
  }

  /** `df` computed once, for the rest of the current run scope: an eager
    * `localCheckpoint` registered with `RunCaches`. Its consumers read the
    * stored rows with their statistics, and adaptive execution sized its
    * final stage.
    */
  private def materialize(df: DataFrame): DataFrame = {
    val stored = df.localCheckpoint()
    RunCaches.register(stored)
    stored
  }

  /** The batchId-keyed subdirectory (`dir/batch=<id>`) used for idempotent
    * per-micro-batch writes — both by the ingest-dedup digests and as the
    * documented recipe for their SINKS: writing each batch's output under
    * this path with overwrite mode makes a replayed batch converge instead
    * of duplicating (Hive-style naming, so reading the parent directory
    * discovers the parts and adds a `batch` partition column).
    */
  def batchOutputPath(dir: String, batchId: Long): String =
    s"${dir.stripSuffix("/")}/batch=$batchId"

  /** Remove a batch's digest delta if a crashed prior attempt of the same
    * batchId left one (possibly partial — a torn parquet file there would
    * otherwise poison the digest read).
    */
  private def dropBatchDelta(spark: SparkSession, dir: String, batchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(batchOutputPath(dir, batchId))
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true); ()
  }

  /** Reads one ingest-dedup loop's parquet digest at `dir` with a known
    * schema; one instance per query. A missing directory, or one without
    * data files, is no history yet: an empty frame. The first [[check]]
    * (or [[read]]) that finds data files compares their schema with
    * `expected` and throws an IllegalStateException naming the directory
    * and the column when a column is missing or has another type. Such a
    * digest was recorded under another fingerprint column or hash family;
    * read as-is it would match nothing and re-admit every duplicate. Later
    * reads skip the check: every later delta is written by the same query.
    */
  private final class DigestReader(dir: String) {
    private var checked = false

    def check(spark: SparkSession, expected: StructType): Unit =
      if (!checked) {
        if (frame(spark, expected).inputFiles.nonEmpty) {
          val found = spark.read.parquet(dir).schema
          expected.foreach { f =>
            found.find(_.name == f.name) match {
              case None =>
                throw new IllegalStateException(
                  s"ingest-dedup digest $dir has no column `${f.name}` (it has " +
                    s"${found.fieldNames.mkString(", ")}): it was recorded by a " +
                    "loop with another fingerprint; point this loop at a new digest")
              case Some(g) if !DataType.equalsStructurally(g.dataType, f.dataType,
                  ignoreNullability = true) =>
                throw new IllegalStateException(
                  s"ingest-dedup digest $dir stores column `${f.name}` as " +
                    s"${g.dataType.sql}, this loop computes ${f.dataType.sql}: it " +
                    "was recorded by a loop with another fingerprint or hash " +
                    "family; point this loop at a new digest")
              case _ => ()
            }
          }
        }
        checked = true
      }

    def read(spark: SparkSession, expected: StructType): DataFrame = {
      check(spark, expected)
      frame(spark, expected)
    }

    private def frame(spark: SparkSession, expected: StructType): DataFrame = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
        spark.read.schema(expected).parquet(dir).select(expected.fieldNames.map(col): _*)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), expected)
    }
  }

  /** The NEAR-duplicate twin of [[dedupAndRecordHistory]]: per
    * micro-batch, (1) drop within-batch near-duplicates with the full
    * verified batch semantics ([[minietl.dedup.Dedup.minhashDedup]]:
    * banded MinHash-LSH candidates, exact-Jaccard ≥ `threshold` verify,
    * keep-min-id), then (2) drop every survivor whose band keys collide
    * with the historical BAND DIGEST, hand the remainder to `sink`, and
    * (3) record the admitted documents' bands. One signature base per
    * batch (shingle hashes and the k-lane signature, materialized once)
    * feeds the within-batch pass, the band keys and the payloads.
    *
    * `portable = true` swaps the whole hash family to the replayable
    * variants (md5-60-bit shingle hashes, raw-slice band keys —
    * [[minietl.dedup.Dedup.minhashDedupPortable]] /
    * [[minietl.dedup.Dedup.lshBandKeysPortable]]) so an independent SQL
    * engine replays every drain bit-for-bit
    * ([[minietl.dedup.Dedup.nearDupHistoryOracleSql]]); the xxhash64
    * family stays the production default (same plan shape, cheaper
    * hashing, one folded long per band key instead of k/bands lanes).
    *
    * Cross-history check, three `crossBatch` modes — a digest-size vs
    * drop-precision dial; the layouts are not interchangeable, pick a
    * mode per digest and keep it:
    *  - `"collision"` (default): the digest stores 16 bytes per band per
    *    admitted doc, never text or shingles, and a collision in any band
    *    drops the row: a historical match cannot re-verify similarity.
    *    The standard recall/precision dial of banded LSH: P(collision) ≈
    *    1-(1-j^r)^b for true Jaccard j with r = k/bands rows per band;
    *    size k/bands so that false drops (j ≪ threshold colliding anyway)
    *    are acceptably rare.
    *  - `"estimate"`: the digest also stores each admitted doc's k-lane
    *    MinHash signature (~k×8 bytes per doc, still never text) under
    *    `historyDir/sigs`, band rows under `historyDir/bands`; band
    *    collisions only nominate candidates and the drop requires
    *    minhashEstimate ≥ `threshold` (±O(1/√k)), so dissimilar docs
    *    cannot false-drop on an unlucky bucket — but the estimator can
    *    still mis-rank a pair whose true Jaccard sits within the
    *    estimator error of the threshold.
    *  - `"exact"`: the digest stores each admitted doc's sorted distinct
    *    shingle HASHES (~8 bytes per shingle, still never text) under
    *    `historyDir/shingles`; nominated candidates are re-verified with
    *    exact Jaccard over the hash sets — the identical decision rule
    *    the within-batch pass applies, at the price of the largest
    *    digest of the three.
    * Within-batch semantics stay exact in every mode. Replay safety, join
    * direction and release: see `admitAgainstHistory`.
    */
  def nearDupDedupAndRecordHistory(
      stream: DataFrame, idCol: String, textCol: String,
      historyDir: String, checkpoint: String,
      shingleN: Int = 3, k: Int = 128, bands: Int = 32,
      threshold: Double = 0.8,
      crossBatch: String = "collision",
      portable: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    require(Set("collision", "estimate", "exact")(crossBatch),
      s"crossBatch must be collision, estimate or exact, got '$crossBatch'")
    import minietl.dedup.Dedup
    admitAgainstHistory(stream, nearDupDigests(historyDir, crossBatch), checkpoint,
      trigger, sink) { batch =>
      // seed stays the within-batch pass's own default, so the digest
      // bands are the family that pass used
      val base = materialize(Dedup.minhashBase(
        batch, textCol, idCol, shingleN, k, seed = 42L, portable))
      val dupWithin = Dedup.minhashPairsFromSigBase(
          base, bands, k, threshold, Dedup.DefaultMaxBucket, portable)
        .select(col("id_b").as("__dup"))
      val within = batch.join(dupWithin, batch(idCol) === col("__dup"), "left_anti")
      val bandRows = Dedup.bandRows(base, bands, k, portable)
      def admitted(rows: DataFrame, of: DataFrame) =
        rows.join(of.select(col(idCol).as("id")), Seq("id"), "left_semi")
      val keys = admitted(bandRows, within)
        .select(col("id").as("__id"), col("band"), col("key"))
      if (crossBatch == "collision")
        Admission(within, idCol, keys,
          records = fresh => Seq(admitted(bandRows, fresh).select("band", "key")))
      else {
        // band collisions only NOMINATE candidates; the drop re-checks
        // similarity against the stored payload: the signature ("estimate")
        // or the shingle-hash set ("exact"), both straight off the base
        val payload = base.select(col("id"),
          col(if (crossBatch == "exact") "hsh" else "sig").as("__pay"))
        def similar(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          if (crossBatch == "exact") minietl.functions.vec.jaccardSorted(a, b) >= threshold
          else Dedup.minhashEstimate(a, b) >= threshold
        Admission(within, idCol, keys,
          records = fresh => Seq(admitted(bandRows, fresh).select("band", "key", "id"),
            admitted(payload, fresh)),
          verify = (matched, history) => matched
            .select(col("__id"), col("id").as("__hist_id"))
            .join(payload.toDF("__id", "__pay"), "__id")
            .join(history.head.toDF("__hist_id", "__hist_pay"), "__hist_id")
            .where(similar(col("__pay"), col("__hist_pay"))))
      }
    }
  }

  /** Perceptual-hash INGEST-DEDUP loop over binary media — the media twin
    * of [[dedupAndRecordHistory]] / [[nearDupDedupAndRecordHistory]]: per
    * micro-batch, hash every payload through the REAL decoder (`kind` =
    * "image" → dHash56, "audio" → energy-contour-56), drop rows whose hash
    * duplicates the parquet digest at `historyDir` — equality at `maxDist`
    * 0, banded Hamming at 1..3, VERIFIED against the digest's stored
    * 8-byte hashes, so unlike minhash collision mode a band collision
    * alone can never false-drop — or an earlier row of the same batch
    * (within-batch semantics =
    * [[minietl.multimodal.PerceptualHash.dedupNearFromHashes]]'s exact
    * groups → banded pairs → transitive components, canonical = minimum
    * id). Survivors go to `sink`, then their digest rows are recorded.
    * Undecodable payloads (null hash) are always admitted and never
    * recorded — a dedup stage must not drop what it cannot read.
    *
    * Digest: 4 × 16-byte (band, key, hash) rows per admitted row (near
    * mode) or one 8-byte hash (exact mode) — never payload bytes; the full
    * hash rides along precisely because it IS the similarity object, which
    * buys exact verification at collision-mode digest prices. Replay
    * safety, join direction and release: see `admitAgainstHistory`.
    */
  def mediaHashDedupAndRecordHistory(
      stream: DataFrame, idCol: String, contentCol: String, kind: String,
      maxDist: Int, historyDir: String, checkpoint: String,
      maxBucketSize: Int = minietl.dedup.Dedup.DefaultMaxBucket,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    require(Set("image", "audio")(kind), s"kind must be image or audio, got '$kind'")
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist must be 0 (exact) or 1..3 (4x14-bit banded Hamming), got $maxDist")
    import minietl.multimodal.{PerceptualAudio, PerceptualHash}
    val hash = udf { (content: Array[Byte]) =>
      (if (kind == "image") PerceptualHash.dHash56(content)
       else PerceptualAudio.energyHash56(content)).map(Long.box).orNull
    }
    admitAgainstHistory(stream, mediaDigests(historyDir, maxDist), checkpoint,
      trigger, sink) { batch =>
      // one decode per row for every consumer in the batch
      val withHash = materialize(batch.withColumn("__mh", hash(col(contentCol))))
      def hashed(df: DataFrame) = df.where(col("__mh").isNotNull)
      if (maxDist == 0) {
        // within-batch: one row per hash value, the minimum id
        val keep = hashed(withHash).groupBy("__mh").agg(min(col(idCol)).as(idCol))
          .select(idCol)
          .union(withHash.where(col("__mh").isNull).select(idCol))
        val within = withHash.join(keep, Seq(idCol), "left_semi")
        Admission(within, idCol,
          keys = hashed(within).select(col(idCol).as("__id"), col("__mh").as("hash")),
          records = fresh => Seq(hashed(fresh).select("__mh")))
      } else {
        def bandsOf(df: DataFrame): DataFrame = hashed(df)
          .select(col(idCol).as("__id"), col("__mh"),
            explode(sequence(lit(0), lit(3))).as("band"))
          .withColumn("key", expr("shiftright(__mh, 14 * band) & 16383"))
        val within = PerceptualHash.dedupNearFromHashes(withHash, idCol,
          withHash.select(col(idCol), col("__mh")), "__mh", maxDist, maxBucketSize)
        Admission(within, idCol, keys = bandsOf(within),
          records = fresh => Seq(bandsOf(fresh).select("band", "key", "__mh")),
          verify = (matched, _) => matched.where(expr(s"bit_count(hash ^ __mh) <= $maxDist")))
      }
    }
  }

  /** Maintenance companion of [[dedupAndRecordHistory]]: rewrite the
    * fingerprint digest as one deduplicated, right-sized parquet set.
    * Every drained micro-batch appends a file, so a long-lived loop turns
    * the digest into a small-files storm that each batch's anti-join then
    * pays to list and scan — compaction collapses it to
    * `ceil(n / rowsPerPartition)` files. SINGLE-WRITER contract: run
    * between drains, never concurrently with an active ingest query (the
    * swap is delete-then-rename, and a concurrent append would be lost) —
    * and only after the previous drain TERMINATED GRACEFULLY: compacting
    * while a crashed query still has an unreplayed batch would absorb
    * that batch's delta into the merged set, so the replay would see its
    * own fingerprints as history and hand the sink an empty batch.
    * The compacted set lands under `batch=-1` to keep the digest's
    * batchId-keyed partition layout uniform. Returns the digest's
    * distinct-fingerprint count.
    */
  def compactHistory(spark: SparkSession, historyDir: String, fpCol: String,
                     rowsPerPartition: Long = 4000000L): Long =
    compactHistoryCols(spark, historyDir, Seq(fpCol), rowsPerPartition)

  /** [[compactHistory]] for multi-column digests (e.g. the (band, key)
    * digest of [[nearDupDedupAndRecordHistory]]).
    */
  def compactHistoryCols(spark: SparkSession, historyDir: String, fpCols: Seq[String],
                         rowsPerPartition: Long = 4000000L): Long = {
    require(rowsPerPartition > 0, "rowsPerPartition must be positive")
    require(fpCols.nonEmpty, "need at least one digest column")
    val distinctFps = spark.read.parquet(historyDir)
      .select(fpCols.map(col): _*).distinct()
    val n = distinctFps.count()
    val parts = math.max(1L, (n + rowsPerPartition - 1) / rowsPerPartition).toInt
    val tmp = historyDir.stripSuffix("/") + "__compact_tmp"
    val old = historyDir.stripSuffix("/") + "__compact_old"
    // batch=-1 keeps the layout partition-uniform with the per-batch deltas
    // (mixing bare files and batch= dirs would break partition discovery)
    distinctFps.repartition(parts).write.mode("overwrite")
      .parquet(batchOutputPath(tmp, -1L))
    val conf = spark.sessionState.newHadoopConf()
    val histPath = new org.apache.hadoop.fs.Path(historyDir)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val oldPath = new org.apache.hadoop.fs.Path(old)
    val fs = histPath.getFileSystem(conf)
    // recoverable swap: old digest is moved ASIDE (not deleted) before the
    // compacted set moves in, so no failure leaves the loop digest-less —
    // a missing digest would make the next drain re-admit everything as
    // "first batch" (dedupAndRecordHistory refuses to run while either
    // marker dir exists, so a half-swap is caught, not silently absorbed)
    fs.delete(oldPath, true)
    if (!fs.rename(histPath, oldPath))
      throw new java.io.IOException(
        s"compaction: could not move $historyDir aside to $old; digest untouched")
    if (!fs.rename(tmpPath, histPath)) {
      fs.rename(oldPath, histPath) // roll back
      throw new java.io.IOException(
        s"compaction: could not move $tmp into place; original digest restored")
    }
    fs.delete(oldPath, true)
    n
  }

  /** Throw if a digest path has compaction marker siblings — evidence of
    * an interrupted [[compactHistory]] swap that must be resolved by hand
    * (restore `__compact_old` or promote `__compact_tmp`) before more
    * batches are admitted against a possibly-partial digest.
    */
  private[minietl] def requireNoCompactionDebris(
      spark: SparkSession, historyDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    Seq("__compact_tmp", "__compact_old").foreach { sfx =>
      val p = new org.apache.hadoop.fs.Path(historyDir.stripSuffix("/") + sfx)
      if (p.getFileSystem(conf).exists(p))
        throw new IllegalStateException(
          s"ingest-dedup digest $historyDir has a leftover compaction dir " +
            s"($p) from an interrupted compactHistory swap — resolve it " +
            "before draining, or the loop may dedup against a partial digest")
    }
  }

  /** Stream-stream inner equi-join bounded by an event-time interval: a
    * right row matches a left row with the same keys when its timestamp is
    * within [leftTs - lookback, leftTs + lookahead]. Both sides carry
    * watermarks, so join state for either side is dropped once the
    * watermark passes the interval bound — state size tracks the interval
    * and the delay, not stream history; this is the unbounded analog of the
    * batch `Joins.rangeJoin`/`Joins.asof` family (clickstream enrichment at
    * ingest). Timestamp columns must be named differently on the two sides
    * (Spark's stream-stream join needs the range condition to reference
    * both by name).
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      keys: Seq[String],
      leftTs: String, rightTs: String,
      watermarkDelay: String,
      lookback: String, lookahead: String): DataFrame = {
    require(keys.nonEmpty, "intervalJoin needs at least one key column")
    require(leftTs != rightTs,
      "leftTs and rightTs must be distinct column names (the range " +
        "predicate references both sides)")
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val range =
      r(rightTs) >= l(leftTs) - expr(s"INTERVAL $lookback") &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $lookahead")
    val joined = l.join(r, keyCond && range, "inner")
    // drop the right-side duplicate key columns (equi-join keys are equal)
    keys.foldLeft(joined)((df, k) => df.drop(r(k)))
  }

  /** Reference Scheduler intervals ("30s", "5m", "2h", "1d" —
    * core/scheduler.py:110-149) → a processing-time trigger.
    */
  def intervalTrigger(interval: String): Trigger =
    Trigger.ProcessingTime(minietl.scheduler.IntervalParser.toMillis(interval),
      java.util.concurrent.TimeUnit.MILLISECONDS)

  /** "Catch up on everything then stop" — the analog of one scheduled
    * bounded pipeline run.
    */
  def availableNowTrigger: Trigger = Trigger.AvailableNow()

  /** Per-micro-batch callback sink (the reference's CallbackLoader /
    * per-chunk callback analog). Returns a started query; callers manage
    * lifecycle.
    */
  def foreachBatchSink(
      df: DataFrame,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L, java.util.concurrent.TimeUnit.MILLISECONDS),
      outputMode: OutputMode = OutputMode.Update())(
      f: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(f)
      .start()

  /** File-stream source: the unbounded version of the batch readers — new
    * files appearing under `path` become micro-batches.
    */
  def fileStream(spark: SparkSession, format: String, path: String,
                 schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).format(format).load(path)
}
