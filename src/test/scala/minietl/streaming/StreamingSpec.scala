package minietl.streaming

import java.nio.file.Files
import java.sql.Timestamp

import minietl.SparkTestBase
import minietl.functions.HashFamily
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")

  /** Count data files recursively — the digests lay out per-batch deltas as
    * batch=<id> partition subdirectories.
    */
  private def parquetFilesUnder(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dir))
  }

  test("tumblingAgg: watermarked event-time windows aggregate per key") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = Streaming.tumblingAgg(
      input.toDF().toDF("ts", "k", "v"),
      tsCol = "ts", watermarkDelay = "10 minutes", windowDuration = "5 minutes",
      keys = Seq("k"), aggs = Map("v" -> Seq("sum", "count")))
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((ts(0), "a", 1.0), (ts(1), "a", 2.0), (ts(6), "a", 10.0), (ts(2), "b", 5.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select(col("window.start").cast("string"), col("k"), col("v_sum"), col("v_count"))
        .as[(String, String, Double, Long)].collect().toSet
      assert(rows === Set(
        ("2026-01-01 10:00:00", "a", 3.0, 2L),
        ("2026-01-01 10:05:00", "a", 10.0, 1L),
        ("2026-01-01 10:00:00", "b", 5.0, 1L)))
    } finally q.stop()
  }

  test("runningGroupAgg: mapGroupsWithState maintains per-key state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val running = Streaming.runningGroupAgg(input.toDF().toDF("k", "v"), "k", "v")
    val q = running.toDF().writeStream.format("memory").queryName("running")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(("a", 1.0), ("a", 2.0), ("b", 7.0))
      q.processAllAvailable()
      input.addData(("a", 9.0))
      q.processAllAvailable()
      // last update per key wins
      val last = spark.table("running").groupBy("key")
        .agg(max_by(struct(col("count"), col("sum"), col("min"), col("max")), col("count")).as("s"))
        .select(col("key"), col("s.count"), col("s.sum"), col("s.min"), col("s.max"))
        .as[(String, Long, Double, Double, Double)].collect().toSet
      assert(last === Set(("a", 3L, 12.0, 1.0, 9.0), ("b", 1L, 7.0, 7.0, 7.0)))
    } finally q.stop()
  }

  test("slidingAgg: each row lands in overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = Streaming.slidingAgg(
      input.toDF().toDF("ts", "k", "v"),
      tsCol = "ts", watermarkDelay = "10 minutes",
      windowDuration = "10 minutes", slideDuration = "5 minutes",
      keys = Seq("k"), aggs = Map("v" -> Seq("sum")))
    val q = agg.writeStream.format("memory").queryName("sliding")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((ts(7), "a", 3.0))
      q.processAllAvailable()
      // 10:07 falls in [10:00,10:10) and [10:05,10:15)
      val wins = spark.table("sliding")
        .select(col("window.start").cast("string"), col("v_sum"))
        .as[(String, Double)].collect().toSet
      assert(wins === Set(("2026-01-01 10:00:00", 3.0), ("2026-01-01 10:05:00", 3.0)))
    } finally q.stop()
  }

  test("sessionAgg: gap-merged variable-length sessions per key") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = Streaming.sessionAgg(
      input.toDF().toDF("ts", "k", "v"),
      tsCol = "ts", watermarkDelay = "0 seconds", gap = "5 minutes",
      keys = Seq("k"), aggs = Map("v" -> Seq("count")))
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // 10:00 and 10:03 merge (gap < 5m); 10:20 starts a new session
      input.addData((ts(0), "a", 1.0), (ts(3), "a", 1.0), (ts(20), "a", 1.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions")
        .select(col("session_window.start").cast("string"), col("v_count"))
        .as[(String, Long)].collect().toSet
      assert(sessions === Set(("2026-01-01 10:00:00", 2L), ("2026-01-01 10:20:00", 1L)))
    } finally q.stop()
  }

  test("customSessionize: flatMapGroupsWithState closes sessions on gap, flush and timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double, Boolean)]
    val sessions = Streaming.customSessionize(
      input.toDF().toDF("k", "ts", "v", "fl"),
      keyCol = "k", tsCol = "ts", valueCol = "v",
      gapSeconds = 300, watermarkDelay = "0 seconds", flushCol = Some("fl"))
    val q = sessions.toDF().writeStream.format("memory").queryName("csess")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // key 1: 10:00 + 10:03 merge, 10:20 starts a new session (gap closes
      // the first IN-batch, arrival order deliberately scrambled); a flush
      // sentinel at 11:00 closes the second without opening a third
      input.addData(
        (1L, ts(20), 5.0, false), (1L, ts(0), 1.0, false), (1L, ts(3), 2.0, false),
        (1L, ts(60), 0.0, true))
      q.processAllAvailable()
      val got = spark.table("csess")
        .select(col("k"), col("start_us"), col("end_us"), col("n_events"), col("total"))
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      def us(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
      assert(got === Set(
        (1L, us(ts(0)), us(ts(3)), 2L, 3.0),
        (1L, us(ts(20)), us(ts(20)), 1L, 5.0)))

      // key 2: one event (11:10 — NOT late vs the 11:00 watermark the
      // sentinel advanced), no flush — the EventTimeTimeout path closes it
      // once later batches advance the watermark past last + gap (11:15)
      input.addData((2L, ts(70), 7.0, false))
      q.processAllAvailable()
      input.addData((3L, ts(90), 1.0, false)) // watermark → 11:30 after this batch
      q.processAllAvailable()
      input.addData((3L, ts(120), 0.0, true)) // next batch runs timeouts at wm 11:30
      q.processAllAvailable()
      val key2 = spark.table("csess").filter(col("k") === 2L)
        .select(col("n_events"), col("total")).as[(Long, Double)].collect().toSeq
      assert(key2 === Seq((1L, 7.0)))
    } finally q.stop()
  }

  test("customSessionize drops below-watermark stragglers and widens on out-of-order rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double, Boolean)]
    val sessions = Streaming.customSessionize(
      input.toDF().toDF("k", "ts", "v", "fl"),
      keyCol = "k", tsCol = "ts", valueCol = "v",
      gapSeconds = 300, watermarkDelay = "10 minutes", flushCol = Some("fl"))
    val q = sessions.toDF().writeStream.format("memory").queryName("csess_late")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1 opens the session at 10:40; watermark after it: 10:30
      input.addData((5L, ts(40), 1.0, false))
      q.processAllAvailable()
      // batch 2: 10:25 is BELOW the 10:30 watermark → must be dropped (not
      // silently folded in); 10:38 is above it but out of order vs the open
      // session's last=10:40 → widens start to 10:38 WITHOUT rewinding last;
      // the 11:00 flush then closes the session (gap elapsed)
      input.addData((5L, ts(25), 99.0, false), (5L, ts(38), 2.0, false),
        (5L, ts(60), 0.0, true))
      q.processAllAvailable()
      val got = spark.table("csess_late")
        .select(col("k"), col("start_us"), col("end_us"), col("n_events"), col("total"))
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      def us(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
      assert(got === Set((5L, us(ts(38)), us(ts(40)), 2L, 3.0)))
    } finally q.stop()
  }

  test("dedupWithinWatermark collapses duplicate keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val deduped = Streaming.dedupWithinWatermark(
      input.toDF().toDF("ts", "k", "v"),
      tsCol = "ts", watermarkDelay = "10 minutes", keys = Seq("k"))
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((ts(0), "a", 1.0), (ts(1), "a", 2.0), (ts(2), "b", 3.0))
      q.processAllAvailable()
      input.addData((ts(3), "a", 4.0), (ts(4), "c", 5.0)) // a is still in state
      q.processAllAvailable()
      val keys = spark.table("dedup").select("k").as[String].collect().toSeq.sorted
      assert(keys === Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("dedupAgainstHistory drops rows whose fingerprint exists in the static set") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val history = Seq("seen-1", "seen-2").toDF("fp")
    val fresh = Streaming.dedupAgainstHistory(
      input.toDF().toDF("id", "fp"), history, "fp")
    val q = fresh.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((1L, "seen-1"), (2L, "new-a"), (3L, "seen-2"), (4L, "new-b"))
      q.processAllAvailable()
      val ids = spark.table("sdedup").select("id").as[Long].collect().sorted.toSeq
      assert(ids === Seq(2L, 4L))
    } finally q.stop()
  }

  test("dedupAndRecordHistory admits first sights only and grows its own digest") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("minietl-dedup-hist")
    val hist = s"$dir/digest"
    val chk = s"$dir/chk"
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val input = MemoryStream[(Long, String)]
    val q = Streaming.dedupAndRecordHistory(
      input.toDF().toDF("id", "fp"), "fp", hist, chk,
      trigger = Trigger.ProcessingTime(0)) { (batch, _) =>
      admitted ++= batch.select("id", "fp").as[(Long, String)].collect(); ()
    }
    try {
      // batch 1: b duplicated WITHIN the batch → one survivor
      input.addData((1L, "a"), (2L, "b"), (3L, "b"))
      q.processAllAvailable()
      assert(admitted.map(_._2).sorted === Seq("a", "b"))
      // batch 2: a and b are history; only c is new
      input.addData((4L, "a"), (5L, "c"), (6L, "b"))
      q.processAllAvailable()
      assert(admitted.map(_._2).sorted === Seq("a", "b", "c"))
      // the digest holds exactly the admitted fingerprints (reading the
      // batchId-keyed layout adds a `batch` partition column)
      assert(spark.read.parquet(hist).select("fp").as[String].collect().sorted.toSeq
        === Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("dedupAndRecordHistory replays a crashed batch exactly once") {
    val dir = Files.createTempDirectory("minietl-dedup-replay")
    val in = s"$dir/in"
    val hist = s"$dir/digest"
    val out = s"$dir/out"
    val chk = s"$dir/chk"
    Files.createDirectories(java.nio.file.Paths.get(in))
    def drain(failOn: Set[String]): Unit = {
      val q = Streaming.dedupAndRecordHistory(
        spark.readStream.schema("id LONG, fp STRING").parquet(in),
        "fp", hist, chk) { (batch, bid) =>
        // the documented idempotent-sink recipe: batchId-keyed overwrite
        batch.write.mode("overwrite")
          .parquet(Streaming.batchOutputPath(out, bid))
        // simulate a crash AFTER the sink write committed but BEFORE the
        // digest append — the advisor's duplication window
        val fps = batch.select("fp").as[String].collect().toSet
        if (failOn.exists(fps)) sys.error("injected crash after sink write")
      }
      try q.processAllAvailable()
      catch { case _: Exception => () } // the injected failure surfaces here
      finally q.stop()
    }
    Seq((1L, "a"), (2L, "b")).toDF("id", "fp")
      .coalesce(1).write.mode("append").parquet(in)
    drain(failOn = Set.empty) // batch 0 commits cleanly
    Seq((3L, "a"), (4L, "c")).toDF("id", "fp")
      .coalesce(1).write.mode("append").parquet(in)
    drain(failOn = Set("c")) // batch 1: sink write lands, then "crash"
    // plant a torn delta from the crashed attempt too: replay must discard
    // it rather than dedup against its own partial fingerprints
    Seq("c").toDF("fp").coalesce(1).write.mode("overwrite")
      .parquet(Streaming.batchOutputPath(hist, 1L))
    drain(failOn = Set.empty) // restart: batch 1 replays under the same id
    // exactly-once: "c" appears once in the sink, digest = admitted set
    val sunk = spark.read.parquet(out).select("fp").as[String].collect().sorted.toSeq
    assert(sunk === Seq("a", "b", "c"))
    assert(spark.read.parquet(hist).select("fp").as[String].collect().sorted.toSeq
      === Seq("a", "b", "c"))
  }

  test("dedupAndRecordHistory runs a small micro-batch in at most 6 jobs " +
    "and writes one file per output") {
    val dir = Files.createTempDirectory("minietl-dedup-jobs")
    val in = s"$dir/in"
    val hist = s"$dir/digest"
    val out = s"$dir/sink"
    // a parquet source, as the YAML ingest loop reads: a file source's size
    // statistics let the planner broadcast the batch side up front
    def stage(name: String, rows: Seq[(Long, String)]): java.io.File = {
      rows.toDF("id", "fp").coalesce(1).write.parquet(s"$dir/$name")
      new java.io.File(s"$dir/$name").listFiles().filter(_.getName.endsWith(".parquet")).head
    }
    def land(file: java.io.File, name: String): Unit = {
      Files.move(file.toPath, java.nio.file.Paths.get(in, s"$name.parquet")); ()
    }
    Files.createDirectories(java.nio.file.Paths.get(in))
    // batch 0 starts the digest; batch 1 is the steady state: 150 rows
    // with within-batch and cross-batch duplicates
    land(stage("first", Seq((1L, "fp1"), (2L, "fp2"))), "first")
    val steady = stage("steady", (1 to 150).map(i => (100L + i, s"fp${i % 120}")))
    val q = Streaming.dedupAndRecordHistory(
      spark.readStream.schema("id LONG, fp STRING").parquet(in), "fp", hist,
      s"$dir/chk", trigger = Trigger.ProcessingTime(0)) { (batch, bid) =>
      batch.write.mode("overwrite").parquet(Streaming.batchOutputPath(out, bid))
    }
    try {
      q.processAllAvailable()
      // landing a file is a rename, so every job counted is the batch's
      val (_, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext) {
        land(steady, "steady")
        q.processAllAvailable()
      }
      assert(jobs <= 6, s"one micro-batch ran $jobs jobs")
      assert(parquetFilesUnder(Streaming.batchOutputPath(out, 1L)) === 1)
      assert(parquetFilesUnder(Streaming.batchOutputPath(hist, 1L)) === 1)
      // fp0..fp119 are new except fp1 and fp2, which batch 0 admitted
      assert(spark.read.parquet(Streaming.batchOutputPath(out, 1L)).count() === 118L)
    } finally q.stop()
  }

  test("dedupAndRecordHistory admits one row per fingerprint across null, " +
    "within-batch and cross-batch duplicates") {
    val dir = Files.createTempDirectory("minietl-dedup-mixed")
    val in = s"$dir/in"
    val hist = s"$dir/digest"
    val out = s"$dir/sink"
    def drain(rows: Seq[(Long, String)]): Unit = {
      // one file per drain: a single-partition micro-batch, so the row kept
      // for a duplicated fingerprint is the first in the file
      rows.toDF("id", "fp").coalesce(1).write.mode("append").parquet(in)
      val q = Streaming.dedupAndRecordHistory(
        spark.readStream.schema("id LONG, fp STRING").parquet(in),
        "fp", hist, s"$dir/chk") { (batch, bid) =>
        batch.write.mode("overwrite").parquet(Streaming.batchOutputPath(out, bid))
      }
      try q.processAllAvailable() finally q.stop()
    }
    drain(Seq((1L, "a"), (2L, null), (3L, "b"), (4L, "b"), (5L, null), (6L, "c")))
    drain(Seq((7L, "a"), (8L, null), (9L, "d"), (10L, "d"), (11L, "c"),
      (12L, null), (13L, "e")))
    // pinned from the loop's earlier inner-join plan: null fingerprints
    // never match history, and each batch admits and records one of them
    val sunk = spark.read.parquet(out).select("batch", "id", "fp")
      .as[(Int, Long, Option[String])].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(sunk === Seq((0, 1L, Some("a")), (0, 2L, None), (0, 3L, Some("b")),
      (0, 6L, Some("c")), (1, 8L, None), (1, 9L, Some("d")), (1, 13L, Some("e"))))
    val digest = spark.read.parquet(hist).select("batch", "fp")
      .as[(Int, Option[String])].collect().sorted.toSeq
    assert(digest === Seq((0, None), (0, Some("a")), (0, Some("b")), (0, Some("c")),
      (1, None), (1, Some("d")), (1, Some("e"))))
  }

  test("dedupAndRecordHistory refuses a digest without its fingerprint " +
    "column at query start") {
    val dir = Files.createTempDirectory("minietl-dedup-wrongdigest")
    val in = s"$dir/in"
    val out = s"$dir/sink"
    Seq((1L, "a")).toDF("id", "fp").coalesce(1).write.parquet(in)
    def start(hist: String) =
      Streaming.dedupAndRecordHistory(
        spark.readStream.schema("id LONG, fp STRING").parquet(in),
        "fp", hist, s"$dir/chk") { (batch, bid) =>
        batch.write.mode("overwrite").parquet(Streaming.batchOutputPath(out, bid))
      }
    // a digest recorded under another fingerprint column (a `columns:` loop
    // writes `__fp`), and one whose column has the wrong type
    val renamed = s"$dir/digest_renamed"
    Seq("x").toDF("__fp").write.parquet(Streaming.batchOutputPath(renamed, 99L))
    val retyped = s"$dir/digest_retyped"
    Seq(1L).toDF("fp").write.parquet(Streaming.batchOutputPath(retyped, 99L))
    Seq(renamed, retyped).foreach { hist =>
      val e = intercept[IllegalStateException](start(hist))
      assert(e.getMessage.contains(hist) && e.getMessage.contains("`fp`"),
        e.getMessage)
    }
    assert(!new java.io.File(out).exists(), "the sink was written")
  }

  test("dedupAndRecordHistory treats an existing empty digest directory as " +
    "the first batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("minietl-dedup-emptydigest")
    val hist = s"$dir/digest"
    Files.createDirectories(java.nio.file.Paths.get(hist))
    val admitted = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[(Long, String)]
    val q = Streaming.dedupAndRecordHistory(
      input.toDF().toDF("id", "fp"), "fp", hist, s"$dir/chk",
      trigger = Trigger.ProcessingTime(0)) { (batch, _) =>
      admitted ++= batch.select("fp").as[String].collect(); ()
    }
    try {
      input.addData((1L, "a"), (2L, "b"), (3L, "a"))
      q.processAllAvailable()
      assert(admitted.sorted.toSeq === Seq("a", "b"))
      assert(spark.read.parquet(hist).select("fp").as[String].collect().sorted.toSeq
        === Seq("a", "b"))
    } finally q.stop()
  }

  test("nearDupDedupAndRecordHistory refuses a band digest of another hash " +
    "family") {
    val dir = Files.createTempDirectory("minietl-neardup-family")
    val in = s"$dir/in"
    val hist = s"$dir/bands"
    val out = s"$dir/sink"
    def drain(rows: Seq[(Long, String)], family: HashFamily): Unit = {
      rows.toDF("id", "text").coalesce(1).write.mode("append").parquet(in)
      val q = Streaming.nearDupDedupAndRecordHistory(
        spark.readStream.schema("id LONG, text STRING").parquet(in),
        "id", "text", hist, s"$dir/chk", family = family) { (batch, bid) =>
        batch.write.mode("overwrite").parquet(Streaming.batchOutputPath(out, bid))
      }
      try q.processAllAvailable() finally q.stop()
    }
    // the portable family keys each band by its raw lanes (an array), the
    // production family by one folded long: the digest cannot be reused
    drain(Seq((1L, "alpha beta gamma delta epsilon")), HashFamily.Portable)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drain(Seq((2L, "zeta eta theta iota kappa")), HashFamily.Production))
    val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case ise: IllegalStateException => ise }
    assert(cause.exists(c => c.getMessage.contains(hist) && c.getMessage.contains("`key`")),
      s"expected the named digest error, got $e")
    assert(!new java.io.File(Streaming.batchOutputPath(out, 1L)).exists(),
      "the sink was written")
  }

  test("nearDupDedupAndRecordHistory drops near-dups within and across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("minietl-neardup-hist")
    val hist = s"$dir/bands"
    val chk = s"$dir/chk"
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val a = words("alpha", 20)
    val aNear = words("alpha", 19) + " changed" // jaccard 15/21 ≈ 0.71 ≥ 0.6
    val c = words("gamma", 20)
    val cNear = words("gamma", 19) + " mutated"
    val e = words("epsilon", 20)
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupDedupAndRecordHistory(
      input.toDF().toDF("id", "text"), "id", "text", hist, chk,
      threshold = 0.6, trigger = Trigger.ProcessingTime(0)) { (batch, _) =>
      admitted ++= batch.select("id").as[Long].collect(); ()
    }
    try {
      // batch 1: aNear is a verified within-batch near-dup of a (keep min
      // id); c is distinct
      input.addData((1L, a), (2L, aNear), (3L, c))
      q.processAllAvailable()
      assert(admitted.sorted.toSeq === Seq(1L, 3L))
      // batch 2: an exact copy of a collides with the digest in EVERY
      // band; cNear collides in ≥1 band (P ≈ 1 - (1-0.71^4)^32 ≈ 0.9999,
      // deterministic under the fixed hash seeds); e is fresh
      input.addData((4L, a), (5L, cNear), (6L, e))
      q.processAllAvailable()
      assert(admitted.sorted.toSeq === Seq(1L, 3L, 6L))
      // digest holds bands only for admitted docs: 32 bands × 3 docs
      assert(spark.read.parquet(hist).count() === 96L)
      // multi-column compaction collapses the per-batch deltas into the
      // single batch=-1 partition
      val n = Streaming.compactHistoryCols(spark, hist, Seq("band", "key"))
      assert(n === 96L) // (band, key) rows are already distinct across docs
      assert(parquetFilesUnder(hist) === 1)
      assert(new java.io.File(s"$hist/batch=-1").isDirectory)
    } finally q.stop()
  }

  test("nearDupDedupAndRecordHistory verified mode estimate-checks cross-batch drops") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("minietl-neardup-verified")
    val hist = s"$dir/digest"
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val a = words("alpha", 20)
    val c = words("gamma", 20)
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupDedupAndRecordHistory(
      input.toDF().toDF("id", "text"), "id", "text", hist, s"$dir/chk",
      threshold = 0.6, crossBatch = "estimate",
      trigger = Trigger.ProcessingTime(0)) { (batch, _) =>
      // the internal signature column must not reach the sink
      assert(!batch.columns.contains("__sig"))
      admitted ++= batch.select("id").as[Long].collect(); ()
    }
    try {
      input.addData((1L, a), (2L, c))
      q.processAllAvailable()
      assert(admitted.sorted.toSeq === Seq(1L, 2L))
      // batch 2: a TRUE near-dup of a (est ≈ 0.71 ≥ 0.6) is dropped by the
      // verified path; a fresh doc passes
      input.addData((3L, words("alpha", 19) + " changed"), (4L, words("delta", 20)))
      q.processAllAvailable()
      assert(admitted.sorted.toSeq === Seq(1L, 2L, 4L))
      // digest layout: bands carry ids, sigs one row per admitted doc
      // (plus the batchId partition column of the idempotent delta layout)
      assert(spark.read.parquet(s"$hist/bands").columns.sorted.toSeq
        === Seq("band", "batch", "id", "key"))
      assert(spark.read.parquet(s"$hist/sigs").count() === 3L)
      // both sub-digests compact independently
      assert(Streaming.compactHistoryCols(spark, s"$hist/bands",
        Seq("band", "key", "id")) === 96L)
      assert(Streaming.compactHistoryCols(spark, s"$hist/sigs",
        Seq("id", "sig")) === 3L)
    } finally q.stop()
  }

  test("exact cross-batch mode re-verifies with true Jaccard where the estimator overshoots") {
    implicit val sqlCtx = spark.sqlContext
    import minietl.dedup.Dedup
    val dir = Files.createTempDirectory("minietl-neardup-exact")
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val base = words("omega", 16)
    val (k, bands) = (16, 8) // few lanes → coarse estimator (±1/16 steps)
    // the loop's own signature family (r18: one native shingle-hash base
    // feeds within-batch dedup AND the digest payloads)
    def sigOf(c: org.apache.spark.sql.Column) =
      Dedup.minhashFromHashes(Dedup.shingleHashesSorted(c, 3), k)
    // deterministic search (fixed hash seeds): a candidate that (a) shares
    // ≥1 band with base, so both verified modes NOMINATE it, and (b) whose
    // k-lane estimate OVERSHOOTS its true Jaccard by ≥ 0.1 — the window
    // where the modes must disagree
    val m = (1 to 80).map(i => words("omega", 12) + " " + words(s"z$i", 4))
      .toDF("t")
      .withColumn("est", Dedup.minhashEstimate(sigOf(col("t")), sigOf(lit(base))))
      .withColumn("jac", minietl.functions.vec.jaccardSorted(
        Dedup.shingleHashesSorted(col("t"), 3), Dedup.shingleHashesSorted(lit(base), 3)))
      .withColumn("shared", size(array_intersect(
        HashFamily.Production.bandKeys(sigOf(col("t")), bands, k),
        HashFamily.Production.bandKeys(sigOf(lit(base)), bands, k))))
      .select("t", "est", "jac", "shared").as[(String, Double, Double, Int)].collect()
    val found = m.find { case (_, est, jac, shared) => shared >= 1 && est >= jac + 0.1 }
    assert(found.isDefined,
      s"no estimator-overshoot candidate found; max est-jac gap was " +
        s"${m.map(x => x._2 - x._3).max} — widen the search")
    val (variant, est, jac, _) = found.get
    val thr = math.round((est + jac) / 2 * 1000) / 1000.0 // between jac and est
    def run(mode: String, sub: String): Seq[Long] = {
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
      val input = MemoryStream[(Long, String)]
      val q = Streaming.nearDupDedupAndRecordHistory(
        input.toDF().toDF("id", "text"), "id", "text", s"$dir/$sub", s"$dir/chk_$sub",
        k = k, bands = bands, threshold = thr, crossBatch = mode,
        trigger = Trigger.ProcessingTime(0)) { (batch, _) =>
        admitted ++= batch.select("id").as[Long].collect(); ()
      }
      try {
        input.addData((1L, base)); q.processAllAvailable()
        input.addData((2L, variant)); q.processAllAvailable()
      } finally q.stop()
      admitted.sorted.toSeq
    }
    // the estimator reads ≥ thr → estimate mode false-drops the variant…
    assert(run("estimate", "est") === Seq(1L))
    // …while exact re-verification (true Jaccard < thr) admits it
    assert(run("exact", "ex") === Seq(1L, 2L))
    // exact digest layout: shingle HASHES per admitted doc — never text
    assert(spark.read.parquet(s"$dir/ex/shingles").columns.sorted.toSeq
      === Seq("batch", "id", "sh"))
    assert(spark.read.parquet(s"$dir/ex/shingles").count() === 2L)
  }

  test("mediaHashDedupAndRecordHistory: perceptual audio near-dups drop " +
    "within and across batches, undecodable rows always pass (VERDICT r15 " +
    "Next #6)") {
    implicit val sqlCtx = spark.sqlContext
    // contour-controlled WAVs (the PerceptualAudioSpec construction): the
    // energy-contour hash of bitWav(bits) is exactly the requested bit set
    def bitWav(bits: Set[Int]): Array[Byte] = {
      val samples = new Array[Short](minietl.multimodal.PerceptualAudio.Windows * 4)
      var amp = 100
      (0 until minietl.multimodal.PerceptualAudio.Windows).foreach { w =>
        if (w > 0 && bits(w - 1)) amp += 10
        (0 until 4).foreach(k => samples(w * 4 + k) = amp.toShort)
      }
      minietl.multimodal.Multimodal.pcm16Wav(samples, 8000)
    }
    val dir = Files.createTempDirectory("minietl-media-hist")
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, Array[Byte])]
    val q = Streaming.mediaHashDedupAndRecordHistory(
      input.toDF().toDF("media_id", "content"), "media_id", "content",
      kind = "audio", maxDist = 2, s"$dir/digest", s"$dir/chk",
      trigger = Trigger.ProcessingTime(0)) { (batch, _) =>
      admitted ++= batch.select("media_id").as[Long].collect(); ()
    }
    try {
      // batch 1: 2 is an exact dup of 1 (within-batch, canonical = min id),
      // 3 is far from everything, 4 is undecodable
      input.addData((1L, bitWav(Set())), (2L, bitWav(Set())),
        (3L, bitWav(Set(10, 20, 30, 40, 50))), (4L, Array[Byte](9, 9)))
      q.processAllAvailable()
      assert(admitted.sorted.toSeq === Seq(1L, 3L, 4L))
      // batch 2 vs history: 5 = byte-identical to 1 (dist 0), 6 = dist 2
      // from 1 (<= maxDist) -> both drop VERIFIED against the stored hash
      // (and NOT via a within-batch chain: 7 is >= 3 bits from both);
      // 7 = dist 3 from everything -> admitted; 8 undecodable ->
      // admitted; 9 = within-batch exact dup of 7 -> dropped
      input.addData((5L, bitWav(Set())), (6L, bitWav(Set(0, 1))),
        (7L, bitWav(Set(40, 41, 42))), (8L, Array[Byte](7)),
        (9L, bitWav(Set(40, 41, 42))))
      q.processAllAvailable()
      assert(admitted.sorted.toSeq === Seq(1L, 3L, 4L, 7L, 8L))
      // digest: 4 (band, key, hash) rows per admitted DECODABLE row, and
      // never a payload byte
      val digest = spark.read.parquet(s"$dir/digest")
      assert(digest.columns.toSet === Set("band", "key", "hash", "batch"))
      assert(digest.count() === 4L * 3) // ids 1, 3, 7
    } finally q.stop()
  }

  test("mediaHashDedupAndRecordHistory exact mode (maxDist 0): only " +
    "hash-equal rows drop — near misses are admitted") {
    implicit val sqlCtx = spark.sqlContext
    def wav(bits: Set[Int]): Array[Byte] = {
      val samples = new Array[Short](minietl.multimodal.PerceptualAudio.Windows * 4)
      var amp = 100
      (0 until minietl.multimodal.PerceptualAudio.Windows).foreach { w =>
        if (w > 0 && bits(w - 1)) amp += 10
        (0 until 4).foreach(k => samples(w * 4 + k) = amp.toShort)
      }
      minietl.multimodal.Multimodal.pcm16Wav(samples, 8000)
    }
    val dir = Files.createTempDirectory("minietl-media-hist-exact")
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, Array[Byte])]
    val q = Streaming.mediaHashDedupAndRecordHistory(
      input.toDF().toDF("media_id", "content"), "media_id", "content",
      kind = "audio", maxDist = 0, s"$dir/digest", s"$dir/chk",
      trigger = Trigger.ProcessingTime(0)) { (batch, _) =>
      admitted ++= batch.select("media_id").as[Long].collect(); ()
    }
    try {
      input.addData((1L, wav(Set())))
      q.processAllAvailable()
      input.addData((2L, wav(Set())), (3L, wav(Set(0)))) // exact dup + dist 1
      q.processAllAvailable()
      assert(admitted.sorted.toSeq === Seq(1L, 3L),
        "exact mode must drop only the hash-equal row")
      assert(spark.read.parquet(s"$dir/digest").columns.toSet
        === Set("hash", "batch"))
    } finally q.stop()
  }

  /** Contour-controlled WAV whose energy-contour hash is exactly `bits`. */
  private def bitWav(bits: Set[Int]): Array[Byte] = {
    val samples = new Array[Short](minietl.multimodal.PerceptualAudio.Windows * 4)
    var amp = 100
    (0 until minietl.multimodal.PerceptualAudio.Windows).foreach { w =>
      if (w > 0 && bits(w - 1)) amp += 10
      (0 until 4).foreach(k => samples(w * 4 + k) = amp.toShort)
    }
    minietl.multimodal.Multimodal.pcm16Wav(samples, 8000)
  }

  /** One ingest-dedup loop variant over a parquet file source. `rows` turns
    * (id, code) pairs into source rows, where rows with equal codes are
    * duplicates and rows with different codes are far apart.
    */
  private final class IngestLoop(
      val name: String, val rows: Seq[(Long, Int)] => org.apache.spark.sql.DataFrame,
      val start: (String, String, String, Trigger) =>
        ((org.apache.spark.sql.DataFrame, Long) => Unit) =>
          org.apache.spark.sql.streaming.StreamingQuery)

  /** Every loop and mode: exact; near-dup in collision, estimate and exact
    * modes; media at maxDist 0 and 2.
    */
  private lazy val ingestLoops: Seq[IngestLoop] = {
    def source(schema: String, in: String) = spark.readStream.schema(schema).parquet(in)
    val exact = new IngestLoop("exact",
      rows => rows.map { case (id, c) => (id, s"fp$c") }.toDF("id", "fp"),
      (in, hist, chk, trigger) => sink => Streaming.dedupAndRecordHistory(
        source("id LONG, fp STRING", in), "fp", hist, chk, trigger)(sink))
    val nearDup = Seq("collision", "estimate", "exact").map { mode =>
      new IngestLoop(s"near-dup $mode",
        rows => rows.map { case (id, c) =>
          (id, (1 to 20).map(w => s"doc${c}w$w").mkString(" "))
        }.toDF("id", "text"),
        (in, hist, chk, trigger) => sink => Streaming.nearDupDedupAndRecordHistory(
          source("id LONG, text STRING", in), "id", "text", hist, chk,
          threshold = 0.6, crossBatch = mode, trigger = trigger)(sink))
    }
    // code bit j sets hash bits 8j..8j+2: distinct codes are >= 3 bits apart
    def hashBits(c: Int) = (0 until 7).filter(j => (c >> j & 1) == 1)
      .flatMap(j => Seq(8 * j, 8 * j + 1, 8 * j + 2)).toSet
    val media = Seq(0, 2).map { maxDist =>
      new IngestLoop(s"media maxDist $maxDist",
        rows => rows.map { case (id, c) => (id, bitWav(hashBits(c))) }.toDF("id", "content"),
        (in, hist, chk, trigger) => sink => Streaming.mediaHashDedupAndRecordHistory(
          source("id LONG, content BINARY", in), "id", "content", "audio", maxDist,
          hist, chk, trigger = trigger)(sink))
    }
    exact +: (nearDup ++ media)
  }

  /** The documented idempotent sink: each batch overwrites `dir/batch=<id>`. */
  private def batchSink(dir: String)(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit =
    batch.write.mode("overwrite").parquet(Streaming.batchOutputPath(dir, bid))

  /** Every `batch=<id>` delta directory under a digest root. */
  private def deltaDirs(root: String, batchId: Long): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.isDirectory) Nil
      else if (f.getName == s"batch=$batchId") Seq(f)
      else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new java.io.File(root))
  }

  test("every ingest-dedup loop leaves no cache pins after a two-batch drain") {
    def pins = (spark.sharedState.cacheManager.isEmpty,
      spark.sparkContext.getPersistentRDDs.keySet.toSet)
    ingestLoops.foreach { loop =>
      val dir = Files.createTempDirectory("minietl-ingest-pins")
      val in = s"$dir/in"
      Files.createDirectories(java.nio.file.Paths.get(in))
      val before = pins
      val q = loop.start(in, s"$dir/digest", s"$dir/chk", Trigger.ProcessingTime(0))(
        batchSink(s"$dir/sink"))
      try {
        // the second batch meets history and within-batch duplicates
        Seq(Seq((1L, 1), (2L, 2), (3L, 3)), Seq((4L, 1), (5L, 4), (6L, 4), (7L, 5)))
          .foreach { rows =>
            loop.rows(rows).coalesce(1).write.mode("append").parquet(in)
            q.processAllAvailable()
          }
      } finally q.stop()
      assert(spark.read.parquet(s"$dir/sink").count() === 5L, loop.name)
      assert(pins === before, s"${loop.name} left cache pins behind")
    }
  }

  /** Jobs one steady-state 150-row micro-batch of `loop` runs in a fresh
    * directory, after a two-row first batch; checks its sink and digest
    * files (at most `maxDigestFiles` per delta) and its admitted rows.
    */
  private def steadyBatchJobs(loop: IngestLoop, maxDigestFiles: Int): Int = {
    val dir = Files.createTempDirectory("minietl-ingest-jobs")
    val in = s"$dir/in"
    val hist = s"$dir/digest"
    val out = s"$dir/sink"
    // a file lands by rename, so every job counted is the batch's own
    def stage(name: String, rows: Seq[(Long, Int)]): java.io.File = {
      loop.rows(rows).coalesce(1).write.parquet(s"$dir/$name")
      new java.io.File(s"$dir/$name").listFiles().filter(_.getName.endsWith(".parquet")).head
    }
    def land(file: java.io.File, name: String): Unit = {
      Files.move(file.toPath, java.nio.file.Paths.get(in, s"$name.parquet")); ()
    }
    Files.createDirectories(java.nio.file.Paths.get(in))
    land(stage("first", Seq((1L, 1), (2L, 2))), "first")
    val steady = stage("steady", (1 to 150).map(i => (100L + i, i % 120)))
    val q = loop.start(in, hist, s"$dir/chk", Trigger.ProcessingTime(0))(batchSink(out))
    try {
      q.processAllAvailable()
      val (_, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext) {
        land(steady, "steady")
        q.processAllAvailable()
      }
      info(s"${loop.name}: $jobs jobs, digest files " +
        deltaDirs(hist, 1L).map(d => parquetFilesUnder(d.getPath)).mkString(","))
      assert(parquetFilesUnder(Streaming.batchOutputPath(out, 1L)) === 1, loop.name)
      val deltas = deltaDirs(hist, 1L)
      assert(deltas.nonEmpty, loop.name)
      deltas.foreach { d =>
        assert(parquetFilesUnder(d.getPath) <= maxDigestFiles, s"${loop.name}: $d")
      }
      // codes 0..119 are new except 1 and 2, which the first batch admitted
      assert(spark.read.parquet(Streaming.batchOutputPath(out, 1L)).count() === 118L,
        loop.name)
      jobs
    } finally q.stop()
  }

  test("every ingest-dedup loop runs a 150-row micro-batch in its pinned " +
    "jobs and writes one sink file") {
    // the most steady-state jobs per batch, and the most files one digest
    // delta may have. The near-dup deltas are cut from the signature base,
    // which keeps the batch's own partitions. Every intermediate a loop
    // re-reads is a checkpoint, which runs its own jobs once, so two
    // identical runs of a loop run the same jobs.
    val pinned = Map("exact" -> (6, 1), "near-dup collision" -> (16, 1),
      "near-dup estimate" -> (21, 1), "near-dup exact" -> (20, 1),
      "media maxDist 0" -> (8, 1), "media maxDist 2" -> (16, 1))
    ingestLoops.foreach { loop =>
      val (maxJobs, maxDigestFiles) = pinned(loop.name)
      val jobs = Seq.fill(2)(steadyBatchJobs(loop, maxDigestFiles))
      assert(jobs.distinct.size === 1, s"${loop.name}: two identical runs ran $jobs jobs")
      assert(jobs.head <= maxJobs, s"${loop.name}: one micro-batch ran ${jobs.head} jobs")
    }
  }

  test("nearDupDedupAndRecordHistory replays a crashed batch exactly once " +
    "in every crossBatch mode") {
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val first = Seq((1L, words("alpha", 20)), (2L, words("gamma", 20)))
    // 3 is a near-dup of 1 (history), 5 of 4 (within the batch)
    val second = Seq((3L, words("alpha", 19) + " changed"), (4L, words("delta", 20)),
      (5L, words("delta", 19) + " mutated"), (6L, words("omega", 20)))
    Seq("collision", "estimate", "exact").foreach { mode =>
      def drain(dir: String, failOn: Set[Long]): Unit = {
        val q = Streaming.nearDupDedupAndRecordHistory(
          spark.readStream.schema("id LONG, text STRING").parquet(s"$dir/in"),
          "id", "text", s"$dir/digest", s"$dir/chk", threshold = 0.6,
          crossBatch = mode) { (batch, bid) =>
          batchSink(s"$dir/sink")(batch, bid)
          // a crash AFTER the sink write, before the digest writes
          if (batch.select("id").as[Long].collect().exists(failOn))
            sys.error("injected crash after sink write")
        }
        try q.processAllAvailable()
        catch { case _: Exception => () } // the injected failure surfaces here
        finally q.stop()
      }
      def land(dir: String, rows: Seq[(Long, String)]): Unit =
        rows.toDF("id", "text").coalesce(1).write.mode("append").parquet(s"$dir/in")
      val clean = Files.createTempDirectory(s"minietl-neardup-clean-$mode").toString
      land(clean, first); drain(clean, Set.empty)
      land(clean, second); drain(clean, Set.empty)
      val crashed = Files.createTempDirectory(s"minietl-neardup-replay-$mode").toString
      land(crashed, first); drain(crashed, Set.empty)
      land(crashed, second); drain(crashed, Set(6L))
      // the crashed attempt also left a torn delta: the clean run's own
      // batch-1 rows, which would make every admitted doc its own duplicate
      deltaDirs(s"$clean/digest", 1L).foreach { d =>
        val torn = new java.io.File(d.getPath.replace(clean, crashed))
        org.apache.commons.io.FileUtils.copyDirectory(d, torn)
      }
      drain(crashed, Set.empty) // restart: batch 1 replays under the same id
      def rows(dir: String) = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
      assert(rows(s"$crashed/sink") === rows(s"$clean/sink"), mode)
      Streaming.nearDupDigests("digest", mode).foreach { t =>
        assert(rows(s"$crashed/${t.dir}") === rows(s"$clean/${t.dir}"), s"$mode ${t.dir}")
      }
      assert(spark.read.parquet(s"$clean/sink").select("id").as[Long].collect().sorted.toSeq
        === Seq(1L, 2L, 4L, 6L), mode)
    }
  }

  test("compactHistory collapses the digest to deduplicated right-sized files") {
    val dir = Files.createTempDirectory("minietl-dedup-compact")
    val hist = s"$dir/digest"
    // simulate many small per-batch appends, with duplicates across them
    (1 to 6).foreach { i =>
      Seq(s"fp$i", s"fp${i % 3}").toDF("fp").coalesce(1)
        .write.mode("append").parquet(hist)
    }
    val filesBefore = parquetFilesUnder(hist)
    assert(filesBefore >= 6)
    val n = Streaming.compactHistory(spark, hist, "fp")
    // fp0..fp6 distinct = 7 (i%3 adds fp0; fp1/fp2 collide with i=1,2)
    assert(n === 7L)
    val back = spark.read.parquet(hist).select("fp").as[String].collect().sorted.toSeq
    assert(back === Seq("fp0", "fp1", "fp2", "fp3", "fp4", "fp5", "fp6"))
    assert(parquetFilesUnder(hist) === 1)
    // the next drain's anti-join sees the same admitted set: dedup loop
    // correctness is unchanged by compaction (digest is a set, not a log)

    // an interrupted swap (leftover marker dir) must STOP the loop, not
    // silently look like a fresh first batch
    val debris = new java.io.File(s"${hist}__compact_old")
    debris.mkdirs()
    val e = intercept[IllegalStateException] {
      Streaming.requireNoCompactionDebris(spark, hist)
    }
    assert(e.getMessage.contains("interrupted"))
    debris.delete()
    Streaming.requireNoCompactionDebris(spark, hist) // clean again
  }

  test("intervalJoin matches rows within the event-time interval only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, String, Long)]
    val buys = MemoryStream[(Timestamp, String, Double)]
    val joined = Streaming.intervalJoin(
      buys.toDF().toDF("bts", "k", "amount"),
      clicks.toDF().toDF("cts", "k", "click_id"),
      keys = Seq("k"), leftTs = "bts", rightTs = "cts",
      watermarkDelay = "10 minutes",
      lookback = "5 minutes", lookahead = "0 minutes")
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      clicks.addData((ts(0), "u1", 100L), (ts(20), "u1", 101L), (ts(1), "u2", 200L))
      buys.addData((ts(3), "u1", 9.99), (ts(30), "u1", 5.0))
      q.processAllAvailable()
      val rows = spark.table("ij")
        .select(col("click_id"), col("amount")).as[(Long, Double)].collect().toSet
      // buy@10:03 matches u1's click@10:00 (3 min back); buy@10:30 is 10 min
      // after click@10:20 — outside the 5-minute lookback; u2 never buys
      assert(rows === Set((100L, 9.99)))
    } finally q.stop()
  }

  test("intervalJoin rejects identical timestamp column names") {
    val df = Seq((ts(0), "a")).toDF("ts", "k")
    intercept[IllegalArgumentException] {
      Streaming.intervalJoin(df, df, Seq("k"), "ts", "ts", "1 minute",
        "1 minute", "0 minute")
    }
  }

  test("foreachBatchSink invokes the callback per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = Streaming.foreachBatchSink(
      input.toDF(), s"${Files.createTempDirectory("minietl-ckpt")}/cp") {
      (df, _) => seen.add(df.count()); ()
    }
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      input.addData(4)
      q.processAllAvailable()
      assert(seen.toArray.toSeq === Seq(3L, 1L))
    } finally q.stop()
  }

  test("interval strings map to processing-time triggers") {
    assert(Streaming.intervalTrigger("5m") === Trigger.ProcessingTime(300000L,
      java.util.concurrent.TimeUnit.MILLISECONDS))
    assert(Streaming.availableNowTrigger === Trigger.AvailableNow())
  }

  test("fileStream treats appearing files as micro-batches") {
    val dir = Files.createTempDirectory("minietl-stream").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/batch0")
    val stream = Streaming.fileStream(spark, "parquet", s"$dir/batch0", schema)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("files").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("files").count() === 2)
    } finally q.stop()
  }
}
