package minietl.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed around
  * one shuffle on a compact key rather than any all-pairs comparison:
  *
  *  - exact:   hash the content, one groupBy on the 128-bit digest;
  *  - MinHash: shingle -> k-minhash signature -> LSH banding; only documents
  *    sharing a band bucket are compared, so cost is O(rows x bands), not
  *    O(rows^2) — the standard scale path for near-dedup at 100 TB;
  *  - SimHash: 64-bit signature; banding on 16-bit chunks, verify by
  *    Hamming distance (bit_count(xor));
  *  - n-gram Jaccard: exact verification metric for candidate pairs;
  *  - embedding cosine: near-dup by vector similarity, bucketed by a
  *    random-hyperplane signature (see minietl.sim.Similarity).
  *
  * Everything is built from codegen'd built-ins (xxhash64, higher-order
  * array functions); signatures are computed scan-side and are tiny relative
  * to the documents, so the shuffles move kilobytes per row, not the text.
  *
  * CACHE LIFETIME CONTRACT: the pair-finding functions
  * ([[minhashNearDupPairs]], [[minhashNearDupPairsPortable]],
  * [[ngramJaccardPairs]], [[ngramContainmentPairs]]) `persist()` their
  * signature/posting frames because the returned LAZY plan references them
  * two or three times — and a lazy return cannot unpersist behind itself.
  * The caches live until the caller releases them: run one invocation to
  * completion and call `spark.catalog.clearCache()` (what the Verify/Bench
  * batteries do between entries), or wrap the materialization in
  * [[releasingCaches]]. [[minhashDedupClusters]] materializes internally and
  * therefore cleans up its own caches.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Run `body` (which should MATERIALIZE a frame built by one of the
    * persisting functions above — write, collect, count), then drop every
    * cache in the session. Coarse by design: Spark offers no safe hook to
    * unpersist a lazy plan's caches after its first job, so this trades
    * cache granularity for a guaranteed no-leak bound. Callers managing
    * their own unrelated caches should unpersist explicitly instead.
    */
  def releasingCaches[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    try body finally spark.catalog.clearCache()

  // ---------------------------------------------------------------- exact
  /** Exact dedup on a content column: keeps the row with the smallest
    * `keyCol` per distinct content digest. One shuffle on the digest.
    */
  def exact(df: DataFrame, contentCol: String, keyCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(contentCol).cast("binary")))
      .orderBy(col(keyCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ---------------------------------------------------------------- shingles
  /** Distinct word n-gram shingles of a text column. The gram join uses
    * [[minietl.text.TextAnalysis.ngrams]] (slices in lambda ARGUMENT
    * position) — the previous `transform(sequence(...), i =>
    * concat_ws(" ", slice(toks, i, n)))` CAPTURED `toks` inside the lambda,
    * re-running the split once per element (O(len²) per document; the
    * capture rule TextAnalysis.consecDupFraction documents).
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    val grams = if (n <= 1) toks else minietl.text.TextAnalysis.ngrams(toks, n)
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(grams))
  }

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Sorted xxhash64 of each shingle. All downstream work (MinHash lanes,
    * Jaccard intersection, LSH banding) runs on this compact long array: each
    * shingle string is hashed exactly once per document, pairwise set
    * intersection compares 8-byte values instead of variable-length strings,
    * and because the array is sorted, intersection is an allocation-free
    * merge-walk ([[minietl.functions.JaccardSortedLong]]). A full-64-bit
    * collision inside one document's shingle set (~n²/2^65) is negligible
    * even at 100 TB corpus scale, so Jaccard over the hashes equals Jaccard
    * over the strings.
    */
  def hashedShingles(shingleArr: Column): Column =
    array_sort(transform(shingleArr, xxhash64(_)))

  /** Scale path for shingle hashing: hash word n-grams straight off the
    * token array in one native pass ([[minietl.functions.ShingleHashes64]]),
    * never materializing a shingle string. Set identity matches
    * `hashedShingles(shingles(text, n))` modulo hash function choice;
    * Jaccard values are identical because only set membership matters.
    */
  def shingleHashesSorted(text: Column, n: Int): Column =
    minietl.functions.vec.shingleHashes(split(text, " "), n)

  // ---------------------------------------------------------------- minhash
  /** MinHash signature (array<bigint> of length k) of a shingle array.
    * h_i(s) = (a_i * x + b_i) mod p over x = xxhash64(s) mod p; the min over
    * shingles estimates per-permutation Jaccard. Pure expression: computed
    * in the scan stage, no shuffle.
    */
  def minhashSignature(shingleArr: Column, k: Int = 128, seed: Long = 42L): Column =
    minhashFromHashes(hashedShingles(shingleArr), k, seed)

  /** Signature from an already-hashed (xxhash64) shingle array: all k lanes
    * in one native pass ([[minietl.functions.MinHashSignature64]]) — the
    * string hashing happens once per document, and the lane minima are a
    * tight generated loop instead of k interpreted folds.
    */
  def minhashFromHashes(hashArr: Column, k: Int = 128, seed: Long = 42L): Column =
    minietl.functions.vec.minhashSignature(hashArr, k, seed)

  /** Estimated Jaccard from two equal-length MinHash signatures (native
    * equal-lane count, [[minietl.functions.MinHashEstimate]]).
    */
  def minhashEstimate(sigA: Column, sigB: Column): Column =
    minietl.functions.vec.minhashEstimate(sigA, sigB)

  /** Explode a signature into `bands` LSH bucket keys: rows agreeing on all
    * `k/bands` values inside any band land in the same bucket. Returns
    * array<struct<band:int, key:bigint>> for `explode`.
    */
  def lshBandKeys(sig: Column, bands: Int, k: Int): Column = {
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, s"bands=$bands must divide k=$k")
    // Band key = xxhash64 fold over the band's lanes — pure long arithmetic,
    // no per-band string building.
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.cast("int").as("band"),
        aggregate(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
          b.cast("bigint"), (acc, v) => xxhash64(acc, v)).as("key")))
  }

  /** MinHash-LSH near-duplicate pairs: returns (idA, idB, est, jac) for
    * candidate pairs sharing >=1 LSH bucket, verified by exact Jaccard >=
    * `threshold`. Plan shape: scan -> signature (narrow) -> explode bands ->
    * shuffle on (band, key) -> within-bucket self-join -> dedup pairs ->
    * verify. The only all-pairs work happens inside buckets.
    */
  /** The (id, hsh, sig) signature base every MinHash consumer derives from:
    * sorted distinct shingle hashes plus the k-lane signature, computed
    * ONCE per document. `portable` selects the md5-60-bit replayable hash
    * family (engine-replayable, slower md5); xxhash64 otherwise. NOT
    * persisted here — the caller owns persist/release: the public pair
    * entries persist + register with RunCaches; the streaming ingest loop
    * checkpoints it once per micro-batch, so one batch's shingle hashing
    * never runs twice (within-batch dedup AND digest banding both read
    * this frame).
    */
  private[minietl] def minhashBase(df: DataFrame, textCol: String, idCol: String,
                                   shingleN: Int, k: Int, seed: Long,
                                   portable: Boolean): DataFrame = {
    val hsh =
      if (portable) md5ShingleHashesSorted(col(textCol), shingleN)
      else shingleHashesSorted(col(textCol), shingleN)
    spread(df).select(col(idCol).as("id"), hsh.as("hsh"))
      .withColumn("sig", minhashFromHashes(col("hsh"), k, seed))
  }

  /** LSH banding of a signature base: one (id, band, key) row per band for
    * the bucket shuffle — the slim proxy rows (guide §2.3: shuffle keys and
    * metadata, not payloads); the signature/shingle arrays stay behind and
    * join back per confirmed candidate only.
    */
  private[minietl] def bandRows(base: DataFrame, bands: Int, k: Int,
                                portable: Boolean): DataFrame = {
    val keys =
      if (portable) lshBandKeysPortable(col("sig"), bands, k)
      else lshBandKeys(col("sig"), bands, k)
    base.select(col("id"), explode(keys).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate self-join + exact-Jaccard verify over a CALLER-PERSISTED
    * signature base — the shared tail behind [[minhashNearDupPairs]],
    * [[minhashNearDupPairsPortable]] and the streaming ingest loop.
    */
  private[minietl] def minhashPairsFromSigBase(base: DataFrame, bands: Int, k: Int,
                                               threshold: Double, maxBucketSize: Int,
                                               portable: Boolean): DataFrame =
    minhashPairsFromBase(base, bandRows(base, bands, k, portable),
      threshold, maxBucketSize)

  def minhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                          threshold: Double = 0.8, seed: Long = 42L,
                          maxBucketSize: Int = DefaultMaxBucket): DataFrame = {
    // Persisted because the plan references it three times (banding + two
    // candidate-fetch joins); without it the signature computation — the
    // expensive scan-side work — would run three times.
    val base = minhashBase(df, textCol, idCol, shingleN, k, seed,
      portable = false).persist()
    minietl.pipeline.RunCaches.register(base)
    minhashPairsFromSigBase(base, bands, k, threshold, maxBucketSize,
      portable = false)
  }

  /** Spread a narrow scan across all cores when the input arrives in fewer
    * partitions than half the default parallelism — a one-file dev corpus
    * otherwise runs the expensive scan-side work (shingle hashing, signature
    * computation, cache build) on a SINGLE thread (measured: 3.9 s → 0.95 s
    * for the sf0.1 minhash base persist). At production scale inputs carry
    * hundreds of partitions and this is a no-op, so the full-corpus shuffle
    * it would imply never happens there.
    */
  private[minietl] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(2, target / 2)) df.repartition(target) else df
  }

  /** Default bucket-size cap for the LSH candidate self-joins. A bucket with
    * n members yields n(n-1)/2 candidate pairs, so one degenerate key (at
    * 100 TB: billions of empty or boilerplate documents sharing a band
    * bucket) turns the join into an O(n^2) pair explosion that no amount of
    * shuffle skew-handling fixes — the OUTPUT is quadratic. Buckets this
    * populous are non-discriminative by definition (the members are
    * near-identical under the sketch), so dropping them is principled: exact
    * duplicates belong to [[exactDedup]], which handles them in one linear
    * shuffle. 1000 members = ~500k pairs, a comfortable single-task unit.
    */
  val DefaultMaxBucket: Int = 1000

  /** Drop every row belonging to a bucket with more than `maxBucketSize`
    * members, with a logged census. The count is a window over exactly the
    * (band, key) partitioning the downstream self-join shuffles on, so the
    * guard adds ZERO extra jobs and no extra shuffle — the one exchange is
    * shared (measured: an eager two-job census + broadcast anti-join
    * variant cost ~2 s of fixed job latency per dedup call at sf0.1).
    *
    * The census itself rides the caller's action as an `observe` metric; a
    * self-unregistering QueryExecutionListener logs the dropped-row count
    * when that action completes (asynchronously, on the listener bus).
    */
  private[minietl] def dropOversizedBuckets(banded: DataFrame, keyCols: Seq[String],
                                            maxBucketSize: Int, what: String): DataFrame = {
    require(maxBucketSize > 1, s"maxBucketSize must be > 1 (got $maxBucketSize)")
    val n = minietl.ops.Ops.freshName(banded, "__bucket_n")
    val withN = banded.withColumn(n,
      count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
    val obsName = s"${what}_bucket_census_" + java.util.UUID.randomUUID().toString.take(8)
    val observed = withN.observe(obsName,
      sum(when(col(n) > maxBucketSize, 1L).otherwise(0L)).as("dropped_rows"),
      coalesce(max(col(n)), lit(0L)).as("largest_bucket"))
    censusLogger(banded.sparkSession, obsName, maxBucketSize, what)
    observed.filter(col(n) <= maxBucketSize).drop(n)
  }

  /** Logs the bucket census of [[dropOversizedBuckets]] once the first
    * action over the observed frame completes; unregisters itself after.
    */
  private def censusLogger(spark: org.apache.spark.sql.SparkSession,
                           obsName: String, maxBucketSize: Int, what: String): Unit = {
    val lm = spark.listenerManager
    lm.register(new org.apache.spark.sql.util.QueryExecutionListener {
      private def handle(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        qe.observedMetrics.get(obsName).foreach { row =>
          lm.unregister(this)
          val dropped = row.getAs[Long]("dropped_rows")
          if (dropped > 0)
            log.warn(s"$what: dropped $dropped member rows in LSH buckets of " +
              s"more than $maxBucketSize members (largest bucket: " +
              s"${row.getAs[Long]("largest_bucket")}) before pair generation — " +
              "buckets this populous are non-discriminative and would emit " +
              "O(n^2) candidate pairs; run exact dedup first if the corpus " +
              "carries mass duplicates")
        }
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = handle(qe)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit =
        // only retire on OUR query's failure — an unrelated failing query in
        // the same session must not silence a census that has yet to run
        if (qe.observedMetrics.contains(obsName)) lm.unregister(this)
    })
  }

  /** Candidate self-join + est/jac verify over a persisted (id, hsh, sig)
    * frame and its (id, band, key) banding — shared by the production and
    * portable MinHash variants so the verify tail cannot diverge.
    */
  private def minhashPairsFromBase(base: DataFrame, rawBanded: DataFrame,
                                   threshold: Double, maxBucketSize: Int): DataFrame = {
    val banded = dropOversizedBuckets(rawBanded, Seq("band", "key"), maxBucketSize, "minhash")
    val pairs = banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") && col("a.key") === col("b.key")
        && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(base.select(col("id").as("id_a"), col("sig").as("sig_a"), col("hsh").as("sh_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("sig").as("sig_b"), col("hsh").as("sh_b")), "id_b")
      .withColumn("est", round(minhashEstimate(col("sig_a"), col("sig_b")), 4))
      .withColumn("jac", round(minietl.functions.vec.jaccardSorted(col("sh_a"), col("sh_b")), 4))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "est", "jac")
  }

  // ------------------------------------------- portable (replayable) path
  /** md5-derived 60-bit positive hash of each element of a string array —
    * the ENGINE-PORTABLE hash (any SQL engine computes
    * `CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)`). Same role
    * as [[hashedShingles]]' xxhash64 but slower per string (md5 + hex), so
    * the xxhash64 variants remain the production path; this one exists so
    * the WHOLE near-dup computation can be replayed by an independent
    * engine (same trick as `TextAnalysis.fingerprintPortable`).
    */
  def md5Hashes60(arr: Column): Column =
    transform(arr, minietl.functions.PortableHash.md5Hash60(_))

  /** Sorted distinct md5-60-bit shingle hashes — the PORTABLE twin of
    * [[shingleHashesSorted]] (any SQL engine with md5 replays it).
    */
  def md5ShingleHashesSorted(text: Column, n: Int): Column =
    array_sort(array_distinct(md5Hashes60(shingles(text, n))))

  /** LSH band keys for the PORTABLE signature family: the band key is the
    * raw lane slice (array<bigint> of k/bands values) instead of
    * [[lshBandKeys]]' xxhash64 fold — any engine replays slice equality;
    * the fatter key is the replayability tax. Returns
    * array<struct<band:int, key:array<bigint>>> for `explode`.
    */
  def lshBandKeysPortable(sig: Column, bands: Int, k: Int): Column = {
    val rpb = k / bands
    require(bands * rpb == k, s"bands=$bands must divide k=$k")
    array((0 until bands).map(b =>
      struct(lit(b).as("band"), slice(sig, b * rpb + 1, rpb).as("key"))): _*)
  }

  /** MinHash near-dup pairs, PORTABLE variant: md5-60-bit shingle hashes
    * and array-slice band keys in place of xxhash64. The lane arithmetic
    * `((x mod p) * a + b) mod p` with p = 2^31-1 never exceeds 2^62, so an
    * engine with 64-bit integers and md5 replays the ENTIRE computation
    * bit-for-bit — [[minhashPortableOracleSql]] generates that SQL (embed
    * the same seed/k/bands). Plan shape is identical to
    * [[minhashNearDupPairs]] except the band shuffle carries the k/bands
    * raw lane values (~8 B each) instead of one folded key — the
    * replayability tax. The xxhash64 variant stays the production path.
    */
  def minhashNearDupPairsPortable(df: DataFrame, textCol: String, idCol: String,
                                  shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                                  threshold: Double = 0.5, seed: Long = 42L,
                                  maxBucketSize: Int = DefaultMaxBucket): DataFrame = {
    val base = minhashBase(df, textCol, idCol, shingleN, k, seed,
      portable = true).persist()
    minietl.pipeline.RunCaches.register(base)
    minhashPairsFromSigBase(base, bands, k, threshold, maxBucketSize,
      portable = true)
  }

  /** Keep one representative (min id) per near-dup cluster over the
    * PORTABLE pair list — [[minhashDedup]]'s replayable twin, used by the
    * oracle-gated ingest-dedup loop
    * ([[minietl.streaming.Streaming.nearDupDedupAndRecordHistory]] with
    * `portable = true`).
    */
  def minhashDedupPortable(df: DataFrame, textCol: String, idCol: String,
                           shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                           threshold: Double = 0.5): DataFrame = {
    val dupIds = minhashNearDupPairsPortable(df, textCol, idCol, shingleN, k, bands, threshold)
      .select(col("id_b").as("__dup")).distinct()
    df.join(dupIds, df(idCol) === col("__dup"), "left_anti")
  }

  /** ANSI SQL (DuckDB dialect) replaying [[minhashNearDupPairsPortable]]
    * end-to-end: same md5-60-bit shingle hashes, same splitmix (a, b)
    * streams rendered as literals, same band slicing and Jaccard verify.
    */
  def minhashPortableOracleSql(shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                               threshold: Double = 0.5, seed: Long = 42L,
                               table: String = "documents", idCol: String = "doc_id",
                               textCol: String = "text",
                               maxBucketSize: Int = DefaultMaxBucket): String = {
    val rpb = k / bands
    require(bands * rpb == k, s"bands=$bands must divide k=$k")
    val (as, bs) = minietl.functions.VectorOps.hashParams(k, seed)
    val aLit = as.mkString("[", ",", "]")
    val bLit = bs.mkString("[", ",", "]")
    val gram = (0 until shingleN)
      .map(j => if (j == 0) "toks[i]" else s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH d AS (SELECT $idCol AS id, $textCol AS t, string_split($textCol, ' ') AS toks
       |           FROM $table),
       |sh AS (SELECT id, CASE WHEN len(toks) < $shingleN THEN [t]
       |         ELSE list_transform(range(1, len(toks) - ${shingleN - 2}), i -> $gram) END AS ss
       |       FROM d),
       |hs AS (SELECT id, list_sort(list_distinct(list_transform(ss,
       |         s -> ${minietl.functions.PortableHash.sql("s")}))) AS hh FROM sh),
       |sig AS (SELECT id, hh, list_transform(range(1, $k + 1),
       |         i -> list_min(list_transform(hh,
       |                x -> ((x % 2147483647) * ($aLit)[i] + ($bLit)[i]) % 2147483647))) AS sg
       |        FROM hs),
       |bnd0 AS (SELECT id, u.b AS band, sg[u.b * $rpb + 1 : (u.b + 1) * $rpb] AS key
       |        FROM sig CROSS JOIN (SELECT unnest(range(0, $bands)) AS b) u),
       |big AS (SELECT band, key FROM bnd0 GROUP BY band, key HAVING count(*) > $maxBucketSize),
       |bnd AS (SELECT bnd0.* FROM bnd0 ANTI JOIN big USING (band, key)),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |         FROM bnd a JOIN bnd b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
       |ver AS (SELECT id_a, id_b,
       |    round(CAST(len(list_filter(range(1, $k + 1), i -> sa.sg[i] = sb.sg[i])) AS DOUBLE)
       |      / $k, 4) AS est,
       |    round(CAST(len(list_filter(sa.hh, x -> list_contains(sb.hh, x))) AS DOUBLE)
       |      / (len(sa.hh) + len(sb.hh)
       |         - len(list_filter(sa.hh, x -> list_contains(sb.hh, x)))), 4) AS jac
       |  FROM cand JOIN sig sa ON sa.id = cand.id_a JOIN sig sb ON sb.id = cand.id_b)
       |SELECT id_a, id_b, est, jac FROM ver WHERE jac >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** ANSI SQL (DuckDB dialect) replaying the PORTABLE collision-mode
    * ingest-dedup loop
    * ([[minietl.streaming.Streaming.nearDupDedupAndRecordHistory]] with
    * `portable = true`) end to end, drain by drain: for each batch
    * predicate (over the id column, in order), (1) the within-batch
    * near-dup pass — signatures, capped banding, candidate pairs, exact
    * Jaccard ≥ threshold, drop the greater id; (2) the cross-batch
    * collision check — any band of a within-survivor matching the digest
    * (the bands of every EARLIER batch's admitted docs) drops it; (3) the
    * digest grows by `bands` rows per admitted doc. Emits one row per
    * admitted (batch, doc) plus the batch's final digest row count — the
    * full drain → admit → digest trajectory as one hashable relation.
    *
    * `batchPreds(i)` must be a predicate over `id` describing EXACTLY the
    * rows staged into micro-batch i (a doc may appear in several batches —
    * re-sighting an admitted doc is the cross-batch case — but at most once
    * per batch).
    */
  def nearDupHistoryOracleSql(batchPreds: Seq[String],
                              shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                              threshold: Double = 0.5, seed: Long = 42L,
                              table: String = "documents", idCol: String = "doc_id",
                              textCol: String = "text",
                              maxBucketSize: Int = DefaultMaxBucket): String = {
    require(batchPreds.nonEmpty, "need at least one batch predicate")
    val rpb = k / bands
    require(bands * rpb == k, s"bands=$bands must divide k=$k")
    val (as, bs) = minietl.functions.VectorOps.hashParams(k, seed)
    val aLit = as.mkString("[", ",", "]")
    val bLit = bs.mkString("[", ",", "]")
    val gram = (0 until shingleN)
      .map(j => if (j == 0) "toks[i]" else s"toks[i+$j]").mkString(" || ' ' || ")
    val inter = "len(list_filter(sa.hh, x -> list_contains(sb.hh, x)))"
    val head =
      s"""WITH d AS (SELECT $idCol AS id, $textCol AS t, string_split($textCol, ' ') AS toks
         |           FROM $table),
         |sh AS (SELECT id, CASE WHEN len(toks) < $shingleN THEN [t]
         |         ELSE list_transform(range(1, len(toks) - ${shingleN - 2}), i -> $gram) END AS ss
         |       FROM d),
         |hs AS (SELECT id, list_sort(list_distinct(list_transform(ss,
         |         s -> ${minietl.functions.PortableHash.sql("s")}))) AS hh FROM sh),
         |sig AS (SELECT id, hh, list_transform(range(1, $k + 1),
         |         i -> list_min(list_transform(hh,
         |                x -> ((x % 2147483647) * ($aLit)[i] + ($bLit)[i]) % 2147483647))) AS sg
         |        FROM hs),
         |bnd_all AS (SELECT id, u.b AS band, sg[u.b * $rpb + 1 : (u.b + 1) * $rpb] AS key
         |            FROM sig CROSS JOIN (SELECT unnest(range(0, $bands)) AS b) u)""".stripMargin
    val perBatch = batchPreds.zipWithIndex.map { case (pred, i) =>
      val within =
        s""",
           |bnd$i AS (SELECT * FROM bnd_all WHERE $pred),
           |big$i AS (SELECT band, key FROM bnd$i GROUP BY band, key
           |          HAVING count(*) > $maxBucketSize),
           |bk$i AS (SELECT bnd$i.* FROM bnd$i ANTI JOIN big$i USING (band, key)),
           |cand$i AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |           FROM bk$i a JOIN bk$i b
           |             ON a.band = b.band AND a.key = b.key AND a.id < b.id),
           |dup$i AS (SELECT DISTINCT id_b AS id FROM cand$i
           |          JOIN sig sa ON sa.id = cand$i.id_a
           |          JOIN sig sb ON sb.id = cand$i.id_b
           |          WHERE round(CAST($inter AS DOUBLE)
           |            / (len(sa.hh) + len(sb.hh) - $inter), 4) >= $threshold),
           |w$i AS (SELECT id FROM sig
           |        WHERE ($pred) AND id NOT IN (SELECT id FROM dup$i))""".stripMargin
      val cross =
        if (i == 0) s""",
           |fresh0 AS (SELECT id FROM w0)""".stripMargin
        else {
          val hist = (0 until i)
            .map(j => s"SELECT band, key FROM bnd_all JOIN fresh$j USING (id)")
            .mkString("\n           UNION ALL ")
          s""",
             |hist$i AS ($hist),
             |coll$i AS (SELECT DISTINCT b.id FROM bnd_all b
             |           JOIN w$i USING (id)
             |           JOIN hist$i h ON b.band = h.band AND b.key = h.key),
             |fresh$i AS (SELECT id FROM w$i
             |            WHERE id NOT IN (SELECT id FROM coll$i))""".stripMargin
        }
      within + cross
    }.mkString
    val adm = batchPreds.indices
      .map(i => s"SELECT $i AS batch, id FROM fresh$i")
      .mkString("\n       UNION ALL ")
    s"""$head$perBatch,
       |adm AS ($adm)
       |SELECT CAST(batch AS BIGINT) AS batch, id AS doc_id,
       |  CAST($bands * count(*) OVER (PARTITION BY batch) AS BIGINT) AS digest_rows
       |FROM adm ORDER BY doc_id""".stripMargin
  }

  /** Keep one representative (min id) per near-dup cluster: drops every row
    * that appears as the greater id of a confirmed pair. Greedy — for
    * transitive chains (a~b, b~c but not a~c) use [[minhashDedupClusters]].
    */
  def minhashDedup(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                   threshold: Double = 0.8): DataFrame = {
    val dupIds = minhashNearDupPairs(df, textCol, idCol, shingleN, k, bands, threshold)
      .select(col("id_b").as("__dup")).distinct()
    df.join(dupIds, df(idCol) === col("__dup"), "left_anti")
  }

  /** Connected components over an undirected pair list (columns id_a, id_b):
    * returns (id, comp) where comp is the minimum id reachable from id.
    * The distributed path is ALTERNATING LARGE-STAR / SMALL-STAR contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
    * 2014): each round rewires every node's strictly-larger neighbors to its
    * neighborhood minimum (large-star), then collapses each node's smaller
    * neighbors onto their minimum (small-star). Both steps preserve
    * components and strictly contract long chains, so convergence is
    * O(log n) ROUNDS rather than the O(diameter) of plain min-label
    * propagation — measured on the 2.25M-edge probe graphs (PLANS.md round
    * 11): the diameter-40 adversarial tail that label propagation walked in
    * 40 rounds / 664 s converges in 7 star rounds, 0 mislabels. The frame
    * that iterates is the edge set, (two ids per edge), contracted toward
    * one (node, root) row per non-root node. `maxIter` is purely a runaway
    * guard: hitting it THROWS rather than returning a partially contracted
    * labeling, because partial labels silently under-deduplicate longer
    * chains — at the default 100 it allows graphs astronomically past any
    * real corpus (rounds grow with log of the largest component).
    */
  /** Above this many pairs the driver fast path is off. 2M edges ≈ 32 MB of
    * longs — the same order of driver memory a broadcast join build side
    * uses, and near-dup pair lists are SPARSE by construction (the LSH
    * verify keeps only genuinely-similar pairs), so real corpora land under
    * it unless they are pathologically duplicate-heavy.
    *
    * Re-probed r17 (cc_crossover, chain graphs, both paths forced): the
    * WALL crossover sits above 8M pairs on local[32] — driver/distributed
    * 6.7/24.4 s at 1M, 9.8/26.6 s at 2M, 17.9/37.5 s at 4M, 40.4/51.0 s
    * at 8M — so 2M is NOT the wall optimum; it stays the default because
    * the binding constraint is transient driver HEAP (collected Rows +
    * boxed union-find entries ≈ 200-300 B/pair ⇒ ~0.5 GB at 2M, multi-GB
    * at 8M), which a library must bound for the modest driver heaps real
    * deployments run. Callers with generous drivers raise
    * `driverPathMaxPairs` and inherit the measured win.
    */
  val DriverCcMaxPairs: Long = 2000000L

  def connectedComponents(pairs: DataFrame, maxIter: Int = 100,
                          driverPathMaxPairs: Long = DriverCcMaxPairs): DataFrame =
    connectedComponentsWithStats(pairs, maxIter, driverPathMaxPairs)._1

  /** Connected components of a pair list that is PARTITIONED BY
    * CONSTRUCTION — every edge lives inside one group `g` and no component
    * can span groups (SemDeDup's within-cluster pairs are the canonical
    * case: a node has exactly one pairing key, so its component is
    * group-local BY ALGEBRA, not assumption). That locality turns the
    * O(log n)-round global star contraction into ONE shuffle on `g` plus a
    * per-group in-memory union-find: each group's edge count is already
    * bounded by the caller's census cap (≤ cap²/2 pairs — a single-task
    * unit), so the whole clique-regime graph that costs the global loop
    * minutes of iterated 100M-row shuffles (measured: the 200k-vector
    * recovery probe's 50M-edge clique graph) collapses to a linear pass.
    * `pairs` carries (id_a, id_b) castable to long plus `groupCols`;
    * output is (id, comp) with comp = the component's minimum id —
    * identical contract to [[connectedComponents]] restricted to integral
    * ids. SOUNDNESS REQUIREMENT on the caller: edges never cross groups
    * and an id belongs to exactly one group.
    */
  def groupLocalComponents(pairs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // hash-repartition on the group columns: all of a group's edges land in
    // ONE partition (which is all the union-find needs), while the shuffle
    // rows carry only the two longs — no group key is materialized, and a
    // partition holding MANY groups is harmless because ids never repeat
    // across groups (each id has exactly one pairing key), so the disjoint
    // union of groups has the same components as the groups themselves.
    pairs.repartition(groupCols.map(col): _*)
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // union onto the smaller root: the final root of a component is
          // therefore its minimum member id, the [[connectedComponents]]
          // label contract
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        parent.keysIterator.map(id => (id, find(id)))
      }
      .toDF("id", "comp")
  }

  /** [[connectedComponents]] plus the distributed loop's
    * iterations-to-convergence (0 on the driver union-find fast path,
    * which converges in one pass by construction) — the scale-probe /
    * operations observable: iterations ≈ log of the largest component's
    * size under star contraction, and a deployment watching this number
    * knows how close its duplicate chains run to the maxIter guard.
    */
  def connectedComponentsWithStats(
      pairs: DataFrame, maxIter: Int = 100,
      driverPathMaxPairs: Long = DriverCcMaxPairs): (DataFrame, Int) = {
    // materialize the pair list before unioning it with its swap: the two
    // union branches are the SAME (expensive — LSH banding + verify) plan,
    // and an unmaterialized cache makes one job compute it twice
    val p = pairs.persist()
    val nPairs = p.count()
    // size-based algorithm choice, same rationale as a broadcast join: the
    // pair count is already materialized, so when the graph fits in driver
    // memory, a local union-find replaces O(log n) star-contraction rounds
    // (each several Spark jobs) with one collect — measured ~2-3 s saved per
    // cluster-dedup call at sf0.1. The distributed loop below remains the
    // path for graphs above the threshold or with non-integral id types.
    val idType = p.schema("id_a").dataType
    if (nPairs <= driverPathMaxPairs &&
        (idType == org.apache.spark.sql.types.LongType ||
         idType == org.apache.spark.sql.types.IntegerType)) {
      val edgeRows = p.select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
      p.unpersist()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      edgeRows.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // root = smaller id
      }
      // with union-by-min, every root IS its component's minimum id
      val out = parent.keysIterator.map(id => (id, find(id))).toSeq
      val spark = pairs.sparkSession
      import spark.implicits._
      return (out.toDF("id", "comp")
        .select(col("id").cast(idType).as("id"), col("comp").cast(idType).as("comp")), 0)
    }
    // Alternating large-star / small-star contraction. Every edge frame in
    // the loop is kept CANONICAL — (src, dst) with src > dst, no self-loops,
    // distinct — so the convergence test is plain set equality and both star
    // steps can assume orientation. Each round is eagerly localCheckpoint'ed:
    // that bounds the logical plan at constant depth (the lineage-nesting
    // blowup that killed the first round-10 probe run at 23 min grows per
    // ROUND, and checkpointing every round costs nothing extra because the
    // convergence check must materialize the round anyway); the superseded
    // round's blocks are released immediately.
    var edges = p.select(
        greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    var nEdges = edges.count()
    // node set checkpointed UP FRONT so the final label join never re-runs
    // the (possibly expensive — LSH banding + verify) pair plan; p can then
    // be released before the loop instead of after it
    val nodes = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
      .localCheckpoint(true)
    p.unpersist()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: for every node u (seen from both edge directions),
      // m = min(N(u) ∪ {u}); rewire each strictly-LARGER neighbor v to m.
      // Emitted edges (v, m) satisfy v > u ≥ m, so canonicity is preserved.
      val d = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val lsMin = d.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val ls = d.join(lsMin, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
      // small-star: edges point large→small, so every out-neighbor of u is
      // smaller; m = min of them. Rewire each smaller neighbor to m and
      // point u itself at m. Emitted edges again satisfy left > right
      // (v ≥ m with v = m filtered; u > m always).
      val ssMin = ls.groupBy("src").agg(min("dst").as("m"))
      val next = ls.join(ssMin, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(ssMin.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(true)
      val nNext = next.count()
      // exact set-equality convergence (both sides canonical + distinct):
      // equal counts and an empty anti-join. At a fixed point the edge set
      // IS the answer — one (node, root) edge per non-root node.
      converged = nNext == nEdges &&
        next.join(edges, Seq("src", "dst"), "left_anti").isEmpty
      minietl.pipeline.RunCaches.releaseNow(edges)
      edges = next
      nEdges = nNext
      iter += 1
    }
    if (!converged) {
      minietl.pipeline.RunCaches.releaseNow(edges)
      minietl.pipeline.RunCaches.releaseNow(nodes)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter " +
          "rounds: the star contraction is PARTIAL and cluster-based dedup " +
          "would silently under-deduplicate the unfinished chains — raise " +
          "maxIter (alternating star contraction needs O(log n) rounds)")
    }
    // converged star edges: (node, root) for every non-root node; roots and
    // any self-paired input ids label themselves (the left join + coalesce
    // covers both without a separate roots union).
    val labels = nodes
      .join(edges.select(col("src").as("id"), col("dst").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    (labels, iter)
  }

  /** Keep one representative per cluster implied by an undirected pair list:
    * connected components label each cluster with its minimum id; every
    * non-representative row is dropped, rows in no cluster pass through.
    * Shared keep-one step for all the near-dup detectors.
    */
  def dropClusterDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val drop = connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("__dup"))
    df.join(drop, df(idCol) === col("__dup"), "left_anti")
  }

  /** Cluster-safe near-dup removal: confirmed pairs → connected components →
    * keep only each cluster's minimum id (plus every row in no cluster).
    */
  def minhashDedupClusters(df: DataFrame, textCol: String, idCol: String,
                           shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                           threshold: Double = 0.8): DataFrame =
    dropClusterDuplicates(df,
      minhashNearDupPairs(df, textCol, idCol, shingleN, k, bands, threshold), idCol)

  /** Exact n-gram-Jaccard near-dup pairs with length blocking, expressed as
    * an equi-join so it scales: candidates are pairs whose `lenCol` differ by
    * at most `radius`. Rather than an all-pairs |a.len - b.len| <= radius
    * nested-loop join, the left side explodes into its own and both adjacent
    * length buckets (bucket width = 2*radius+1), making the join a plain
    * shuffle on the bucket id; any pair within `radius` shares a bucket with
    * exactly one of the three probes, so no pair dedup is needed.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String, lenCol: String,
                        radius: Int = 10, shingleN: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    val width = 2 * radius + 1
    // Persisted: the bucket join and both candidate-fetch joins read it, and
    // shingling is the expensive scan-side step.
    val base = spread(df).select(col(idCol).as("id"), col(lenCol).as("len"),
      shingleHashesSorted(col(textCol), shingleN).as("sh")).persist()
    minietl.pipeline.RunCaches.register(base)
    // The bucket join moves only (id, len, bucket); the shingle arrays join
    // back onto the surviving candidate pairs, so no array is copied per
    // bucket-pair — only per radius-qualified candidate.
    val slim = base.select(col("id"), col("len"))
    val bucket = floor(col("len") / width)
    val probes = slim.withColumn("bucket",
      explode(array(bucket - 1, bucket, bucket + 1)))
    val build = slim.withColumn("bucket", bucket)
      .select(col("bucket"), col("id").as("id_b"), col("len").as("len_b"))
    probes.join(build,
        probes("bucket") === build("bucket")
          && col("id") < col("id_b")
          && abs(col("len") - col("len_b")) <= radius)
      .select(col("id").as("id_a"), col("id_b"))
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jac", round(minietl.functions.vec.jaccardSorted(col("sh_a"), col("sh_b")), 4))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** n-gram CONTAINMENT pairs: |A∩B| / |A| (and /|B|) — detects quotes and
    * subset documents that Jaccard misses (a short doc fully inside a long
    * one has tiny Jaccard but containment 1.0). Because containment pairs
    * can have arbitrarily different lengths, length blocking would defeat
    * the point; candidates come from a shingle inverted index instead:
    * pairs sharing at least one shingle whose posting list is at most
    * `maxPostingLen` long. Over-shared shingles are boilerplate — dropping
    * them is the posting-list twin of the LSH bucket cap (logged the same
    * way); a contained pair is only missed if EVERY shared shingle is
    * boilerplate. Survivor pairs are verified exactly with the native
    * merge-walk intersection over the full sorted shingle arrays.
    *
    * Shuffles: posting explode (one), candidate-pair aggregate (one),
    * two id-keyed array fetch joins. Per-shingle join fan-out is bounded
    * by maxPostingLen².
    */
  def ngramContainmentPairs(df: DataFrame, textCol: String, idCol: String,
                            shingleN: Int = 3, threshold: Double = 0.5,
                            maxPostingLen: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val base = spread(df).select(col(idCol).as("id"),
      shingleHashesSorted(col(textCol), shingleN).as("sh")).persist()
    minietl.pipeline.RunCaches.register(base)
    val posts = base.select(col("id"), explode(col("sh")).as("g"))
    // posting-length census rides the window over the explode shuffle;
    // persisted because the self-join reads it twice (without it the whole
    // explode+census chain — the expensive part — runs once per side)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val kept = posts.withColumn("__plen", count(lit(1)).over(w))
      .where(col("__plen") <= maxPostingLen)
      .select("id", "g")
      .persist()
    minietl.pipeline.RunCaches.register(kept)
    val cand = kept.join(kept.select(col("g"), col("id").as("id_b")), "g")
      .where(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("__inter",
        minietl.functions.vec.intersectSorted(col("sh_a"), col("sh_b")))
      .withColumn("cont_a",
        round(col("__inter").cast("double") / size(col("sh_a")), 4))
      .withColumn("cont_b",
        round(col("__inter").cast("double") / size(col("sh_b")), 4))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "cont_a", "cont_b")
  }

  // ---------------------------------------------------------------- simhash
  /** 64-bit SimHash of a token array: per bit position, sum +1/-1 votes of
    * each token's xxhash64 bit; the sign of the sum sets the output bit.
    * Near-identical token multisets differ in few bits.
    */
  def simhash(toks: Column): Column =
    // Hash every token once (one string pass), then the 64 per-bit votes run
    // as one native loop over the longs (minietl.functions.SimHash64).
    minietl.functions.vec.simhash64(transform(toks, xxhash64(_)))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("int")

  /** SimHash near-dup pairs: band the 64-bit signature into `bands` equal
    * chunks and shuffle on (chunk index, chunk value). Pigeonhole: a pair
    * within Hamming distance `bands - 1` shares at least one exact chunk, so
    * candidate recall is complete only when `maxHamming < bands` — enforced,
    * because silently missing pairs is worse than a bigger explode. Verify
    * by exact Hamming <= maxHamming.
    */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int = 3, bands: Int = 4,
                          maxBucketSize: Int = DefaultMaxBucket): DataFrame = {
    require(Seq(1, 2, 4, 8, 16, 32, 64).contains(bands), s"bands must divide 64: $bands")
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming < bands (got maxHamming=$maxHamming, bands=$bands)")
    simhashPairsFromSigs(
      spread(df).select(col(idCol).as("id"), simhash(split(col(textCol), " ")).as("sig")),
      maxHamming, bands, maxBucketSize)
  }

  /** Banding + Hamming verify over a pre-computed (id, sig) frame — shared
    * by the production and portable SimHash variants.
    */
  private def simhashPairsFromSigs(base: DataFrame, maxHamming: Int, bands: Int,
                                   maxBucketSize: Int): DataFrame = {
    val chunkBits = 64 / bands
    val mask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    val banded0 = base.select(col("id"), col("sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * chunkBits).bitwiseAND(mask).as("chunk"))): _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"), col("bk.chunk").as("chunk"))
    val banded = dropOversizedBuckets(banded0, Seq("band", "chunk"), maxBucketSize, "simhash")
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk")
        && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.sig"), col("b.sig")).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs, PORTABLE variant: md5-60-bit token hashes in
    * place of xxhash64 (bits 60-63 of every signature are then 0 — four
    * fewer discriminating bits, the replayability tax). Same banding and
    * Hamming verify as [[simhashNearDupPairs]];
    * [[simhashPortableOracleSql]] generates the replay SQL.
    */
  def simhashNearDupPairsPortable(df: DataFrame, textCol: String, idCol: String,
                                  maxHamming: Int = 3, bands: Int = 4,
                                  maxBucketSize: Int = DefaultMaxBucket): DataFrame = {
    require(Seq(1, 2, 4, 8, 16, 32, 64).contains(bands), s"bands must divide 64: $bands")
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming < bands (got maxHamming=$maxHamming, bands=$bands)")
    simhashPairsFromSigs(
      spread(df).select(col(idCol).as("id"),
        minietl.functions.vec.simhash64(md5Hashes60(split(col(textCol), " "))).as("sig")),
      maxHamming, bands, maxBucketSize)
  }

  /** ANSI SQL (DuckDB dialect) replaying [[simhashNearDupPairsPortable]]:
    * same md5-60-bit token hashes, same per-bit +1/-1 vote (ties → 0, like
    * the native loop's strict `> 0`), same chunk banding and bit_count
    * Hamming verify. Bits 60-63 are structurally 0 so the vote loop covers
    * bits 0-59 only.
    */
  def simhashPortableOracleSql(maxHamming: Int = 3, bands: Int = 4,
                               table: String = "documents", idCol: String = "doc_id",
                               textCol: String = "text",
                               maxBucketSize: Int = DefaultMaxBucket): String = {
    require(Seq(1, 2, 4, 8, 16, 32, 64).contains(bands), s"bands must divide 64: $bands")
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming < bands (got maxHamming=$maxHamming, bands=$bands)")
    val chunkBits = 64 / bands
    val mask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    s"""WITH d AS (SELECT $idCol AS id, list_transform(string_split($textCol, ' '),
       |      s -> ${minietl.functions.PortableHash.sql("s")}) AS hh FROM $table),
       |sig AS (SELECT id, CAST(list_sum(list_transform(range(0, 60), b ->
       |      CASE WHEN list_sum(list_transform(hh,
       |             x -> CASE WHEN ((x >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
       |           THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sg
       |        FROM d),
       |bnd0 AS (SELECT id, sg, u.b AS band, (sg >> (u.b * $chunkBits)) & $mask AS chunk
       |        FROM sig CROSS JOIN (SELECT unnest(range(0, $bands)) AS b) u),
       |big AS (SELECT band, chunk FROM bnd0 GROUP BY band, chunk HAVING count(*) > $maxBucketSize),
       |bnd AS (SELECT bnd0.* FROM bnd0 ANTI JOIN big USING (band, chunk)),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sg AS sa, b.sg AS sb
       |         FROM bnd a JOIN bnd b ON a.band = b.band AND a.chunk = b.chunk AND a.id < b.id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= $maxHamming ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------------- edit distance
  /** Levenshtein fuzzy-duplicate pairs — the near-dup family for SHORT
    * strings (titles, names, identifiers) where character-level edits
    * matter and shingle methods are too coarse. Emits (id_a, id_b, dist)
    * for every candidate pair with edit distance <= `maxDist`.
    *
    * Candidates are pairs that (a) agree on every `blockCols` column
    * (caller-chosen blocking, e.g. a first token or a phonetic key — an
    * explicit recall trade documented in the result, exactly like LSH
    * banding), and (b) differ in length by at most `maxDist` (a pair
    * needing k edits differs by at most k characters in length — this
    * block is lossless). The length block is the same 3-probe bucket
    * equi-join as [[ngramJaccardPairs]]: no nested loop, no pair dedup.
    * Verification uses the BANDED threshold levenshtein, O(len·maxDist)
    * per pair instead of O(len²). Null ids, texts, or block keys never
    * pair.
    *
    * Strings travel with the bucket join (they are short by contract —
    * this is NOT for document bodies; a 4 KB text would make every
    * candidate comparison O(len·maxDist) on megabyte shuffles. Fuzzy-match
    * long texts with minhash/simhash/containment instead).
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, blockCols: Seq[String] = Nil): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val width = 2 * maxDist + 1
    val base = spread(df)
      .select(col(idCol).as("id") +: col(textCol).as("txt") +:
        blockCols.map(col): _*)
      .withColumn("len", length(col("txt")).cast("long"))
      .where(col("id").isNotNull && col("txt").isNotNull)
    val bucket = floor(col("len") / width)
    val probes = base.withColumn("__bucket",
      explode(array(bucket - 1, bucket, bucket + 1)))
    val build = base.withColumn("__bucket", bucket)
      .select(col("__bucket") +: col("id").as("id_b") +: col("txt").as("txt_b") +:
        col("len").as("len_b") +: blockCols.map(c => col(c).as(s"__${c}_b")): _*)
    val blockCond = blockCols
      .map(c => col(c) === col(s"__${c}_b"))
      .foldLeft(col("id") < col("id_b") &&
        abs(col("len") - col("len_b")) <= maxDist)(_ && _)
    probes.join(build, probes("__bucket") === build("__bucket") && blockCond)
      .withColumn("dist",
        levenshtein(col("txt"), col("txt_b"), maxDist).cast("bigint"))
      .where(col("dist") >= 0) // the threshold variant returns -1 past it
      .select(col("id").as("id_a"), col("id_b"), col("dist"))
  }
}
