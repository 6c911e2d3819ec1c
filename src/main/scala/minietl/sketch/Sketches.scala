package minietl.sketch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import minietl.functions.PortableHash

/** Fixed-size cardinality / frequency sketches on the portable md5-60 hash
  * contract ([[minietl.functions.PortableHash]]) — deterministic, therefore
  * replayable bit-for-bit by any SQL engine, which is what makes them
  * oracle-verifiable (unlike `approx_count_distinct`'s HLL, whose register
  * layout is engine-private).
  *
  * Why sketches at all: at 100 TB an exact `count(distinct key)` shuffles
  * every distinct key and an exact heavy-hitter count shuffles every
  * distinct token. The sketch versions shuffle a FIXED-size summary instead
  * — [[kmvDistinct]] reduces to k longs, [[countMinSketch]] to depth×width
  * counters — so their cost is scan + map-side combine, independent of key
  * cardinality. The reference (pandas, single node) has no equivalent;
  * these are supersets in the spirit of SURVEY §2.8.
  *
  * Scale shapes:
  *  - [[kmvDistinct]]: a partition-local bottom-k-DISTINCT accumulator (a
  *    bounded TreeSet per task) runs BEFORE any exchange, so the only
  *    shuffle in the plan carries ≤ p×k longs — cost independent of key
  *    cardinality. (A naive `distinct → orderBy → limit` formulation
  *    shuffles every distinct hash to feed the distinct aggregation — the
  *    very cost the sketch exists to avoid.)
  *  - [[countMinSketch]]: one groupBy over (lane, bucket) with map-side
  *    combine; the exchange carries at most depth×width rows per partition
  *    regardless of corpus size.
  */
object Sketches {

  /** K-minimum-values distinct-count sketch over `valueCol`.
    *
    * Keeps the k smallest distinct md5-60 hashes; if the kth smallest is
    * `h_k` out of a hash space of 2^60, the values seen are estimated to be
    * `(k-1) * 2^60 / h_k` — the classic KMV/bottom-k estimator (Bar-Yossef
    * et al. 2002). With fewer than k distinct hashes the sketch IS the
    * exact answer and the estimate degrades to the kept count.
    *
    * Returns one row: (n_kept BIGINT, kth_hash BIGINT, estimate DOUBLE).
    * All arithmetic is a single IEEE multiply-divide over exactly-agreed
    * integers, so any engine reproduces the estimate bit-for-bit.
    *
    * Plan shape: the per-partition accumulator is a bounded TreeSet of the
    * k smallest DISTINCT hashes seen by that task (any member of the global
    * bottom-k is necessarily in its own partition's bottom-k, so the merge
    * is lossless); the final distinct+sort+limit then runs over ≤ p×k rows.
    * `mapPartitions` is justified here because no Catalyst operator
    * expresses "bottom-k distinct before the exchange" — `distinct` always
    * aggregates (and therefore shuffles) the full key set first.
    */
  def kmvDistinct(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val perPartition = df
      .select(PortableHash.md5Hash60(col(valueCol).cast("string")).as("h"))
      .where(col("h").isNotNull)
      .as[Long]
      .mapPartitions { it =>
        val keep = new java.util.TreeSet[java.lang.Long]()
        it.foreach { h =>
          if (keep.size < k) { keep.add(h); () }
          else if (h < keep.last) {
            // add() is false for a duplicate already kept — don't evict then
            if (keep.add(h)) { keep.pollLast(); () }
          }
        }
        scala.jdk.CollectionConverters.IteratorHasAsScala(keep.iterator())
          .asScala.map(_.longValue)
      }
    val mins = perPartition.toDF("h")
      .distinct()
      .orderBy("h")
      .limit(k)
    // 2^60 is a power of two => exactly representable as a double; the
    // (k-1)*2^60 product stays exact (k-1 needs < 53 mantissa bits).
    val space = math.pow(2, 60)
    mins
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth_hash"))
      .select(
        col("n_kept"),
        col("kth_hash"),
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1) * space) / col("kth_hash").cast("double"))
          .as("estimate"))
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) over one token column:
    * `depth` independent hash lanes × `width` buckets, each cell the count
    * of tokens hashing into it. Lane l's hash of token t is the portable
    * md5-60 of `"l:t"`, mod width.
    *
    * Returns (lane INT, bucket BIGINT, n BIGINT) — at most depth×width rows
    * however large the input.
    */
  def countMinSketch(tokens: DataFrame, tokenCol: String,
                     depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape ${depth}x$width")
    val lane = minietl.ops.Ops.freshName(tokens, "__cms_lane")
    tokens
      .where(col(tokenCol).isNotNull)
      .withColumn(lane, explode(array((0 until depth).map(lit): _*)))
      .groupBy(
        col(lane).as("lane"),
        pmod(PortableHash.md5Hash60(
          concat(col(lane).cast("string"), lit(":"), col(tokenCol))),
          lit(width.toLong)).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Heavy-hitter audit: the true top-k tokens by exact count next to their
    * count-min estimates (`cms_n >= exact_n` always; equality means no lane
    * collision). Ties in the exact top-k are broken by token ascending so
    * the cut is deterministic.
    *
    * Returns (token, exact_n BIGINT, cms_n BIGINT) — k rows.
    */
  def countMinTopK(tokens: DataFrame, tokenCol: String,
                   depth: Int, width: Int, k: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape ${depth}x$width")
    val toks = tokens.where(col(tokenCol).isNotNull)
    // ONE pass over the token stream: the exact per-token counts feed BOTH
    // the top-k and the sketch. A sketch cell is the number of token
    // INSTANCES hashing into it, which equals the sum of the per-token
    // exact counts of the tokens hashing into it — so deriving the sketch
    // from `counts` is cell-for-cell identical to countMinSketch over the
    // raw stream, while scanning/tokenizing the input once instead of
    // twice and evaluating the depth md5 hashes per DISTINCT token instead
    // of per occurrence (guide §2.3 "aggregate before you shuffle";
    // r17-opt: 2.3 s -> measured below). countMinSketch itself is
    // unchanged — streaming callers need the per-row shape (a stream
    // cannot re-aggregate a finished count frame).
    val counts = minietl.pipeline.RunCaches.checkpoint(toks
      .groupBy(col(tokenCol).as("token"))
      .agg(count(lit(1)).as("exact_n")))
    val sketch = counts
      .withColumn("lane", explode(array((0 until depth).map(lit): _*)))
      .groupBy(
        col("lane"),
        pmod(PortableHash.md5Hash60(
          concat(col("lane").cast("string"), lit(":"), col("token"))),
          lit(width.toLong)).as("bucket"))
      .agg(sum(col("exact_n")).as("n"))
    val top = counts
      .orderBy(col("exact_n").desc, col("token").asc)
      .limit(k)
    val probes = top
      .withColumn("lane", explode(array((0 until depth).map(lit): _*)))
      .withColumn("bucket",
        pmod(PortableHash.md5Hash60(
          concat(col("lane").cast("string"), lit(":"), col("token"))),
          lit(width.toLong)))
    probes
      .join(sketch, Seq("lane", "bucket"))
      .groupBy("token", "exact_n")
      .agg(min(col("n")).as("cms_n"))
  }

  /** Mergeable log-histogram QUANTILE sketch — the third leg of the sketch
    * family (KMV = distinct, count-min = frequency, this = quantiles).
    *
    * Values (must be >= 0) are scaled to integers `x = floor(v * scale)`
    * and bucketed by position of the top bit plus the next three bits:
    * `x < 8 → bucket x`, else `bucket = bitlen(x)*8 + ((x >> (bitlen(x)-4)) & 7)`
    * — at most 8 buckets per octave (~368 buckets for the full long range),
    * giving a guaranteed relative bucket width of 2^-3 = 12.5%. The
    * quantile-q estimate is the LOWER BOUND of the first bucket whose
    * cumulative count reaches `rank = ceil(q*n)`, with rank computed in
    * exact integer arithmetic from the rational q = num/den
    * (`(num*n + den - 1) DIV den`) so no float rounding can flip a
    * boundary.
    *
    * Everything is integer (bit length via `length(bin(x))`, shifts, window
    * cumsum), so any SQL engine replays the estimate bit-for-bit — unlike
    * `approx_percentile`'s t-digest, whose merge order is engine-private.
    *
    * Scale shape (100 TB): one groupBy over (keys, bucket) with map-side
    * combine — the exchange carries at most ~368 rows per key per
    * partition regardless of row count; the quantile-selection window then
    * runs over sketch-sized data.
    *
    * Returns one row per key per quantile:
    * (keys..., q_num INT, q_den INT, est DOUBLE).
    */
  def logHistQuantiles(df: DataFrame, keys: Seq[String], valueCol: String,
                       quantiles: Seq[(Int, Int)],
                       scale: Long = 1000L): DataFrame = {
    val k = keys.map(col)
    val counts = df
      .select(k :+ expr(s"CAST(floor($valueCol * $scale) AS BIGINT)").as("x"): _*)
      // the values >= 0 contract is ENFORCED, not just documented: a
      // negative value would produce a negative bucket that flows through
      // the `bucket < 8` arms into a silently-wrong estimate (and the
      // oracle replays the same arithmetic, so the hash gate cannot catch
      // it). The guard is one scan-side comparison per row — no extra job.
      .withColumn("x", expr(
        "CASE WHEN x < 0 THEN CAST(raise_error(concat(" +
          s"'logHistQuantiles requires $valueCol >= 0, got scaled value ', x)) " +
          "AS BIGINT) ELSE x END"))
      .withColumn("bucket", logHistBucket("x"))
      .groupBy(k :+ col("bucket"): _*).agg(count(lit(1)).as("cnt"))
    quantilesFromBucketCounts(counts, keys, quantiles, scale)
  }

  /** The bucket id of an already-scaled non-negative BIGINT column (see
    * [[logHistQuantiles]] for the contract). Public so a STREAMING
    * aggregation can maintain the same (bucket, cnt) state incrementally —
    * the sketch is mergeable by construction, and this is the merge key.
    */
  def logHistBucket(xCol: String): org.apache.spark.sql.Column = expr(
    s"CASE WHEN $xCol < 8 THEN $xCol ELSE length(bin($xCol)) * 8 + " +
      s"(shiftright($xCol, length(bin($xCol)) - 4) & 7) END")

  /** Quantile selection over an already-aggregated (keys..., bucket, cnt)
    * sketch frame — the second phase of [[logHistQuantiles]], split out so
    * bucket counts maintained elsewhere (a streaming state store, a union
    * of per-shard sketches) resolve through the identical arithmetic. The
    * input is sketch-sized, so the windows here are cheap by contract.
    */
  def quantilesFromBucketCounts(counts: DataFrame, keys: Seq[String],
                                quantiles: Seq[(Int, Int)],
                                scale: Long): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    quantiles.foreach { case (n, d) =>
      require(n >= 0 && d > 0 && n <= d, s"quantile $n/$d out of [0, 1]") }
    import org.apache.spark.sql.expressions.Window
    val k = keys.map(col)
    val cum = counts
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy(k: _*).orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum("cnt").over(Window.partitionBy(k: _*)))
    val qlit = array(quantiles.map { case (n, d) =>
      struct(lit(n).as("q_num"), lit(d).as("q_den")) }: _*)
    cum
      .withColumn("q", explode(qlit))
      .select(k ++ Seq(col("bucket"), col("cum"), col("total"),
        col("q.q_num").as("q_num"), col("q.q_den").as("q_den")): _*)
      .where(col("cum") >=
        expr("(CAST(q_num AS BIGINT) * total + q_den - 1) DIV q_den"))
      .groupBy(k ++ Seq(col("q_num"), col("q_den")): _*)
      .agg(min("bucket").as("bucket"))
      .withColumn("est", expr(
        "CAST(CASE WHEN bucket < 8 THEN bucket " +
          "ELSE shiftleft(8 + bucket % 8, CAST(bucket DIV 8 AS INT) - 4) END " +
          s"AS DOUBLE) / CAST($scale AS DOUBLE)"))
      .drop("bucket")
  }

  /** DuckDB replay of [[logHistQuantiles]] — same integer bucket contract
    * (`length(bin(x))` for the bit length, `>>`/`&`/`<<` for the bit work),
    * same exact-rational rank, rendered as one SQL statement so the sketch
    * is verifiable end-to-end by an independent engine.
    */
  def logHistQuantilesOracleSql(table: String, keys: Seq[String], valueCol: String,
                                quantiles: Seq[(Int, Int)],
                                scale: Long = 1000L,
                                orderBy: Option[String] = None): String = {
    val ks = keys.mkString(", ")
    val kcomma = if (keys.isEmpty) "" else s"$ks, "
    val part = if (keys.isEmpty) "" else s"PARTITION BY $ks "
    val vals = quantiles.map { case (n, d) => s"($n, $d)" }.mkString(", ")
    s"""WITH xs AS (
       |  SELECT ${kcomma}CAST(floor($valueCol * $scale) AS BIGINT) AS x FROM $table),
       |b AS (
       |  SELECT ${kcomma}CASE WHEN x < 8 THEN x
       |    ELSE length(bin(x)) * 8 + ((x >> (length(bin(x)) - 4)) & 7) END AS bucket
       |  FROM xs),
       |c AS (SELECT ${kcomma}bucket, count(*) AS cnt FROM b GROUP BY ${kcomma}bucket),
       |cc AS (
       |  SELECT ${kcomma}bucket,
       |    sum(cnt) OVER (${part}ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum(cnt) OVER (${part.trim}) AS total
       |  FROM c),
       |q(q_num, q_den) AS (VALUES $vals),
       |sel AS (
       |  SELECT ${kcomma}q_num, q_den, min(bucket) AS bucket
       |  FROM cc CROSS JOIN q
       |  WHERE cum >= (CAST(q_num AS BIGINT) * total + q_den - 1) // q_den
       |  GROUP BY ${kcomma}q_num, q_den)
       |SELECT ${kcomma}q_num, q_den,
       |  CAST(CASE WHEN bucket < 8 THEN bucket
       |    ELSE (8 + bucket % 8) << (CAST(bucket // 8 AS INT) - 4) END AS DOUBLE)
       |    / CAST($scale AS DOUBLE) AS est
       |FROM sel${orderBy.map(o => s" ORDER BY $o").getOrElse("")}""".stripMargin
  }
}
