package minietl.events

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over an immutable event log — funnel completion,
  * cohort retention, and calendar resampling with forward-fill. These are
  * supersets of the reference's capabilities (SURVEY §2.8): mini-etl's
  * transformer set has no ordered-sequence operators at all
  * (reference mini_etl/components/transformers.py covers only row-local and
  * group-agg transforms).
  *
  * Scale notes (100 TB event logs):
  *  - [[funnel]] is ONE shuffle: every stage is a prefix-scan window over the
  *    same (entity, ts, tie) sort, and the final per-entity aggregate reuses
  *    the window's hash partitioning — no joins, no second exchange, no
  *    per-entity collect.
  *  - [[cohortRetention]] shuffles twice (entity window, then the cohort-cell
  *    aggregate whose cardinality is weeks², i.e. tiny).
  *  - [[resampleDaily]] is the lag-gap-fill formulation: two exchanges (daily
  *    pre-aggregate, entity window) and row growth bounded by the emitted
  *    calendar spine — it never materializes a dense spine × join like the
  *    naive generate-series-then-outer-join plan.
  */
object EventAnalytics {

  /** Ordered funnel: for each entity, the earliest `stages(0)` event, then the
    * earliest `stages(1)` event at-or-after it, and so on. Emits one row per
    * entity with a `t_<stage>` timestamp per stage (null once the funnel is
    * abandoned) and `depth` = number of stages reached.
    *
    * Events with identical timestamps are ordered by `tieCol` (must be
    * unique) so the stage attribution is deterministic: a same-instant
    * predecessor event only counts if it sorts before the successor.
    */
  def funnel(df: DataFrame, entityCol: String, typeCol: String, tsCol: String,
             tieCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.distinct.size == stages.size, s"duplicate funnel stages: $stages")
    val w = Window.partitionBy(entityCol).orderBy(col(tsCol).asc, col(tieCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val candNames = stages.indices.map(i =>
      minietl.ops.Ops.freshName(df, s"__cand_$i"))
    var cur = df
    var prevReach: Option[Column] = None
    stages.zipWithIndex.foreach { case (stage, i) =>
      val cand = prevReach match {
        case None    => when(col(typeCol) === stage, col(tsCol))
        case Some(p) => when(col(typeCol) === stage && p <= col(tsCol), col(tsCol))
      }
      cur = cur.withColumn(candNames(i), cand)
      // prefix min INCLUDING the current row: "stage k-1 already reached by
      // the time this row fires" — evaluated inside the same sorted pass
      prevReach = Some(min(col(candNames(i))).over(w))
    }
    val stageMins = stages.zipWithIndex.map { case (stage, i) =>
      min(col(candNames(i))).as(s"t_$stage")
    }
    val agged = cur.groupBy(col(entityCol)).agg(stageMins.head, stageMins.tail: _*)
    val depth = stages.map(s => when(col(s"t_$s").isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    agged.withColumn("depth", depth.cast("bigint"))
  }

  /** Weekly cohort retention: cohort = ISO week (Monday) of the entity's first
    * activity day; a (cohort_week, week_offset) cell counts the distinct
    * entities active `week_offset` weeks after their first day. Offsets are
    * whole-day integer division — no float anywhere.
    *
    * Offset semantics: `week_offset` counts ELAPSED 7-day periods since the
    * entity's own first-activity day (datediff DIV 7), not calendar-week
    * differences — two entities in one cohort cell can cross a calendar
    * boundary at different offsets. This is the per-entity-anchored
    * convention; for the calendar-anchored one, replace the offset with
    * `datediff(date_trunc(week, day), cohort_week) DIV 7`.
    */
  def cohortRetention(df: DataFrame, entityCol: String, tsCol: String): DataFrame = {
    val w = Window.partitionBy(entityCol)
    df.select(col(entityCol), to_date(col(tsCol)).as("__day"))
      .withColumn("__first", min(col("__day")).over(w))
      .select(col(entityCol),
        date_trunc("week", col("__first")).cast("date").as("cohort_week"),
        expr("CAST(datediff(__day, __first) DIV 7 AS BIGINT)").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col(entityCol)).as("n_active"))
  }

  /** Per-group k-sigma outlier flags with an EXACT keep decision: the classic
    * |x - mean| > k·stddev test, algebraically cleared of division and
    * square root —
    *
    *   (n·x - S)² > k² · (n·Q - S²)        with S = Σx, Q = Σx²
    *
    * — and evaluated in integer cents (BIGINT) and bounded-width DECIMALs,
    * so the flag replays bit-for-bit in any engine: no float enters the
    * decision (same discipline as the Gopher rules and quality score).
    *
    * Plan shape: ONE shuffle (the group window); everything else is
    * scan-side arithmetic. n=1 groups are never outliers (0 > 0).
    *
    * Width budget (documented, asserted nowhere hot): works while
    * |n·x_cents - S_cents| < 2⁶³, n < 10¹⁶, |S_cents| < 10¹⁷ and the
    * variance numerator fits 36 digits — true for any group under ~10¹¹
    * rows of ≤ $10⁵ values, i.e. comfortably past 100 TB per group.
    */
  def sigmaOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                    k: Int = 3): DataFrame = {
    require(groupCols.nonEmpty, "sigmaOutliers needs at least one group column")
    require(k > 0 && k <= 9, s"k must be in [1, 9], got $k")
    minietl.ops.Ops.requireAbsent(df, "sigmaOutliers", "group_n", "is_outlier")
    val w = Window.partitionBy(groupCols.map(col): _*)
    // try_cast: under ANSI a NaN/±Inf/overflow value would fail the job
    // mid-scan; here it degrades to a null cent value, which the count/sum
    // windows skip and the coalesce reports as not-an-outlier
    val xcExpr = expr(s"try_cast(round(`$valueCol` * 100, 0) AS BIGINT)")
    val d19 = "decimal(19,0)"
    // collision-proof temp names (an input column named __xc etc. would
    // otherwise be silently clobbered)
    val Seq(xc, n, s_, q, dev, dev2, varnum, thresh) =
      Seq("__xc", "__n", "__s", "__q", "__dev", "__dev2", "__varnum", "__thresh")
        .map(minietl.ops.Ops.freshName(df, _))
    val out = df
      .withColumn(xc, xcExpr)
      .withColumn(n, count(col(xc)).over(w))
      .withColumn(s_, sum(col(xc)).over(w))
      .withColumn(q, sum(col(xc) * col(xc)).over(w))
      // dev = n·x - S (BIGINT, exact); dev² via (19,0)×(19,0) → 38 digits
      .withColumn(dev, col(n) * col(xc) - col(s_))
      .withColumn(dev2, col(dev).cast(d19) * col(dev).cast(d19))
      // variance numerator n·Q - S² at width 36 (so ×k², width 2, stays
      // inside every engine's 38-digit product-width cap)
      .withColumn(varnum,
        col(n).cast("decimal(16,0)") * col(q).cast(d19) -
          col(s_).cast("decimal(17,0)") * col(s_).cast("decimal(18,0)"))
      .withColumn(thresh, col(varnum) * lit(k * k).cast("decimal(2,0)"))
      .withColumn("is_outlier", coalesce(col(dev2) > col(thresh), lit(false)))
    out.drop(xc, s_, q, dev, dev2, varnum, thresh)
      .withColumnRenamed(n, "group_n")
  }

  /** Per-group MAD (median-absolute-deviation) outlier flags — the robust
    * companion to [[sigmaOutliers]]: |x - median| > k·MAD is immune to the
    * outliers themselves inflating the yardstick, which is exactly what
    * heavy-tailed metrics do to a k-sigma test.
    *
    * Exactness discipline: values are cents (BIGINT); the median of an
    * integer set is either an integer or an exact .5, so 2·median is an
    * exact integer under BOTH interpolation phrasings (`l·(1-d)+h·d` vs
    * `l+d·(h-l)` collapse at d=0.5 while values < 2⁵²). The frame carries
    * `median_x2_cents` = 2·median and `mad_x4_cents` = 4·MAD as BIGINTs
    * and decides with the all-integer comparison
    *
    *   2·|2x - 2·median|  >  k·(4·MAD)
    *
    * — no float touches the flag, so it replays bit-for-bit cross-engine.
    *
    * Plan shape: two group aggregations (the second depends on the first's
    * medians) with group-cardinality frames broadcast back; the data is
    * scanned, never shuffled. Exact `percentile` holds per-group state
    * O(distinct values); beyond ~10⁹ distinct cents per group switch to
    * `approx_percentile` (the flag then inherits its rank error).
    *
    * Standard MAD caveat: a group where over half the values are identical
    * has MAD = 0 and every other value flags — that is the statistic, not
    * a bug. Null values never flag. n=1 groups never flag (dev = 0).
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Int = 3): DataFrame = {
    require(groupCols.nonEmpty, "madOutliers needs at least one group column")
    require(k > 0 && k <= 9, s"k must be in [1, 9], got $k")
    minietl.ops.Ops.requireAbsent(df, "madOutliers",
      "median_x2_cents", "mad_x4_cents", "group_n", "is_outlier")
    val Seq(xc, dev2) =
      Seq("__xc", "__dev2").map(minietl.ops.Ops.freshName(df, _))
    val base = df.withColumn(xc,
      expr(s"try_cast(round(`$valueCol` * 100, 0) AS BIGINT)"))
    val med = base.groupBy(groupCols.map(col): _*)
      .agg((lit(2.0) * expr(s"percentile(`$xc`, 0.5)")).cast("bigint")
          .as("median_x2_cents"),
        count(col(xc)).as("group_n"))
    val withMed = base.join(broadcast(med), groupCols, "left")
      .withColumn(dev2, abs(lit(2) * col(xc) - col("median_x2_cents")))
    val mad = withMed.groupBy(groupCols.map(col): _*)
      .agg((lit(2.0) * expr(s"percentile(`$dev2`, 0.5)")).cast("bigint")
        .as("mad_x4_cents"))
    withMed.join(broadcast(mad), groupCols, "left")
      .withColumn("is_outlier",
        coalesce(lit(2) * col(dev2) > lit(k) * col("mad_x4_cents"),
          lit(false)))
      .drop(xc, dev2)
  }

  /** [[sigmaOutliers]] as a cleaning filter: the rows within k sigma of
    * their group mean, without the helper columns (the `sigma_outlier_filter`
    * stage and [[minietl.pipeline.PipelineBuilder.sigmaOutlierFilter]]).
    */
  def sigmaOutlierFilter(df: DataFrame, groupCols: Seq[String], valueCol: String,
                         k: Int = 3): DataFrame =
    sigmaOutliers(df, groupCols, valueCol, k).where(!col("is_outlier"))
      .drop("group_n", "is_outlier")

  /** [[madOutliers]] as a cleaning filter: the rows within k MADs of their
    * group median, without the helper columns (the `mad_outlier_filter`
    * stage and [[minietl.pipeline.PipelineBuilder.madOutlierFilter]]).
    */
  def madOutlierFilter(df: DataFrame, groupCols: Seq[String], valueCol: String,
                       k: Int = 3): DataFrame =
    madOutliers(df, groupCols, valueCol, k).where(!col("is_outlier"))
      .drop("group_n", "median_x2_cents", "mad_x4_cents", "is_outlier")

  /** Day-over-day change per group (pandas `pct_change` at day grain, made
    * replay-exact): daily totals in integer cents, the previous OBSERVED
    * day's total, the exact cent delta, and the growth ratio as floored
    * basis points (cur·10⁴/prev — the only division, identical
    * correctly-rounded IEEE in every engine since both operands are exact
    * integers). `ratio_bp` is null on each group's first day and whenever
    * prev <= 0 (a sign-crossing ratio is meaningless). The lag steps over
    * observed days; run [[resampleDaily]] first when calendar-adjacent
    * comparison across gap days is wanted.
    *
    * Shape: one partial+final aggregation to day grain, then a lag window
    * over the (small) per-group day series — the window input is already
    * group×days, not raw events.
    */
  def periodOverPeriod(df: DataFrame, groupCols: Seq[String], tsCol: String,
                       valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "periodOverPeriod needs at least one group column")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("day"))
    df.select(groupCols.map(col) :+ to_date(col(tsCol)).as("day") :+
        expr(s"try_cast(round(`$valueCol` * 100, 0) AS BIGINT)").as("__xc"): _*)
      .groupBy(groupCols.map(col) :+ col("day"): _*)
      .agg(sum(col("__xc")).as("value_cents"))
      .withColumn("prev_cents", lag(col("value_cents"), 1).over(w))
      .withColumn("delta_cents", col("value_cents") - col("prev_cents"))
      .withColumn("ratio_bp",
        when(col("prev_cents") > 0,
          floor(col("value_cents") * lit(10000L) / col("prev_cents"))
            .cast("bigint")))
  }

  /** Time-weighted average of `valueCol` per entity: each observation holds
    * its value until the next one, so the mean weights by holding duration
    * (the standard TWAP), computed on EXACT integer accumulators —
    * microsecond durations × cent values multiplied and summed as
    * bounded-width decimals (cast BEFORE the multiply: a $10⁵ value held a
    * month already overflows the int64 product); only the final ratio is a
    * double. The last observation per entity has no successor and
    * contributes no interval, so a single-observation entity produces NO
    * output row; an entity whose retained observations all share one
    * timestamp has zero total duration and reports a null twap (not NaN).
    *
    * ONE shuffle: the lead window and the per-entity aggregate share the
    * entity hash partitioning.
    */
  def timeWeightedAvg(df: DataFrame, entityCol: String, tsCol: String,
                      valueCol: String, tieCol: String): DataFrame = {
    val cents = minietl.ops.Ops.freshName(df, "__cents")
    val dur = minietl.ops.Ops.freshName(df, "__dur")
    val w = Window.partitionBy(entityCol).orderBy(col(tsCol).asc, col(tieCol).asc)
    df.select(col(entityCol), col(tsCol), col(tieCol),
        expr(s"try_cast(round(`$valueCol` * 100, 0) AS BIGINT)").as(cents))
      .withColumn(dur,
        unix_micros(lead(col(tsCol), 1).over(w)) - unix_micros(col(tsCol)))
      .where(col(dur).isNotNull && col(cents).isNotNull)
      .groupBy(col(entityCol))
      .agg(
        // width budget: cents is ANY int64 (19 digits) and dur up to 10^16 µs
        // (~317 years), so the (19,0)×(16,0) product is an exact (36,0) —
        // no per-observation magnitude cap, unlike a narrower cast which
        // would null the product under non-ANSI while dur still reached the
        // denominator, silently biasing the TWAP downward. Only a per-entity
        // SUM beyond 38 digits (≥10³⁸ cent·µs) could overflow the total.
        sum(col(cents).cast("decimal(19,0)") * col(dur).cast("decimal(16,0)"))
          .cast("decimal(38,0)").as("__num"),
        sum(col(dur).cast("decimal(28,0)")).cast("decimal(38,0)").as("__den"),
        count(lit(1)).as("n_intervals"))
      .select(col(entityCol),
        when(col("__den") === 0, lit(null)).otherwise(
          round(col("__num").cast("double") / col("__den").cast("double") / 100, 4))
          .as("twap"),
        col("__den").cast("bigint").as("total_dur_us"),
        col("n_intervals"))
  }

  /** Daily resample with forward-fill: per entity, one row per calendar day
    * from its first to its last active day; `day_total` is the day's exact
    * DECIMAL sum of `valueCol` when observed, else the previous observed
    * day's total (classic ffill). `observed` marks real vs filled rows.
    *
    * Gap-fill rides the lag window: each observed day emits itself plus the
    * gap days since the previous observation (carrying that previous total),
    * so no dense spine is ever joined against the fact table.
    */
  def resampleDaily(df: DataFrame, entityCol: String, tsCol: String,
                    valueCol: String): DataFrame = {
    val daily = df
      .groupBy(col(entityCol), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valueCol).cast("decimal(18,2)")).cast("decimal(38,2)").as("day_total"))
    // daily's schema is (entity, day, day_total), so temp names below can
    // only collide with those three — freshName guards regardless
    val prevDay = minietl.ops.Ops.freshName(daily, "__prev_day")
    val prevTotal = minietl.ops.Ops.freshName(daily, "__prev_total")
    val d = minietl.ops.Ops.freshName(daily, "__d")
    val w = Window.partitionBy(entityCol).orderBy(col("day").asc)
    daily
      .withColumn(prevDay, lag(col("day"), 1).over(w))
      .withColumn(prevTotal, lag(col("day_total"), 1).over(w))
      .select(col(entityCol), col("day"), col("day_total"), col(prevTotal),
        explode(sequence(coalesce(date_add(col(prevDay), 1), col("day")),
          col("day"))).as(d))
      .select(col(entityCol), col(d).as("day"),
        (col(d) === col("day")).as("observed"),
        when(col(d) === col("day"), col("day_total"))
          .otherwise(col(prevTotal)).as("day_total"))
  }

  /** First-order Markov transition matrix of an event sequence: for each
    * entity the events are ordered by (ts, tie) and every consecutive pair
    * contributes one (from_type, to_type) transition. Output is one row per
    * observed transition with its count and the row-normalized probability
    * `p = n / Σ n over from_type` — an exact IEEE division of two BIGINTs,
    * so any engine reproduces it bit-for-bit. The last event per entity has
    * no successor and contributes nothing.
    *
    * `tieCol` must be unique within (entity, ts) or successor attribution
    * is nondeterministic — same contract as [[funnel]].
    *
    * ONE data shuffle: the lead window partitions by entity; the transition
    * count is a groupBy over the (tiny) type×type grid with map-side
    * combine, and the normalizing sum is a window over that grid, not over
    * the data.
    */
  def markovTransitions(df: DataFrame, entityCol: String, typeCol: String,
                        tsCol: String, tieCol: String): DataFrame = {
    minietl.ops.Ops.requireAbsent(df, "markovTransitions",
      "from_type", "to_type", "n", "p")
    val nxt = minietl.ops.Ops.freshName(df, "__next_type")
    val w = Window.partitionBy(entityCol).orderBy(col(tsCol).asc, col(tieCol).asc)
    df.withColumn(nxt, lead(col(typeCol), 1).over(w))
      .where(col(nxt).isNotNull)
      .groupBy(col(typeCol).as("from_type"), col(nxt).as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("from_type")).cast("double"))
  }
}
