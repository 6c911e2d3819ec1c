package minietl.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** The reference's transformer inventory re-expressed as pure
  * `DataFrame => DataFrame` stages (SURVEY.md §2.2). Each factory returns a
  * lazy transformation; composition with `Dataset.transform` builds one
  * Catalyst plan, so Spark fuses the whole chain into whole-stage codegen —
  * there is no per-operator materialization, unlike the reference's
  * chunk-at-a-time generators (reference: mini_etl/core/pipeline.py:123-138).
  */
object Ops {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  type Op = DataFrame => DataFrame

  // ---------------------------------------------------------------- filter
  /** FilterTransformer (reference: components/transformers.py:19-51). */
  def filter(condition: Column): Op = _.filter(condition)

  /** String-condition filter — the config surface's `filter` type. The
    * condition is in the reference's pd.eval dialect; translated then handed
    * to Catalyst, so the predicate participates in pushdown.
    */
  def filterExpr(condition: String): Op =
    _.filter(expr(ExpressionDialect.translate(condition)))

  // ---------------------------------------------------------------- rename
  /** RenameTransformer (transformers.py:54-88): missing names are skipped
    * silently, which `withColumnsRenamed` already does.
    */
  def rename(columns: Map[String, String]): Op = df => df.withColumnsRenamed(columns)

  // ---------------------------------------------------------------- project
  /** SelectColumnsTransformer (transformers.py:91-128): keep listed columns in
    * order; when `ignoreMissing`, absent names are dropped from the selection
    * (all-missing yields an empty-schema frame); otherwise error.
    */
  def select(columns: Seq[String], ignoreMissing: Boolean = true): Op = df => {
    val present = df.columns.toSet
    val (have, missing) = columns.partition(present.contains)
    if (missing.nonEmpty && !ignoreMissing)
      throw new IllegalArgumentException(s"columns not found: ${missing.mkString(", ")}")
    df.select(have.map(col): _*)
  }

  /** DropColumnsTransformer (transformers.py:131-160). */
  def drop(columns: Seq[String], ignoreMissing: Boolean = true): Op = df => {
    val present = df.columns.toSet
    val missing = columns.filterNot(present.contains)
    if (missing.nonEmpty && !ignoreMissing)
      throw new IllegalArgumentException(s"columns not found: ${missing.mkString(", ")}")
    df.drop(columns: _*)
  }

  // ---------------------------------------------------------------- cast
  /** Type-alias table shared by cast + schema coercion (SURVEY §1.2;
    * reference transformers.py:180-189, core/schema.py:24-35).
    */
  def sparkTypeName(alias: String): String = alias.trim.toLowerCase match {
    case "int" | "int64" | "integer" | "long" | "bigint" => "bigint"
    case "int32" => "int"
    case "int16" | "short" => "smallint"
    case "int8" | "byte" => "tinyint"
    case "float" | "float64" | "double" => "double"
    case "float32" => "float"
    case "str" | "string" | "object" | "text" => "string"
    case "bool" | "boolean" => "boolean"
    case "datetime" | "date" | "datetime64[ns]" | "timestamp" => "timestamp"
    case "decimal" => "decimal(38, 9)"
    case other => other // free-form Spark DDL type string (schema.py:19)
  }

  /** CastTypeTransformer (transformers.py:163-225): pandas `errors="coerce"`
    * semantics — an unparseable value becomes null, never an error. Spark 4
    * runs in ANSI mode by default, where a plain `cast` THROWS on bad input,
    * so every cast here is a `try_cast`.
    */
  def castCoerce(columns: Map[String, String]): Op = df => {
    columns.foldLeft(df) { case (d, (c, alias)) =>
      d.withColumn(c, col(c).try_cast(sparkTypeName(alias)))
    }
  }

  // ---------------------------------------------------------------- fillna
  /** FillNATransformer scalar/per-column forms (transformers.py:228-285). */
  def fillna(value: Any, columns: Seq[String] = Nil): Op = df => {
    val targets = if (columns.nonEmpty) columns else df.columns.toSeq
    value match {
      case v: Long    => df.na.fill(v, targets)
      case v: Int     => df.na.fill(v.toLong, targets)
      case v: Double  => df.na.fill(v, targets)
      case v: String  => df.na.fill(v, targets)
      case v: Boolean => df.na.fill(v, targets)
      case other => throw new IllegalArgumentException(s"unsupported fill value: $other")
    }
  }

  def fillnaMap(values: Map[String, Any]): Op = df => df.na.fill(values)

  /** Directional fill (`ffill`/`bfill`, transformers.py:270-283). pandas fills
    * in physical row order; Spark has no stable global row order, so the
    * caller must supply an explicit ordering column (SURVEY §7.6) and may
    * supply partition keys so the window scales (an un-partitioned window is a
    * single-task sort at 100 TB).
    */
  private def directionalFillWindow(op: String, orderBy: String,
                                    partitionBy: Seq[String]) = {
    if (partitionBy.isEmpty)
      log.warn(s"$op with no partitionBy: the fill runs as ONE unpartitioned " +
        "window (a single-task global sort) — pass partition keys at scale")
    val base = if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.map(col): _*)
               else Window.partitionBy()
    base.orderBy(col(orderBy))
  }

  def ffill(columns: Seq[String], orderBy: String, partitionBy: Seq[String] = Nil): Op = df => {
    val w = directionalFillWindow("ffill", orderBy, partitionBy)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    columns.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  def bfill(columns: Seq[String], orderBy: String, partitionBy: Seq[String] = Nil): Op = df => {
    val w = directionalFillWindow("bfill", orderBy, partitionBy)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    columns.foldLeft(df)((d, c) => d.withColumn(c, first(col(c), ignoreNulls = true).over(w)))
  }

  // ---------------------------------------------------------------- expression
  /** ExpressionTransformer (transformers.py:288-323): `"name = rhs"` derives
    * (or overwrites) a column; `filterMode` (or a bare boolean expression)
    * filters rows. Dialect translated by [[ExpressionDialect]].
    */
  def expression(s: String, filterMode: Boolean = false): Op = df => {
    if (filterMode) df.filter(expr(ExpressionDialect.translate(s)))
    else ExpressionDialect.splitAssignment(s) match {
      case Some((name, rhsSql)) => df.withColumn(name, expr(rhsSql))
      case None => df.filter(expr(ExpressionDialect.translate(s)))
    }
  }

  // ---------------------------------------------------------------- aggregate
  /** pandas agg-fn name -> Spark aggregate Column. */
  def aggFn(fn: String, c: String): Column = fn.toLowerCase match {
    case "sum" => sum(col(c))
    case "mean" | "avg" => avg(col(c))
    case "count" => count(col(c))
    case "size" => count(lit(1))
    case "min" => min(col(c))
    case "max" => max(col(c))
    case "std" => stddev(col(c))
    case "var" => variance(col(c))
    case "median" => median(col(c))
    case "first" => first(col(c), ignoreNulls = true)
    case "last" => last(col(c), ignoreNulls = true)
    case "nunique" => countDistinct(col(c))
    case "approx_nunique" => approx_count_distinct(col(c))
    case "geomean" => minietl.functions.Aggregators.geoMean(col(c))
    case other => throw new IllegalArgumentException(s"unknown agg function: $other")
  }

  /** GroupAggTransformer + StatefulAggTransformer collapsed into one operator
    * (transformers.py:326-378, 381-519). The reference hand-rolls partial →
    * final aggregation across chunks; Spark's HashAggregateExec does exactly
    * that (map-side partial agg, shuffle on the group keys, final merge), so
    * a plain groupBy covers both, distributed. Multi-fn output columns keep
    * the reference's `col_fn` naming (transformers.py:371-377).
    */
  def groupAgg(groupBy: Seq[String], agg: Map[String, Seq[String]]): Op = df => {
    val missing = groupBy.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"group columns not found: ${missing.mkString(", ")}")
    val aggCols = for { (c, fns) <- agg.toSeq.sortBy(_._1); fn <- fns }
      yield aggFn(fn, c).as(s"${c}_${fn.toLowerCase}")
    require(aggCols.nonEmpty, "empty aggregation spec")
    if (groupBy.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
    else df.groupBy(groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  // ---------------------------------------------------------------- dedupe
  sealed trait Keep
  object Keep {
    /** keep one arbitrary row per key — Spark's native dropDuplicates;
      * cheapest (partial agg before shuffle). */
    case object Any extends Keep
    /** keep the first/last row per key under an explicit ordering. */
    case class First(orderBy: Seq[String]) extends Keep
    case class Last(orderBy: Seq[String]) extends Keep
    /** pandas keep=False: drop every row that has a duplicate. */
    case object None_ extends Keep
  }

  /** A helper-column name not colliding with any column of `df`. */
  private[minietl] def freshName(df: DataFrame, base: String): String =
    Iterator.iterate(base)(_ + "_").dropWhile(df.columns.contains).next()

  /** Guard for operators with FIXED output column names (mode_value,
    * group_n, ...): an input frame already carrying one would end up with a
    * duplicate/ambiguous column or a silently clobbered value, so fail fast
    * with the operator's name instead. (Helper columns use [[freshName]];
    * this is for the documented outputs, whose names are the API.)
    */
  private[minietl] def requireAbsent(df: DataFrame, op: String, names: String*): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$op emits fixed output column(s) ${clash.mkString(", ")} which already " +
        s"exist on the input — rename them before applying $op")
  }

  /** DeduplicateTransformer (transformers.py:522-547). `First`/`Last` need an
    * explicit ordering (pandas relies on physical row order, which Spark does
    * not have — SURVEY §7.6); both run as one shuffle on the key columns.
    */
  def dedupe(subset: Seq[String] = Nil, keep: Keep = Keep.Any): Op = df => {
    val keys = if (subset.nonEmpty) subset else df.columns.toSeq
    keep match {
      case Keep.Any => if (subset.nonEmpty) df.dropDuplicates(subset) else df.distinct()
      case Keep.First(ord) =>
        val w = Window.partitionBy(keys.map(col): _*).orderBy(ord.map(col(_).asc): _*)
        val rn = freshName(df, "__rn")
        df.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
      case Keep.Last(ord) =>
        val w = Window.partitionBy(keys.map(col): _*).orderBy(ord.map(col(_).desc): _*)
        val rn = freshName(df, "__rn")
        df.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
      case Keep.None_ =>
        val w = Window.partitionBy(keys.map(col): _*)
        val cnt = freshName(df, "__cnt")
        df.withColumn(cnt, count(lit(1)).over(w)).filter(col(cnt) === 1).drop(cnt)
    }
  }

  /** Top-k rows per group under an explicit ordering — the grouped LIMIT the
    * reference lacks entirely (§2.8). Plans as a window rank + filter;
    * Spark's WindowGroupLimit pushes the limit below the sort, so each
    * partition keeps only k candidates per key instead of fully sorting.
    */
  def topKPerGroup(keys: Seq[String], orderBy: Seq[(String, Boolean)], k: Int): Op = df => {
    require(orderBy.nonEmpty, "topKPerGroup needs an ordering")
    val ord = orderBy.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val rn = freshName(df, "__rn")
    df.withColumn(rn, row_number().over(w)).filter(col(rn) <= k).drop(rn)
  }

  // ---------------------------------------------------------------- sort
  /** SortTransformer (transformers.py:550-577). Spark's orderBy is a global
    * range-partitioned sort — strictly stronger than the reference's
    * chunk-local sort, and the semantics users actually expect.
    */
  def sort(by: Seq[String], ascending: Seq[Boolean] = Nil): Op = df => {
    val asc = if (ascending.nonEmpty) ascending else Seq.fill(by.size)(true)
    require(asc.size == by.size, "ascending must match by")
    df.orderBy(by.zip(asc).map { case (c, a) => if (a) col(c).asc else col(c).desc }: _*)
  }

  // ---------------------------------------------------------------- sample
  /** Deterministic hash sample: keeps rows whose md5(key) falls below the
    * fraction threshold. Unlike `df.sample()` (seeded per-partition RNG,
    * changes with partitioning), the selection is a pure function of the
    * key — stable across runs, cluster layouts, AND engines (any SQL engine
    * replays it with `WHERE md5(key) < threshold`), which is what a
    * reproducible 100 TB training-data subset needs. Scan-side filter, no
    * shuffle.
    */
  def hashSample(keyCol: String, fraction: Double): Op = df => {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction out of [0,1]: $fraction")
    // null keys have no hash and are DROPPED for 0 < fraction < 1 (the null
    // predicate filters false — identically in any replay engine); at
    // fraction >= 1 the frame passes through untouched, nulls included.
    // Coalesce the key first if null-key rows must participate.
    if (fraction >= 1.0) df else df.filter(hashKeep(keyCol, fraction))
  }

  // first 8 hex chars of md5 are uniform on [0, 2^32); a row is kept when
  // they sort strictly below the fraction's 8-hex-digit threshold
  private def hashKeep(keyCol: String, fraction: Double): Column =
    if (fraction >= 1.0) lit(true)
    else if (fraction <= 0.0) lit(false)
    else md5(col(keyCol).cast("string")) <
      lit(f"${math.floor(fraction * 4294967296.0).toLong}%08x")

  /** Deterministic n-way split (train/val/test): each row gets a label from
    * cumulative md5-threshold bands over [0, 2^32), so the assignment is a
    * pure function of the key — stable across runs, partitionings, AND
    * engines (`CASE WHEN md5(k) < t1 THEN ... WHEN md5(k) < t2 ...`), and
    * growing one band's weight only ever MOVES rows across the adjacent
    * boundary, never reshuffles the rest. Scan-side CASE, no shuffle —
    * the reproducible-split primitive a 100 TB training corpus needs
    * (a seeded randomSplit re-deals every row when anything changes).
    *
    * Weights must be positive and sum to 1 (±1e-6). Rows with NULL keys
    * have no hash; every band predicate is null, so the CASE assigns them
    * the LAST label (documented, replayed identically by the oracle's
    * CASE ELSE) — coalesce the key first if that's not wanted.
    */
  def hashSplit(keyCol: String, splits: Seq[(String, Double)],
                labelCol: String = "split"): Op = df => {
    require(splits.size >= 2, "hashSplit needs at least two bands")
    require(splits.forall(_._2 > 0.0), s"non-positive split weight in $splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-6,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    require(splits.map(_._1).distinct.size == splits.size,
      s"duplicate split labels in $splits")
    requireAbsent(df, "hashSplit", labelCol)
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val h = md5(col(keyCol).cast("string"))
    val label = splits.init.zip(cums.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), cum), els) =>
      when(h < lit(f"${math.floor(cum * 4294967296.0).toLong}%08x"), name)
        .otherwise(els)
    }
    df.withColumn(labelCol, label)
  }

  /** Per-stratum deterministic sampling: each stratum value gets its own
    * keep-fraction (domain mixing / rebalancing — e.g. downsample crawl
    * data, keep all code). Same md5-threshold selection as [[hashSample]],
    * so it shares its properties: pure function of the key (stable across
    * runs/partitionings/engines) and NESTED across fractions — raising a
    * stratum's fraction only ever adds rows, never swaps them. Scan-side
    * filter, no shuffle.
    *
    * Scale bound: the fractions map renders as one CASE chain evaluated
    * scan-side, so it must be STRATUM-cardinality (languages, domains,
    * sources — tens to thousands), not data-cardinality. Past ~10⁴ entries
    * the expression tree itself strains codegen/driver planning — warned,
    * because the right tool there is a broadcast-joined fractions table.
    */
  def stratifiedHashSample(keyCol: String, strataCol: String,
                           fractions: Map[String, Double],
                           defaultFraction: Double = 0.0): Op = df => {
    (fractions.values ++ Seq(defaultFraction)).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fraction out of [0,1]: $f"))
    if (fractions.size > 10000)
      log.warn(s"stratifiedHashSample with ${fractions.size} strata builds a " +
        "CASE chain that size — use a broadcast-joined fractions table for " +
        "data-cardinality strata")
    // a NULL stratum matches no fractions key (string keys cannot be null)
    // and falls to defaultFraction — documented; temperatureSample
    // normalizes nulls into their own stratum before calling this
    val cond = fractions.toSeq.sortBy(_._1).foldLeft(hashKeep(keyCol, defaultFraction)) {
      case (acc, (k, f)) => when(col(strataCol) === k, hashKeep(keyCol, f)).otherwise(acc)
    }
    df.filter(cond)
  }

  /** Per-stratum keep-fractions for temperature sampling: kept mass per
    * stratum becomes proportional to n^alpha (the unigram-LM data-mixing
    * recipe — alpha < 1 flattens the source distribution so big crawls stop
    * drowning small curated sets). The smallest stratum keeps
    * `targetFraction`; a stratum with n rows keeps
    * `targetFraction * (n_min/n)^(1-alpha)`.
    *
    * The counts aggregate collects ONE ROW PER STRATUM to the driver —
    * model-size (like IVF centroids), not data-size: bounded by the stratum
    * cardinality (languages, domains, sources), never the row count. That
    * bound is the caller's contract; past ~10⁵ strata the collect (and the
    * CASE chain [[stratifiedHashSample]] would build from it) stops being
    * model-sized, so it warns — like the un-partitioned ffill/asof guards.
    * alpha = 0.5 (the default) computes via `sqrt`, which IEEE 754 rounds
    * exactly, so any engine replays the fractions — and therefore the
    * md5-threshold keep set — bit-for-bit; other alphas go through `pow`,
    * whose last-ulp behavior is libm-specific (fine for sampling, not for
    * replay oracles).
    */
  def temperatureFractions(df: DataFrame, strataCol: String,
                           targetFraction: Double,
                           alpha: Double = 0.5): Map[String, Double] = {
    require(targetFraction >= 0.0 && targetFraction <= 1.0,
      s"targetFraction out of [0,1]: $targetFraction")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha out of (0,1]: $alpha")
    val counts = df.groupBy(strataCol).count().collect()
      .map(r => Option(r.get(0)).map(_.toString).getOrElse("") -> r.getLong(1))
    require(counts.nonEmpty, "temperatureFractions on an empty frame")
    if (counts.length > 100000)
      log.warn(s"temperatureFractions collected ${counts.length} strata to " +
        "the driver — this operator is designed for stratum-cardinality " +
        "(model-sized) keys; a data-cardinality stratum column belongs in a " +
        "distributed join, not a driver map")
    val nMin = counts.map(_._2).min
    counts.map { case (k, n) =>
      val ratio = nMin.toDouble / n.toDouble
      val scaled =
        if (alpha == 0.5) math.sqrt(ratio) else math.pow(ratio, 1.0 - alpha)
      k -> targetFraction * scaled
    }.toMap
  }

  /** [[temperatureFractions]] + [[stratifiedHashSample]] in one stage: a
    * deterministic, engine-replayable temperature sample of the corpus.
    * One bounded counts aggregate, then a scan-side filter — no shuffle of
    * the kept data.
    */
  def temperatureSample(keyCol: String, strataCol: String,
                        targetFraction: Double, alpha: Double = 0.5): Op = df => {
    // normalize NULL strata into their own stratum (a NUL-prefixed sentinel
    // no real category uses) — otherwise the fraction computed for nulls
    // could never match in stratifiedHashSample's equality chain and every
    // null-stratum row would silently fall to defaultFraction = 0
    val tmp = freshName(df, "__strata_norm")
    val norm = df.withColumn(tmp,
      coalesce(col(strataCol).cast("string"), lit("\u0000null")))
    stratifiedHashSample(keyCol, tmp,
      temperatureFractions(norm, tmp, targetFraction, alpha))(norm).drop(tmp)
  }

  /** Trailing time-range window per key: the WindowSpec for rolling
    * aggregates ("events in the last hour per user"). Ordered by EXACT
    * integer microseconds — fractional-seconds range bounds differ between
    * engines, integer micros replay everywhere. One shuffle on the keys;
    * each aggregate is an O(n) sliding accumulation per partition.
    */
  def rollingWindow(keys: Seq[String], tsCol: String,
                    rangeSeconds: Long): org.apache.spark.sql.expressions.WindowSpec = {
    require(rangeSeconds >= 0, s"rangeSeconds must be >= 0: $rangeSeconds")
    val base =
      if (keys.nonEmpty)
        org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
      else org.apache.spark.sql.expressions.Window.partitionBy()
    base.orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-rangeSeconds * 1000000L, 0L)
  }

  /** Keep documents, in `order`, until each stratum's running token total
    * exceeds `budget` — the "N tokens per source" corpus-composition step.
    * `order` must be a total order (e.g. [[shuffleKey]] for a random-but-
    * reproducible pick, or quality descending with a unique tie-break) or
    * the kept set is not deterministic. Pass `cumColumn` to retain the
    * running total in the output.
    *
    * Scale shape: ONE shuffle on the stratum key; each stratum's rows sort
    * on a single task (inherent to an exact running total). Right-sized
    * when strata are domains/sources with bounded per-stratum volume; for
    * a handful of giant strata use [[tokenBudgetSalted]] — measured on a
    * 20M-row corpus with 90% in one stratum: 65-68 s plain (the hot
    * stratum sorts on one task) vs 9-14 s salted at 32 shards, identical
    * budget guarantee (PLANS.md round-12 hot-stratum probe).
    */
  def tokenBudget(strataCol: String, tokenCol: String, budget: Long,
                  order: Column, cumColumn: Option[String] = None): Op = df => {
    require(budget >= 0, s"budget must be >= 0: $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(order)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = cumColumn.getOrElse(freshName(df, "_tb_cum"))
    // null token counts contribute 0 — without the coalesce a null-token
    // doc sorting FIRST in its stratum gets a null running sum and is
    // dropped, while the same doc mid-stream is kept (order-dependent)
    val out = df.withColumn(cum, sum(coalesce(col(tokenCol), lit(0L))).over(w))
      .filter(col(cum) <= budget)
    if (cumColumn.isDefined) out else out.drop(cum)
  }

  /** Nucleus (top-p) selection per stratum: keep the smallest prefix of
    * rows, in `order`, whose cumulative `massCol` reaches
    * `pBasisPoints`/10000 of the stratum's TOTAL mass — "the best docs
    * carrying p of the quality mass per source", the mass-weighted
    * companion to [[tokenBudget]]'s absolute cap. A row is kept iff the
    * mass BEFORE it is strictly under the target, so the boundary row that
    * crosses the threshold is included and zero-mass rows sorted after the
    * nucleus are not. `order` must be a total order (mass descending with
    * a unique tie-break) or the kept set is not deterministic.
    *
    * The decision is exact integer arithmetic (mass as BIGINT, the
    * comparison widened to DECIMAL so stratum totals up to 10¹⁸ survive
    * the ×10⁴) — no float ratio, replays bit-for-bit cross-engine.
    *
    * Scale shape: ONE shuffle on the stratum key; both windows (running
    * and total) share that partitioning. Like [[tokenBudget]], each
    * stratum's exact running sum sorts on a single task — use
    * [[topPSelectSalted]] for giant strata (measured 27-30 s plain vs
    * 5-6 s at 32 shards on a 90%-hot 20M-row corpus, +0.06% boundary
    * rows; PLANS.md round-12 hot-stratum probe).
    */
  def topPSelect(strataCol: String, massCol: String, pBasisPoints: Int,
                 order: Seq[Column], cumColumn: Option[String] = None): Op = df => {
    require(pBasisPoints >= 0 && pBasisPoints <= 10000,
      s"pBasisPoints must be in [0, 10000], got $pBasisPoints")
    require(order.nonEmpty, "topPSelect needs at least one order column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(strataCol)
    val cum = cumColumn.getOrElse(freshName(df, "_tp_cum"))
    val total = freshName(df, "_tp_total")
    // null mass contributes 0, same reasoning as tokenBudget's coalesce
    val m = coalesce(col(massCol).cast("long"), lit(0L))
    val out = df
      .withColumn(cum, sum(m).over(w))
      .withColumn(total, sum(m).over(wAll))
      .filter((col(cum) - m).cast("decimal(20,0)") * lit(10000).cast("decimal(5,0)") <
        lit(pBasisPoints).cast("decimal(5,0)") * col(total).cast("decimal(20,0)"))
      .drop(total)
    if (cumColumn.isDefined) out else out.drop(cum)
  }

  /** Sentinel `shards` value asking the salted operators to DERIVE the
    * shard count from the stratum census ([[autoShards]]).
    */
  val AutoShards: Int = 0

  /** Default target mass (tokens / quality points) per (stratum, shard)
    * sort task for [[autoShards]]: 64M tokens ≈ a few hundred MB of text —
    * a single-task window sort that completes in seconds on one core.
    */
  val AutoShardTargetMass: Long = 64000000L

  /** Cap on the derived shard count. The approximation cost of salting
    * grows with the shard count (the stratum under-fills by at most one
    * boundary document PER SHARD — see [[tokenBudgetSalted]]), so the cap
    * keeps the worst-case under-fill bounded at `maxShards` documents even
    * for strata far hotter than the target mass can absorb.
    */
  val AutoShardMax: Int = 1024

  /** Derive the shard count for the salted hot-stratum operators from the
    * data itself: `ceil(hottest-stratum mass / targetShardMass)`, clamped
    * to [1, [[AutoShardMax]]]. One extra column-pruned pass over
    * (strata, mass) — a partial-agg'd census whose driver-side result is a
    * single row, the same price every skew-handling operator in
    * [[minietl.ops.Skew]] pays. At 100 TB the right shard count depends on
    * the stratum histogram, which the caller cannot know statically; this
    * is the measured default, and an explicit `shards` always overrides.
    *
    * Approximation ledger as a function of the returned count S:
    * [[tokenBudgetSalted]] under-fills its budget by at most S boundary
    * documents (never overshoots); [[topPSelectSalted]] deviates from the
    * global nucleus by at most S boundary rows. With the default target
    * mass, S stays small exactly when strata are small (S = 1 reproduces
    * the plain operators bit-for-bit modulo the no-op pmod(·, 1) shard).
    */
  def autoShards(df: DataFrame, strataCol: String, massCol: String,
                 targetShardMass: Long = AutoShardTargetMass,
                 maxShards: Int = AutoShardMax): Int = {
    require(targetShardMass >= 1, s"targetShardMass must be >= 1: $targetShardMass")
    val hot = df
      .groupBy(col(strataCol))
      .agg(sum(coalesce(col(massCol).cast("long"), lit(0L))).as("__mass"))
      .agg(max(col("__mass")))
      .collect()(0)
    if (hot.isNullAt(0)) 1
    else {
      val mass = math.max(0L, hot.getLong(0))
      math.max(1L, math.min(maxShards.toLong,
        (mass + targetShardMass - 1) / targetShardMass)).toInt
    }
  }

  /** [[tokenBudget]] for HOT STRATA — the tested form of the salted-shard
    * recipe the plain operator's scaladoc prescribes. The plain operator's
    * exact running total forces each stratum onto ONE task; when one
    * stratum holds most of the corpus (a web-dump `source` column at 100 TB)
    * that task sorts the whole stratum alone. Here each row is assigned a
    * deterministic shard in [0, shards) by `shardKey` (any engine-stable
    * hash of a unique row key — the caller picks the hash family so the
    * portable twin can replay it), and the stratum budget splits into EXACT
    * per-shard sub-budgets that SUM to the stratum budget:
    * `budget/shards + 1` for the first `budget % shards` shards,
    * `budget/shards` for the rest. The window partitions by
    * (stratum, shard) — `shards`-way parallel per stratum.
    *
    * `shards` defaults to [[AutoShards]]: the count is derived per run by
    * [[autoShards]] from the hottest stratum's token mass (explicit values
    * override — oracle-replayed queries pin an explicit count so the
    * cross-engine replay is static).
    *
    * Guarantees, vs the plain operator's: kept tokens per stratum never
    * exceed `budget` (each shard caps at its sub-budget; the sub-budgets
    * sum to `budget`); the kept SET is deterministic given a deterministic
    * `shardKey` and a per-shard total `order`; each shard under-fills by at
    * most one document's tokens, so the stratum under-fills by at most
    * `shards` boundary documents — the "exact-enough" the scaladoc recipe
    * promised, now enforced by code rather than prose.
    */
  def tokenBudgetSalted(strataCol: String, tokenCol: String, budget: Long,
                        order: Column, shardKey: Column,
                        shards: Int = AutoShards,
                        cumColumn: Option[String] = None,
                        autoTargetMass: Long = AutoShardTargetMass): Op = df => {
    require(budget >= 0, s"budget must be >= 0: $budget")
    require(shards >= 1 || shards == AutoShards,
      s"shards must be >= 1 or AutoShards: $shards")
    val n = if (shards == AutoShards)
      autoShards(df, strataCol, tokenCol, autoTargetMass) else shards
    val shard = freshName(df, "_tb_shard")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol), col(shard)).orderBy(order)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = cumColumn.getOrElse(freshName(df, "_tb_cum"))
    val shardBudget = lit(budget / n) +
      when(col(shard) < lit(budget % n), lit(1L)).otherwise(lit(0L))
    val out = df.withColumn(shard, pmod(shardKey, lit(n.toLong)))
      .withColumn(cum, sum(coalesce(col(tokenCol), lit(0L))).over(w))
      .filter(col(cum) <= shardBudget)
      .drop(shard)
    if (cumColumn.isDefined) out else out.drop(cum)
  }

  /** [[topPSelect]] for HOT STRATA — same salted-shard construction as
    * [[tokenBudgetSalted]]: rows shard deterministically by `shardKey`, and
    * the SAME `pBasisPoints` nucleus rule applies per (stratum, shard)
    * against the SHARD's total mass. With a hash-uniform shard key each
    * shard's mass distribution is an unbiased sample of the stratum's, so
    * the union of per-shard nuclei approximates the global nucleus with a
    * boundary error of at most one document per shard — unlike
    * [[tokenBudgetSalted]] this is an approximation by construction (the
    * global nucleus needs the global running order), which is why the plain
    * operator stays the default and this is the documented escape hatch for
    * strata too hot to sort on one task. `shards` defaults to
    * [[AutoShards]] ([[autoShards]] over the mass column derives the
    * count; explicit values override, and the boundary error above is the
    * cost function to weigh when picking one).
    */
  def topPSelectSalted(strataCol: String, massCol: String, pBasisPoints: Int,
                       order: Seq[Column], shardKey: Column,
                       shards: Int = AutoShards,
                       cumColumn: Option[String] = None,
                       autoTargetMass: Long = AutoShardTargetMass): Op = df => {
    require(pBasisPoints >= 0 && pBasisPoints <= 10000,
      s"pBasisPoints must be in [0, 10000], got $pBasisPoints")
    require(order.nonEmpty, "topPSelectSalted needs at least one order column")
    require(shards >= 1 || shards == AutoShards,
      s"shards must be >= 1 or AutoShards: $shards")
    val n = if (shards == AutoShards)
      autoShards(df, strataCol, massCol, autoTargetMass) else shards
    val shard = freshName(df, "_tp_shard")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol), col(shard)).orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol), col(shard))
    val cum = cumColumn.getOrElse(freshName(df, "_tp_cum"))
    val total = freshName(df, "_tp_total")
    val m = coalesce(col(massCol).cast("long"), lit(0L))
    val out = df.withColumn(shard, pmod(shardKey, lit(n.toLong)))
      .withColumn(cum, sum(m).over(w))
      .withColumn(total, sum(m).over(wAll))
      .filter((col(cum) - m).cast("decimal(20,0)") * lit(10000).cast("decimal(5,0)") <
        lit(pBasisPoints).cast("decimal(5,0)") * col(total).cast("decimal(20,0)"))
      .drop(total).drop(shard)
    if (cumColumn.isDefined) out else out.drop(cum)
  }

  /** The nucleus of each stratum taken best mass first: [[topPSelect]] in
    * `mass desc, tieBreak asc` order, a deterministic set when the tie-break
    * is unique. `shards` > 1 (or [[AutoShards]]) takes the
    * [[topPSelectSalted]] per-(stratum, shard) nucleus instead, sharded on
    * the tie-break. The `top_p_select` stage and
    * [[minietl.pipeline.PipelineBuilder.topPSelect]] both build this.
    */
  def topPByMass(strataCol: String, massCol: String, pBasisPoints: Int,
                 tieBreakCol: String, shards: Int = 1): Op = {
    val order = Seq(col(massCol).desc, col(tieBreakCol).asc)
    if (shards > 1 || shards == AutoShards)
      topPSelectSalted(strataCol, massCol, pBasisPoints, order,
        minietl.functions.PortableHash.md5Hash60(
          concat(lit("tp-shard#"), col(tieBreakCol).cast("string"))),
        shards)
    else topPSelect(strataCol, massCol, pBasisPoints, order)
  }

  /** Deterministic pre-training shuffle key: md5 of (seed, key). Sorting by
    * it is a uniform pseudo-random permutation of the corpus that any
    * engine reproduces bit-for-bit from the same seed. Use it as the ORDER
    * BY of the final write — Spark executes that as a range-partitioned
    * distributed sort; don't wrap it in a global row_number (single-task
    * window) when the key itself suffices.
    */
  def shuffleKey(keyCol: String, seed: String): Column =
    // concat, NOT concat_ws: a NULL key must yield a NULL shuffle key (the
    // cross-engine replay `md5(seed || '#' || key)` is NULL too), not have
    // every null row clump at the constant md5(seed) position
    md5(concat(lit(seed), lit("#"), col(keyCol).cast("string")))

  // ---------------------------------------------------------------- upsert
  /** Upsert by key with anti-join + union semantics (NOT standard SQL
    * MERGE, which errors when several source rows match one target row):
    * rows of `updates` replace ALL same-key rows of `base`; unmatched
    * update rows are inserts; unmatched base rows pass through untouched —
    * including duplicate-key base rows, which are NOT collapsed. Duplicate
    * keys WITHIN `updates` are ALL kept, each as its own row; pre-dedupe
    * the updates if one-row-per-key output matters. Both frames must share
    * the schema. Implemented as anti-join (drop matched base rows) + union:
    * one shuffle of each side on the keys, no window.
    */
  def upsert(updates: DataFrame, keys: Seq[String]): Op = base => {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(base.columns.sorted.sameElements(updates.columns.sorted),
      s"schemas differ: base=${base.columns.mkString(",")} updates=${updates.columns.mkString(",")}")
    base.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates.select(base.columns.map(col): _*))
  }

  // --------------------------------------------------------- text hygiene
  /** Scrub PII from `column` in place ([[minietl.text.Pii.redact]]). */
  def piiRedact(column: String): Op =
    df => df.withColumn(column, minietl.text.Pii.redact(col(column)))

  /** Keep rows whose [[minietl.text.TextAnalysis.qualityScore]] (integer
    * basis points, 0..100000) reaches `minScore`. Scan-side filter.
    */
  def qualityFilter(column: String, minScore: Long): Op =
    df => df.filter(minietl.text.TextAnalysis.qualityScore(col(column)) >= minScore)

  /** Keep rows passing every Gopher format rule
    * ([[minietl.text.QualityRules.gopherKeep]]). Scan-side filter.
    */
  def gopherFilter(column: String, minWords: Long = 50,
                   maxWords: Long = 100000): Op =
    df => df.filter(
      minietl.text.QualityRules.gopherKeep(col(column), minWords, maxWords))

  /** Deterministic per-group mode of `valueCol` (nulls excluded): the most
    * frequent value, ties to the smallest value — a total order, so the
    * answer is reproducible across engines and partitionings. Two shuffles
    * ((group, value) count, then the per-group argmax window rides that
    * partitioning only when group ⊇ keys — in general a second exchange on
    * the group alone).
    */
  def modePerGroup(groupCols: Seq[String], valueCol: String): DataFrame => DataFrame = df => {
    require(groupCols.nonEmpty, "modePerGroup needs at least one group column")
    requireAbsent(df.select(groupCols.map(col): _*), "modePerGroup",
      "mode_value", "mode_count")
    val n = freshName(df, "__n")
    val rn = freshName(df, "__rn")
    val counted = df.where(col(valueCol).isNotNull)
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as(n))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(n).desc, col(valueCol).asc)
    counted.withColumn(rn, row_number().over(w))
      .where(col(rn) === 1)
      .select(groupCols.map(col) :+ col(valueCol).as("mode_value") :+
        col(n).as("mode_count"): _*)
  }

  /** Impute nulls in `valueCol` from a per-group statistic: "median"
    * (percentile 0.5) or "mode" (most frequent, ties to smallest).
    * The statistic frame is group-cardinality → broadcast back; a group
    * that is entirely null keeps its nulls (left join, null fill).
    *
    * Cross-engine caveat for "median": engines phrase the even-count
    * interpolation differently (`l*(1-d)+h*d` vs `l+d*(h-l)`), which can
    * differ by an ulp on non-representable decimals. Quantize to an
    * integer scale first when a bit-exact replay matters — integer-valued
    * midpoints are exact under both phrasings (see q_impute_median).
    */
  def imputeGroup(valueCol: String, groupCols: Seq[String],
                  strategy: String): Op = df => {
    require(groupCols.nonEmpty, "imputeGroup needs at least one group column")
    val fillCol = freshName(df, "__fill")
    val stats = strategy match {
      case "median" =>
        df.groupBy(groupCols.map(col): _*)
          .agg(expr(s"percentile(`$valueCol`, 0.5)").as(fillCol))
      case "mode" =>
        modePerGroup(groupCols, valueCol)(df)
          .select(groupCols.map(col) :+ col("mode_value").as(fillCol): _*)
      case other => throw new IllegalArgumentException(
        s"imputeGroup strategy must be 'median' or 'mode', got '$other'")
    }
    // median of an even-count integral column is fractional: fill with the
    // NEAREST value rather than letting the cast truncate toward zero
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val targetType = df.schema(valueCol).dataType
    val fill = targetType match {
      case LongType | IntegerType | ShortType | ByteType =>
        round(col(fillCol), 0).cast(targetType)
      case _ => col(fillCol).cast(targetType)
    }
    df.join(broadcast(stats), groupCols, "left")
      .withColumn(valueCol, coalesce(col(valueCol), fill))
      .drop(fillCol)
  }

  /** Winsorize (percentile clipping): clip `valueCol` into its per-group
    * [lo, hi] percentile band, emitted as `<valueCol>_w` beside the raw
    * value — the standard heavy-tail tamer before averaging noisy metrics.
    * The percentile frame is group-cardinality (model-sized) and is
    * broadcast back; the data side is scanned twice (once for the
    * percentiles, once for the clip) but never shuffled. Null values stay
    * null (greatest/least would otherwise resurrect them as the lo bound).
    */
  def winsorize(groupCols: Seq[String], valueCol: String,
                lo: Double = 0.01, hi: Double = 0.99): Op = df => {
    require(groupCols.nonEmpty, "winsorize needs at least one group column")
    require(0.0 <= lo && lo < hi && hi <= 1.0,
      s"need 0 <= lo < hi <= 1, got lo=$lo hi=$hi")
    requireAbsent(df, "winsorize", s"${valueCol}_w")
    val loCol = freshName(df, "__lo")
    val hiCol = freshName(df, "__hi")
    val pcts = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile(`$valueCol`, $lo)").as(loCol),
        expr(s"percentile(`$valueCol`, $hi)").as(hiCol))
    df.join(broadcast(pcts), groupCols)
      .withColumn(s"${valueCol}_w",
        when(col(valueCol).isNull, lit(null))
          .otherwise(greatest(least(col(valueCol), col(hiCol)), col(loCol))))
      .drop(loCol, hiCol)
  }

  // --------------------------------------------------------------- reshape
  /** Wide → long (melt/unpivot): one output row per (id row, value column).
    * Value columns must share a type (Spark's unpivot contract). Scan-side
    * row growth — no shuffle.
    */
  def melt(ids: Seq[String], values: Seq[String],
           variableName: String = "variable",
           valueName: String = "value"): Op = df => {
    require(values.nonEmpty, "melt needs at least one value column")
    df.unpivot(ids.map(col).toArray, values.map(col).toArray,
      variableName, valueName)
  }

  /** Slowly-changing-dimension (type 2) history build from an event/change
    * log: per key, consecutive runs of identical tracked values collapse to
    * one row with a [valid_from, valid_to) interval; the last row per key is
    * open-ended (`valid_to` null, `is_current` true).
    *
    * ONE shuffle: the run-collapse lag and the interval lead are windows
    * over the same (keys, ts, tie) sort, and the filter between them
    * preserves partitioning AND order. Ties on ts break by `tieCol`
    * (must be unique) so interval boundaries are deterministic.
    */
  def scd2(keys: Seq[String], tsCol: String, tieCol: String,
           tracked: Seq[String]): Op = df => {
    require(keys.nonEmpty, "scd2 needs at least one key column")
    require(tracked.nonEmpty, "scd2 needs at least one tracked column")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val changed = tracked
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _) || lag(col(tsCol), 1).over(w).isNull
    val changedCol = freshName(df, "__changed")
    df.withColumn(changedCol, changed)
      .where(col(changedCol))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keys ++ tracked).map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
  }

  // ---------------------------------------------------------------- lambda
  /** LambdaTransformer (transformers.py:580-603): arbitrary frame function. */
  def lambda(f: DataFrame => DataFrame): Op = f

  /** Compose stages left-to-right into one stage. */
  def chain(ops: Op*): Op = df => ops.foldLeft(df)((d, op) => op(d))
}
