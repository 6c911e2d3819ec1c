package minietl.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import minietl.pipeline.RunCaches

/** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
  * efficient learning at web-scale through semantic deduplication", 2023):
  * cluster the embedding space with k-means, compare pairs ONLY inside a
  * cluster, connect pairs above a cosine threshold, and keep one canonical
  * representative (minimum id) per connected component.
  *
  * This is the published recipe's load-bearing idea re-expressed on the
  * engine's existing primitives: [[Ivf.train]]/[[Ivf.assignList]] bound the
  * quadratic — pairwise cosine runs within clusters of ~n/nlist rows, never
  * across the corpus — and [[minietl.dedup.Dedup.connectedComponents]]
  * makes the "keep one per duplicate set" decision transitive (A≈B, B≈C
  * drops both B and C even when A·C < τ), with its driver union-find fast
  * path / distributed star-contraction split. At 100 TB you raise nlist so
  * clusters stay executor-sized; the join key (cluster id) is the shuffle
  * key, so skew maps directly onto cluster balance — the same census-based
  * control the LSH paths use.
  *
  * HOT-CLUSTER RECOVERY (VERDICT r15 Next #2): the census cap alone has
  * zero recall in the degenerate regime — when k-means collapses a
  * near-constant embedding region into one giant cluster, every row of it
  * used to stay an isolated keep=1 (the r15 adversarial probe's 200k
  * single-cone corpus deduped NOTHING). Now each over-cap group is split
  * by a SECOND k-means round before giving up: one sub-model is trained on
  * the union of all over-cap rows (a single training job regardless of how
  * many clusters are hot — no per-cluster driver loop), the pairing key
  * extends to (cluster, sub), and only groups that STILL exceed the cap
  * after `reclusterRounds` such rounds fall back to the isolate-everything
  * guard. Pairing never crosses an original cluster: the composite key
  * keeps every earlier level's assignment. Sub-model width is
  * COST-BALANCED per round (r17): the assign term costs n·nlist and the
  * within-cell pair term n·target/2, so the per-group target grows as
  * ~sqrt(0.2·n) — clamped to [cap/8, cap/2] so small groups keep the
  * fixed-target behavior and cells stay under the cap. Measured at an
  * 800k-row over-cap group: the fixed cap/8 target spent 192 s (assign-
  * dominated, nlist 6400) where the balanced width spends 67 s at BETTER
  * recall (0.9976 vs 0.9920) — bigger cells merge more. The recall
  * closed form is MEASURED (r17 recover_recall ground-truth probe,
  * PLANS.md): one representative survives per recovered cell, so recall
  * ~= 1 - 1/target — the cap/8 floor gives **recall >= 1 - 8/cap**
  * (cap 250/1000/4000 -> 0.968/0.992/0.998 measured at 200k, exact to
  * ~3dp), and the sqrt-balanced target only raises it (800k: 0.9976)
  * — with false merges structurally zero whenever distinct content stays
  * below tau. Sizing rule: cap ~= 8/(1 - target_recall) as the floor,
  * bounded by executor memory for the cap^2/2-pair cell join. The probe
  * also forced the init fix that makes ONE recovery round sufficient:
  * [[Ivf.train]]'s hash-spread seeding (see its scaladoc) — with
  * layout-correlated ids the old smallest-id init left recall at 0.60
  * until round 4.
  *
  * Determinism contract: assignment ties go to the lower centroid index
  * (lexicographic struct min, [[Ivf.assignList]]) at EVERY level; the
  * cosine is rounded to 4dp BEFORE the τ comparison with both engines
  * folding the same double sequence, so edge sets — and therefore
  * components — can never diverge at a near-tie.
  */
object SemDedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One row per embedding: `(id, cluster, comp, keep)` — comp is the
    * minimum id reachable through within-group cosine-≥-τ edges (own id
    * if isolated), keep = 1 iff the row is its component's canonical.
    * `cluster` is always the TOP-LEVEL k-means assignment (sub-splits are
    * internal pairing keys, not part of the output contract).
    *
    * `maxClusterSize` is the hot-cluster census cap (VERDICT r14 Next #2)
    * — the same [[minietl.dedup.Dedup.DefaultMaxBucket]] contract every
    * banded path carries: a group with n members contributes n(n-1)/2
    * pair-join output rows, so ONE degenerate cluster turns the bounded
    * quadratic into an unbounded one regardless of nlist.
    * `reclusterRounds` controls the recovery (scaladoc above): 0 restores
    * the r14/r15 isolate-only guard; each round ≥ 1 re-splits what is
    * still over cap with a fresh k-means before the final census isolates
    * the remainder (rows of a still-over-cap group stay in the output as
    * isolated keep=1 rows — a dedup stage must never drop data it cannot
    * compare). Each census is a window over exactly the keys the pair
    * join shuffles on.
    */
  def semDedup(corpus: DataFrame, model: Ivf.Model, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxClusterSize: Int = minietl.dedup.Dedup.DefaultMaxBucket,
      reclusterRounds: Int = 1,
      reclusterMaxNlist: Int = 65536): DataFrame =
    semDedupTrace(corpus, model, tau, idCol, vecCol, maxClusterSize,
      reclusterRounds, reclusterMaxNlist)._1

  /** [[semDedup]] plus the sub-models trained for over-cap groups (empty
    * when nothing exceeded the cap) — the train-then-serve handle the
    * oracle needs to replay the recursion ([[oracleSql]]).
    *
    * `reclusterMaxNlist` clamps each recovery round's sub-model width
    * ([[Ivf.autoNlist]]'s maxNlist): at corpus sizes where one round's
    * ideal nlist = n/(cap/8) would exceed it, first-round cells land over
    * the cap and the NEXT round splits them again on the composite key —
    * each round's assign stays n × maxNlist while cell sizes shrink
    * multiplicatively, which is what keeps the recovery linear-ish at
    * 100 TB instead of quadratic in n through the assign term.
    */
  def semDedupTrace(corpus: DataFrame, model: Ivf.Model, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxClusterSize: Int = minietl.dedup.Dedup.DefaultMaxBucket,
      reclusterRounds: Int = 1,
      reclusterMaxNlist: Int = 65536): (DataFrame, Seq[Ivf.Model]) = {
    require(reclusterRounds >= 0,
      s"reclusterRounds must be >= 0 (got $reclusterRounds)")
    // the prepared frame feeds BOTH sides of the pair join plus the final
    // labeling join — checkpoint it so the cast/norm/argmin scan runs once,
    // not three times
    val a = RunCaches.checkpoint(corpus
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(minietl.functions.vec.dot(col("v"), col("v"))))
      .withColumn("cluster", Ivf.assignList(col("v"), model).cast("bigint")))
    var keyed: DataFrame = a
    var keyCols: Seq[String] = Seq("cluster")
    val subModels = Vector.newBuilder[Ivf.Model]
    var r = 1
    var converged = false
    while (r <= reclusterRounds && !converged) {
      val cnt = minietl.ops.Ops.freshName(keyed, "__group_n")
      val withN = keyed.withColumn(cnt,
        count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      val t0 = System.nanoTime()
      val over = RunCaches.checkpoint(withN.where(col(cnt) > maxClusterSize).drop(cnt))
      // the one driver count per round: train needs to know the over-cap
      // row set exists (and autoNlist sizes the sub-model from its count)
      val overN = over.count()
      if (overN == 0) { RunCaches.releaseNow(over); converged = true }
      else {
        // COST-BALANCED sub-cluster target (r17 800k A/B, PLANS.md): a
        // fixed cap/8 target makes the per-round assign QUADRATIC in the
        // over-cap row count (nlist = n/target grows linearly with n, and
        // assign costs n x nlist), which measured as 192 s at an 800k
        // group vs 67 s at the balanced width. The assign term ~ n^2/target
        // and the pair term ~ n x target/2 balance at target ~ sqrt(k n);
        // k = 0.2 is the measured calibration (target 400 optimal at
        // 800k: 67 s / recall 0.9976 vs cap/8's 192 s / 0.9920 — bigger
        // cells MERGE MORE, so recall improves with the wall). Clamped to
        // [max(2, cap/8), cap/2]: small groups keep the r16 behavior
        // exactly, and cells stay comfortably under the census cap.
        // Floor 2: a target of 1 would make every sub-cell a singleton —
        // recovery that can never merge anything.
        val target = math.max(math.max(2L, maxClusterSize / 8L),
          math.min(maxClusterSize / 2L,
            math.ceil(math.sqrt(0.2 * overN)).toLong))
        val ideal = (overN + target - 1) / target
        val nlistSub = math.max(1L,
          math.min(math.min(reclusterMaxNlist.toLong, overN), ideal)).toInt
        val sub = Ivf.train(over, nlistSub, iters = 3, idCol = "id", vecCol = "v")
        log.info(f"semdedup recluster round $r: trained ${sub.nlist} " +
          f"sub-centroids in ${(System.nanoTime() - t0) / 1e9}%.1f s")
        subModels += sub
        val subCol = s"sub$r"
        keyed = withN.where(col(cnt) <= maxClusterSize).drop(cnt)
          .withColumn(subCol, lit(-1))
          .union(over.withColumn(subCol, Ivf.assignList(col("v"), sub)))
        keyCols = keyCols :+ subCol
      }
      r += 1
    }
    val trained = subModels.result()
    if (trained.nonEmpty) {
      // the re-keyed frame feeds the final census window and both pair-join
      // sides; without this the per-round windows and sub-assignments run
      // three times
      keyed = RunCaches.checkpoint(keyed)
    }
    val paired = minietl.dedup.Dedup.dropOversizedBuckets(
      keyed, keyCols, maxClusterSize, "semdedup")
    val sameGroup: Column = keyCols
      .map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _)
    val pairs = paired.as("x").join(paired.as("y"),
        sameGroup && col("x.id") < col("y.id"))
      .withColumn("cos",
        round(minietl.functions.vec.dot(col("x.v"), col("y.v"))
          / (col("x.norm") * col("y.norm")), 4))
      .where(col("cos") >= tau)
    // components are GROUP-LOCAL by algebra (each id has exactly one
    // pairing key, edges never cross keys), so integral ids take the
    // one-shuffle per-group union-find instead of the iterated global star
    // contraction — the difference between ~3 s and minutes in the clique
    // regime the recovery path creates (50M within-cell edges at the 200k
    // probe). Non-integral ids (no safe long cast) keep the global path.
    val idIsIntegral = corpus.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val comp =
      if (idIsIntegral)
        minietl.dedup.Dedup.groupLocalComponents(
          pairs.select(
            keyCols.map(k => col(s"x.$k")) :+
              col("x.id").cast("long").as("id_a") :+
              col("y.id").cast("long").as("id_b"): _*),
          keyCols)
          .select(col("id").cast(corpus.schema(idCol).dataType).as("id"),
            col("comp").cast(corpus.schema(idCol).dataType).as("comp"))
      else
        minietl.dedup.Dedup.connectedComponents(
          pairs.select(col("x.id").as("id_a"), col("y.id").as("id_b")))
    val out = a.select("id", "cluster").join(comp, Seq("id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(col("comp"), col("id")).as("comp"),
        when(coalesce(col("comp"), col("id")) === col("id"), lit(1L))
          .otherwise(lit(0L)).as("keep"))
    (out, trained)
  }

  /** DuckDB replay of the SERVING path for a trained model chain (training
    * is spec-covered, same contract as [[Ivf.topKOracleSql]]): centroid
    * literals → argmin assignment with low-index ties → per-round census +
    * sub-model argmin re-assignment of over-cap groups (one unrolled CTE
    * block per entry of `subModels`, exactly the rounds the engine
    * trained) → final census (still-over-cap groups pair nothing, their
    * rows stay isolated) → within-group pairwise 4dp cosine → recursive
    * reachability CTE → min reachable id.
    */
  def oracleSql(model: Ivf.Model, tau: Double, table: String = "embeddings",
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxClusterSize: Int = minietl.dedup.Dedup.DefaultMaxBucket,
      subModels: Seq[Ivf.Model] = Nil): String = {
    def vecLit(c: Vector[Double]): String =
      c.map(_.toString).mkString("CAST([", ",", "] AS DOUBLE[])")
    // centroids as a VALUES relation + ONE cross-join scan, not one
    // UNION ALL branch per centroid: DuckDB opens the parquet file per
    // branch, and a recluster sub-model's ~n/(cap/8) centroids blew the
    // process fd limit at the sf0.1 sweep ("Too many open files" at 400
    // branches). Identical arithmetic: same |c|^2 prefold (Scala-side,
    // shortest round-trip decimals), same list_inner_product fold, same
    // row_number tie order.
    def centsCte(name: String, m: Ivf.Model): String = {
      val rows = m.centroids.zipWithIndex.map { case (c, i) =>
        val c2 = c.map(x => x * x).sum
        s"  ($i, CAST(${c2.toString} AS DOUBLE), ${vecLit(c)})"
      }.mkString(",\n")
      s"${name}_cents(idx, c2, c) AS (VALUES\n$rows)"
    }
    def scoresCte(name: String, from: String): String =
      s"""${name}_scores AS (
         |  SELECT o.id, c.idx, c.c2 - 2.0 * list_inner_product(o.v, c.c) AS score
         |  FROM $from o CROSS JOIN ${name}_cents c)""".stripMargin
    val ctes = Seq.newBuilder[String]
    ctes += s"e AS (\n  SELECT $idCol AS id, CAST($vecCol AS DOUBLE[]) AS v FROM $table)"
    ctes += centsCte("main", model)
    ctes += scoresCte("main", "e")
    ctes += s"""k0 AS (
               |  SELECT e.id, e.v, s.idx AS cluster FROM e JOIN (
               |    SELECT id, idx,
               |      row_number() OVER (PARTITION BY id ORDER BY score ASC, idx ASC) AS rn
               |    FROM main_scores) s ON s.id = e.id AND s.rn = 1)""".stripMargin
    var keys = Seq("cluster")
    subModels.zipWithIndex.foreach { case (sub, i) =>
      val r = i + 1
      val keyList = keys.mkString(", ")
      ctes += s"""big$r AS (SELECT $keyList FROM k${r - 1}
                 |  GROUP BY $keyList HAVING count(*) > $maxClusterSize)""".stripMargin
      ctes += s"over$r AS (SELECT a.* FROM k${r - 1} a SEMI JOIN big$r USING ($keyList))"
      ctes += centsCte(s"sub$r", sub)
      ctes += scoresCte(s"sub$r", s"over$r")
      ctes += s"""sub${r}_assign AS (
                 |  SELECT id, idx FROM (
                 |    SELECT id, idx,
                 |      row_number() OVER (PARTITION BY id ORDER BY score ASC, idx ASC) AS rn
                 |    FROM sub${r}_scores) WHERE rn = 1)""".stripMargin
      ctes += s"""k$r AS (
                 |  SELECT a.*, coalesce(s.idx, -1) AS sub$r
                 |  FROM k${r - 1} a LEFT JOIN sub${r}_assign s ON s.id = a.id)""".stripMargin
      keys = keys :+ s"sub$r"
    }
    val kf = s"k${subModels.size}"
    val keyList = keys.mkString(", ")
    val pairKeys = keys.map(k => s"x.$k = y.$k").mkString(" AND ")
    ctes += s"""bigF AS (SELECT $keyList FROM $kf
               |  GROUP BY $keyList HAVING count(*) > $maxClusterSize)""".stripMargin
    ctes += s"paired AS (SELECT a.* FROM $kf a ANTI JOIN bigF USING ($keyList))"
    ctes += s"""pairs AS (
               |  SELECT x.id AS id_a, y.id AS id_b
               |  FROM paired x JOIN paired y
               |    ON $pairKeys AND x.id < y.id
               |  WHERE round(list_cosine_similarity(x.v, y.v), 4) >= $tau)""".stripMargin
    ctes += "edges AS (SELECT id_a AS a, id_b AS b FROM pairs\n          UNION ALL SELECT id_b, id_a FROM pairs)"
    ctes += "nodes AS (SELECT DISTINCT a AS id FROM edges)"
    ctes += """reach AS (
              |  SELECT id, id AS r FROM nodes
              |  UNION
              |  SELECT e2.a AS id, reach.r FROM edges e2 JOIN reach ON e2.b = reach.id)""".stripMargin
    ctes += "comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)"
    s"""WITH RECURSIVE ${ctes.result().mkString(",\n")}
       |SELECT a.id, CAST(a.cluster AS BIGINT) AS cluster,
       |  coalesce(c.comp, a.id) AS comp,
       |  CAST(CASE WHEN coalesce(c.comp, a.id) = a.id THEN 1 ELSE 0 END
       |    AS BIGINT) AS keep
       |FROM k0 a LEFT JOIN comp c ON c.id = a.id
       |ORDER BY a.id""".stripMargin
  }
}
