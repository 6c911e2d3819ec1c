package minietl.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import minietl.functions.vec

/** IVF (inverted-file) approximate nearest neighbor — the second scale path
  * next to LSH bucketing (random-hyperplane), mirroring the classic
  * IVF-Flat design from the public ANN literature: a k-means coarse
  * quantizer partitions the corpus into `nlist` inverted lists; a query
  * probes only its `nprobe` closest lists, cutting the scanned fraction to
  * ~nprobe/nlist while keeping exact scoring inside each list.
  *
  * Training is distributed Lloyd iteration over DataFrames: assignment is a
  * scan with the (tiny) centroid set inlined as literals, and the update
  * step is one groupBy over (list, dimension). Centroids are rounded to 6
  * decimals each iteration so float summation order cannot make two runs
  * diverge.
  */
object Ivf {

  final case class Model(centroids: Vector[Vector[Double]]) {
    def nlist: Int = centroids.size
    def dim: Int = centroids.head.size
  }

  private def toDouble(vecCol: Column): Column = transform(vecCol, _.cast("double"))

  /** Squared-distance argmin over the centroid set: per row, minimize
    * |c|^2 - 2 v·c (the |v|^2 term is constant per row). Emitted as an
    * array_min over (score, idx) structs — lexicographic struct ordering
    * gives the index of the closest centroid, ties to the lower index.
    */
  private def nearestLists(v: Column, model: Model, n: Int): Column = {
    val scored = model.centroids.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * vec.dot(v, typedlit(c))).as("score"),
        lit(i).as("idx"))
    }
    slice(array_sort(array(scored: _*)), 1, n)
  }

  /** k=1 fast path: the native codegen argmin
    * ([[minietl.functions.NearestCentroid]]) over the flattened centroid
    * matrix — bit-identical scores (`|c|² - 2 v·c`, sequential folds) and
    * tie order (lower index) to [[nearestLists]]'s struct sort, WITHOUT
    * allocating nlist structs per row or sorting them. Measured on the r16
    * recovery probe (200k rows x 400 centroids, 4 training/assign passes):
    * the struct path was 23.3 s of a 35 s wall (~61 ns/centroid-eval); the
    * fused loop is a dozen multiply-adds per centroid.
    */
  def assignList(v: Column, model: Model): Column =
    vec.nearestCentroid(v, model.centroids.flatten.toArray, model.dim)

  /** Derive `nlist` from a one-row census so the scale dial the SemDeDup
    * probe quantified (nlist 64→8 = 33→822 s at 200k vectors) is not a
    * manual knob: `ceil(n / targetClusterRows)`, clamped to `[1, maxNlist]`
    * and to `n` ([[train]] requires corpus >= nlist). The default target is
    * half the hot-cluster census cap, so auto-sized clusters sit
    * comfortably under [[SemDedup.semDedup]]'s guard and the per-cluster
    * quadratic stays ~(cap/2)²/2 pairs — a single-task unit. The census is
    * one partial-aggregated `count()`, the same price every skew-handling
    * operator pays ([[minietl.ops.Ops.autoShards]] precedent).
    */
  def autoNlist(corpus: DataFrame,
                targetClusterRows: Int = minietl.dedup.Dedup.DefaultMaxBucket / 2,
                maxNlist: Int = 65536): Int = {
    require(targetClusterRows >= 1,
      s"targetClusterRows must be >= 1 (got $targetClusterRows)")
    require(maxNlist >= 1, s"maxNlist must be >= 1 (got $maxNlist)")
    val n = corpus.count()
    require(n >= 1, "autoNlist: empty corpus")
    val ideal = (n + targetClusterRows - 1) / targetClusterRows
    math.max(1L, math.min(math.min(maxNlist.toLong, n), ideal)).toInt
  }

  /** Lloyd iterations; deterministic HASH-SPREAD init: the `nlist` rows
    * with the smallest `xxhash64(id)` (ties broken on id). Replayable like
    * the old smallest-id init, but decorrelated from id ORDER — the r17
    * recover_recall probe measured the difference: on a 50k corpus whose
    * ids are layout-correlated (class = id % 1000, the shape of any
    * time/source-sorted 100 TB corpus), smallest-id init seeded all 400
    * sub-centroids inside ONE of 32 cones and the SemDedup recovery chain
    * needed 4 rounds to reach 0.98 recall (round 1: 0.60); hash-spread
    * init seeds every cone and round 1 recovers directly (see PLANS.md
    * r17). Empty lists keep their previous centroid.
    */
  def train(corpus: DataFrame, nlist: Int, iters: Int = 3,
            idCol: String = "vec_id", vecCol: String = "embedding"): Model = {
    // every Lloyd iteration (and the init scan) re-reads `base`; checkpoint
    // it for the duration of training so the source is scanned once
    val base = minietl.pipeline.RunCaches.checkpoint(
      corpus.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v")))
    try {
      val init = base.orderBy(xxhash64(col("id")), col("id")).limit(nlist).collect()
        .map(_.getSeq[Double](1).toVector).toVector
      require(init.size == nlist, s"corpus smaller than nlist=$nlist")

      (1 to iters).foldLeft(Model(init)) { (model, _) =>
        val assigned = base.withColumn("list", assignList(col("v"), model))
        val means = assigned
          .select(col("list"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("list", "pos").agg(avg("x").as("m"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (list, rows) =>
            list -> rows.sortBy(_.getInt(1))
              .map(r => math.floor(r.getDouble(2) * 1e6 + 0.5) / 1e6).toVector
          }
        Model(model.centroids.indices.map(i => means.getOrElse(i, model.centroids(i))).toVector)
      }
    } finally minietl.pipeline.RunCaches.releaseNow(base)
  }

  /** ANN top-k via inverted lists: the corpus is scanned once to tag each
    * row's list; queries expand to their `nprobe` nearest lists; the join
    * on the list id confines exact cosine scoring to the probed fraction.
    */
  def topK(corpus: DataFrame, queries: DataFrame, model: Model, k: Int,
           nprobe: Int = 2, idCol: String = "vec_id",
           vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("n_vec"))
      .withColumn("n_norm", sqrt(vec.dot(col("n_vec"), col("n_vec"))))
      .withColumn("list", assignList(col("n_vec"), model))
    val q = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", sqrt(vec.dot(col("q_vec"), col("q_vec"))))
      .withColumn("list", explode(transform(
        nearestLists(col("q_vec"), model, nprobe), s => s("idx"))))
    val scored = c.join(broadcast(q), Seq("list"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        round(vec.dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")), 4))
    Similarity.topKPerQuery(scored, k, Seq(col("cos").desc, col("n_id").asc))
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** K-means clustering exposed as a corpus-curation operator (domain
    * discovery, dedup stratification, mixture design): assign every row to
    * its nearest trained centroid and aggregate composition over `byCols`
    * (e.g. a label/source column) — (cluster BIGINT, byCols..., n BIGINT).
    * One scan with the centroid literals inlined + one grouped aggregate
    * with map-side combine; output cardinality is nlist × |byCols domain|.
    */
  def clusterComposition(corpus: DataFrame, model: Model, byCols: Seq[String],
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    corpus
      .select(col(idCol).as("id") +: byCols.map(col) :+ toDouble(col(vecCol)).as("v"): _*)
      .withColumn("cluster", assignList(col("v"), model).cast("bigint"))
      .groupBy(col("cluster") +: byCols.map(col): _*)
      .agg(count(lit(1)).as("n"))

  /** DuckDB replay of [[clusterComposition]]'s SERVING path for a trained
    * model — same centroid literals / argmin / tie-break as
    * [[topKOracleSql]], then the same grouped composition. Training is
    * spec-covered, not replayed (see [[topKOracleSql]]).
    */
  def clusterCompositionOracleSql(model: Model, byCols: Seq[String],
                                  table: String = "embeddings",
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding"): String = {
    def vecLit(c: Vector[Double]): String =
      c.map(_.toString).mkString("CAST([", ",", "] AS DOUBLE[])")
    val scoreSelects = model.centroids.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      s"  SELECT id, $i AS idx, ${c2.toString} - 2.0 * list_inner_product(v, ${vecLit(c)}) AS score FROM e"
    }.mkString("\n  UNION ALL\n")
    val bys = byCols.map(b => s"t.$b").mkString(", ")
    s"""WITH e AS (SELECT $idCol AS id, CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |scores AS (
       |$scoreSelects
       |),
       |assign AS (
       |  SELECT id, idx AS cluster FROM (
       |    SELECT id, idx,
       |      row_number() OVER (PARTITION BY id ORDER BY score ASC, idx ASC) AS rn
       |    FROM scores) WHERE rn = 1)
       |SELECT CAST(a.cluster AS BIGINT) AS cluster, $bys, CAST(count(*) AS BIGINT) AS n
       |FROM assign a JOIN $table t ON t.$idCol = a.id
       |GROUP BY a.cluster, $bys
       |ORDER BY cluster, $bys""".stripMargin
  }

  /** ANSI SQL (DuckDB dialect) replaying [[topK]]'s SERVING path exactly for
    * an already-trained model: the learned centroids are rendered as DOUBLE[]
    * literals (shortest round-trip decimal form, so DuckDB parses back the
    * identical bits), assignment is the same |c|^2 - 2 v·c argmin with ties
    * to the lower index, and scoring is the same 4dp-rounded cosine with id
    * tie-break. Every score is bit-identical on both sides — |c|^2 is
    * pre-folded here from the same doubles the Spark plan inlines, and both
    * engines' inner products are sequential folds — so the argmin can never
    * diverge at a near-tie.
    *
    * Training itself is NOT replayed (distributed float means have no
    * canonical summation order); it is spec-covered, and this oracle pins
    * everything downstream of the model.
    */
  def topKOracleSql(model: Model, k: Int, nprobe: Int, queryPredicate: String,
                    table: String = "embeddings", idCol: String = "vec_id",
                    vecCol: String = "embedding"): String = {
    def vecLit(c: Vector[Double]): String =
      c.map(_.toString).mkString("CAST([", ",", "] AS DOUBLE[])")
    val scoreSelects = model.centroids.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      s"  SELECT id, v, $i AS idx, ${c2.toString} - 2.0 * list_inner_product(v, ${vecLit(c)}) AS score FROM e"
    }.mkString("\n  UNION ALL\n")
    s"""WITH e AS (SELECT $idCol AS id, CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |scores AS (
       |$scoreSelects
       |),
       |ranked_lists AS (
       |  SELECT id, v, idx,
       |    row_number() OVER (PARTITION BY id ORDER BY score ASC, idx ASC) AS rn
       |  FROM scores),
       |assign AS (SELECT id, v, idx AS list FROM ranked_lists WHERE rn = 1),
       |q AS (SELECT id, v, idx AS list FROM ranked_lists
       |      WHERE rn <= $nprobe AND $queryPredicate),
       |scored AS (
       |  SELECT q.id AS q_id, c.id AS n_id,
       |    round(list_cosine_similarity(q.v, c.v), 4) AS cos
       |  FROM assign c JOIN q ON c.list = q.list AND q.id <> c.id),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, cos, rank FROM ranked
       |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
  }
}
