package minietl.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, as a large-scale pipeline needs both:
  *  - brute-force exact top-k: one scan of the corpus per query batch, with
  *    the (small) query set broadcast — the correctness baseline;
  *  - LSH-bucketed ANN: a random-hyperplane bit signature computed scan-side
  *    buckets the corpus; queries probe only their own bucket, turning an
  *    O(corpus) scan per query into O(corpus / 2^bits) — the scale path.
  *
  * All vector math is double-precision higher-order-function expressions
  * (zip_with / aggregate) over the float arrays: stays in codegen, no UDF.
  */
object Similarity {

  /** Double-precision dot product of two float arrays (sequential fold —
    * deterministic, matches a scalar loop).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Dot product of two already-double arrays (see [[prepared]]): a native
    * codegen expression ([[minietl.functions.DotProductDouble]]) — inside a
    * pairwise join the interpreted higher-order-function fold is the
    * dominant cost, a generated tight loop is not.
    */
  def dotD(a: Column, b: Column): Column = minietl.functions.vec.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Per-row similarity prep: cast the float vector to double ONCE and
    * precompute its norm. Every pairwise comparison after a join then costs a
    * single fused dot product instead of three (dot + both norms) plus
    * 2×dim element casts — the dominant per-pair cost in any all-pairs or
    * bucketed similarity plan. Arithmetic is bit-identical to [[cosine]]
    * (same cast, same fold order, same sqrt).
    */
  private def prepared(df: DataFrame, idCol: String, vecCol: String,
                       idAs: String, vecAs: String, normAs: String): DataFrame =
    df.select(col(idCol).as(idAs),
        transform(col(vecCol), x => x.cast("double")).as(vecAs))
      .withColumn(normAs, sqrt(dotD(col(vecAs), col(vecAs))))

  /** L2-normalize once up front: downstream cosine becomes a plain dot
    * product — at 100 TB you normalize at ingest, not per comparison.
    */
  def normalized(a: Column): Column = {
    val n = norm(a)
    transform(a, x => x.cast("double") / n)
  }

  /** Scale-safe per-query top-k over a corpus-sized scored frame. A single
    * `row_number() OVER (PARTITION BY q_id)` funnels the ENTIRE scored set
    * into one window partition per query — parallelism |queries|, a full
    * per-query sort, and (measured, 1000× ANN probe) a 23.6× wall-time
    * step for 10× data on the int8 pre-rank at 5M vectors. Two phases fix
    * the shape without changing one output row: a LOCAL top-k within each
    * (q_id, physical input partition) — the exchange hashes on
    * (q_id, pid), so it is balanced regardless of query count — then the
    * global window runs over ≤ k × input-partitions survivors per query.
    * Any TOTAL order (every caller tie-breaks on the neighbor id) makes
    * the two-phase result identical to the single window: a globally
    * top-k row is top-k within whatever group contains it.
    */
  private[minietl] def topKPerQuery(scored: DataFrame, k: Int,
                                    order: Seq[Column]): DataFrame = {
    val wLocal = Window.partitionBy(col("q_id"), col("__pid")).orderBy(order: _*)
    val survivors = scored.withColumn("__pid", spark_partition_id())
      .withColumn("__lr", row_number().over(wLocal))
      .filter(col("__lr") <= k).drop("__pid", "__lr")
    val wGlobal = Window.partitionBy("q_id").orderBy(order: _*)
    survivors.withColumn("rank", row_number().over(wGlobal).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Exact brute-force top-k cosine neighbors.
    *
    * `queries` is expected to be small (it is broadcast); the corpus is
    * scanned exactly once. Ranking uses the 4dp-rounded cosine with the
    * neighbor id as tie-break so results are reproducible across partition
    * orders and engines.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = prepared(queries, idCol, vecCol, "q_id", "q_vec", "q_norm")
    val c = prepared(corpus, idCol, vecCol, "n_id", "n_vec", "n_norm")
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos",
        round(dotD(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")), 4))
    topKPerQuery(scored, k, Seq(col("cos").desc, col("n_id").asc))
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** `bits` fixed pseudo-random hyperplanes, deterministic in `seed`; each
    * plane is a +-1 vector derived from splitmix64, which is enough for
    * bucketing (what matters is that both sides hash identically).
    */
  private def hyperplanes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    var x = seed
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.fill(bits, dim)(if ((next() & 1L) == 0L) 1.0 else -1.0)
  }

  /** Random-hyperplane signature (int bucket id in [0, 2^bits)). */
  def lshSignature(vec: Column, bits: Int, dim: Int, seed: Long = 42L): Column =
    lshSignatureD(transform(vec, x => x.cast("double")), bits, dim, seed)

  /** Signature over an already-double vector (see [[prepared]]). */
  private def lshSignatureD(vec: Column, bits: Int, dim: Int, seed: Long): Column =
    signatureFromPlanes(vec, hyperplanes(bits, dim, seed))

  /** Bucket id from explicit planes: bit i set iff vec . plane_i > 0. The
    * projection is the native codegen dot ([[dotD]]) against a literal
    * double array — a sequential product-sum, bit-identical to DuckDB's
    * `list_inner_product`, which the verification oracle relies on.
    */
  private def signatureFromPlanes(vec: Column, planes: Array[Array[Double]]): Column =
    // one codegen'd matrix-vector pass (native HyperplaneSignature):
    // generated-code size is constant in the plane count, where the
    // previous per-bit when(vec_dot > 0) chain grew linearly and blew
    // Janino's method limit at 512 planes (16-bit × 32 bands), dropping
    // the whole stage to interpreted evaluation. Bit-identical: same
    // accumulation order/arithmetic as vec_dot, and coalesce preserves
    // the chain's signature-0 result for null/malformed vectors (a null
    // dot sent every bit to its otherwise-0 branch).
    coalesce(
      minietl.functions.vec.hyperplaneSig(
        vec, planes.flatten, planes.length, planes.headOption.map(_.length).getOrElse(0)),
      lit(0))

  /** ANN top-k via LSH buckets: candidates come only from the query's
    * bucket; exact cosine ranks them. Recall is tunable by `bits` (fewer
    * bits = bigger buckets = higher recall, more work). The returned plan
    * shuffles corpus and queries once each on the bucket id — a co-located
    * equi-join, no crossJoin anywhere.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int, dim: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              seed: Long = 42L): DataFrame = {
    val c = prepared(corpus, idCol, vecCol, "n_id", "n_vec", "n_norm")
      .withColumn("bucket", lshSignatureD(col("n_vec"), bits, dim, seed))
    val q = prepared(queries, idCol, vecCol, "q_id", "q_vec", "q_norm")
      .withColumn("bucket", lshSignatureD(col("q_vec"), bits, dim, seed))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        round(dotD(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")), 4))
    topKPerQuery(scored, k, Seq(col("cos").desc, col("n_id").asc))
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, via banded
    * (OR-amplified) random-hyperplane LSH — the textbook construction:
    * `bands` independent signatures of `bitsPerBand` bits each; a pair is a
    * candidate iff it collides in ANY band, then the exact cosine filter
    * verifies. Recall for a pair at angle-agreement probability p is
    * 1-(1-p^bitsPerBand)^bands, so recall is tuned by adding bands (more
    * candidates) or bits (fewer), never by widening the scan.
    *
    * SIZE `bitsPerBand` TO THE CORPUS: expected bucket occupancy is
    * n/2^bitsPerBand per band, and within-bucket pair volume is quadratic in
    * occupancy — bands too coarse for the corpus (2^bits comparable to n)
    * degenerate toward all-pairs no matter how the shuffle is planned.
    * `maxBucketSize` back-stops the worst buckets; it does not fix a
    * systematically coarse choice of bits.
    *
    * Scale shape: the signature frame carries only (id, band, sig) through
    * the band shuffle (~20 B/row/band); vectors are fetched back per
    * DISTINCT confirmed candidate, and the prepared (vec, norm) frame is
    * computed once and checkpointed.
    */
  def cosineNearDupPairs(df: DataFrame, threshold: Double,
                         bitsPerBand: Int, bands: Int, dim: Int,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         seed: Long = 42L,
                         maxBucketSize: Int = minietl.dedup.Dedup.DefaultMaxBucket): DataFrame = {
    // one splitmix stream for all bands (band b gets planes [b*bpb, (b+1)*bpb))
    // — the SQL generated by lshNearDupOracleSql slices identically
    val planes = hyperplanes(bands * bitsPerBand, dim, seed)
    // spread: a one-file corpus would build the (vec, nrm) frame on a single
    // thread; no-op when the input is already partitioned (see Dedup.spread)
    val prep = minietl.pipeline.RunCaches.checkpoint(
      prepared(minietl.dedup.Dedup.spread(df), idCol, vecCol, "id", "vec", "nrm"))
    val bandStructs = (0 until bands).map { b =>
      val slice = planes.slice(b * bitsPerBand, (b + 1) * bitsPerBand)
      struct(lit(b).as("band"), signatureFromPlanes(col("vec"), slice).as("sig"))
    }
    val sigs0 = prep
      .select(col("id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val sigs = minietl.dedup.Dedup.dropOversizedBuckets(
      sigs0, Seq("band", "sig"), maxBucketSize, "cosineNearDup")
    val cand = sigs.as("a").join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(prep.select(col("id").as("id_a"), col("vec").as("va"), col("nrm").as("na_")), "id_a")
      .join(prep.select(col("id").as("id_b"), col("vec").as("vb"), col("nrm").as("nb_")), "id_b")
      .withColumn("cos", round(dotD(col("va"), col("vb")) / (col("na_") * col("nb_")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** ANSI SQL (DuckDB dialect) that replays the banded-LSH near-dup plan of
    * [[cosineNearDupPairs]] exactly — same splitmix hyperplane stream
    * rendered as array literals, same band slicing, same bucket arithmetic —
    * so the bucketed scale path is verifiable end-to-end by an independent
    * engine, not just rows-counted.
    */
  def lshNearDupOracleSql(threshold: Double, bitsPerBand: Int, bands: Int, dim: Int,
                          table: String = "embeddings", idCol: String = "vec_id",
                          vecCol: String = "embedding", seed: Long = 42L,
                          maxBucketSize: Int = minietl.dedup.Dedup.DefaultMaxBucket): String = {
    val planes = hyperplanes(bands * bitsPerBand, dim, seed)
    def planeLit(p: Array[Double]): String =
      p.map(v => if (v > 0) "1.0" else "-1.0").mkString("CAST([", ",", "] AS DOUBLE[])")
    val bandSelects = (0 until bands).map { b =>
      val sigExpr = (0 until bitsPerBand).map { i =>
        s"(CASE WHEN list_inner_product(v, ${planeLit(planes(b * bitsPerBand + i))}) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"  SELECT id, $b AS band, CAST($sigExpr AS INT) AS sig FROM e"
    }.mkString("\n  UNION ALL\n")
    s"""WITH e AS (SELECT $idCol AS id, CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |sig0 AS (
       |$bandSelects
       |),
       |big AS (SELECT band, sig FROM sig0 GROUP BY band, sig HAVING count(*) > $maxBucketSize),
       |sig AS (SELECT sig0.* FROM sig0 ANTI JOIN big USING (band, sig)),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
       |)
       |SELECT id_a, id_b, cos FROM (
       |  SELECT id_a, id_b, round(list_cosine_similarity(ea.v, eb.v), 4) AS cos
       |  FROM cand JOIN e ea ON ea.id = cand.id_a JOIN e eb ON eb.id = cand.id_b)
       |WHERE cos >= $threshold ORDER BY id_a, id_b""".stripMargin
  }

  /** SEMANTIC decontamination pairs — the embedding-level sibling of
    * [[minietl.text.Decontaminate]]'s n-gram overlap: flag every corpus
    * row whose embedding is cosine-similar (≥ `threshold`) to ANY
    * benchmark/eval row. Paraphrased or reformatted benchmark leakage has
    * near-zero n-gram overlap but high embedding similarity, which is why
    * modern pipelines run both checks.
    *
    * Plan shape: banded random-hyperplane LSH like [[cosineNearDupPairs]],
    * but CROSS-frame — the corpus side shuffles only (id, band, sig)
    * (capped buckets, same census), the benchmark side is eval-suite-sized
    * by contract and BROADCAST (signatures and vectors both), so the
    * 100 TB corpus is never joined to itself and never shuffled beyond its
    * slim signature frame. Only bucket-colliding (corpus, bench) pairs pay
    * the exact cosine verify.
    *
    * Returns (corpus_id, bench_id, cos) for every flagged pair; compose
    * with a left-anti join on corpus_id to drop contaminated rows (the
    * [[minietl.text.Decontaminate.decontaminate]] shape). The prepared
    * corpus frame is checkpointed: the signature scan and the verify join
    * both read it.
    */
  def semanticContaminationPairs(corpus: DataFrame, bench: DataFrame,
                                 threshold: Double, bitsPerBand: Int, bands: Int, dim: Int,
                                 idCol: String = "vec_id", vecCol: String = "embedding",
                                 seed: Long = 42L,
                                 maxBucketSize: Int = minietl.dedup.Dedup.DefaultMaxBucket): DataFrame =
    contaminationPairs(preparedCorpus(corpus, idCol, vecCol), bench, threshold,
      bitsPerBand, bands, dim, idCol, vecCol, seed, maxBucketSize)

  /** The corpus side of [[semanticContaminationPairs]], checkpointed. */
  private def preparedCorpus(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    minietl.pipeline.RunCaches.checkpoint(
      prepared(minietl.dedup.Dedup.spread(corpus), idCol, vecCol, "id", "vec", "nrm"))

  private def contaminationPairs(prepC: DataFrame, bench: DataFrame,
      threshold: Double, bitsPerBand: Int, bands: Int, dim: Int,
      idCol: String, vecCol: String, seed: Long, maxBucketSize: Int): DataFrame = {
    val planes = hyperplanes(bands * bitsPerBand, dim, seed)
    def bandStructs(vec: Column) = (0 until bands).map { b =>
      val slice = planes.slice(b * bitsPerBand, (b + 1) * bitsPerBand)
      struct(lit(b).as("band"), signatureFromPlanes(vec, slice).as("sig"))
    }
    val prepB = prepared(bench, idCol, vecCol, "b_id", "b_vec", "b_nrm")
    val cSigs0 = prepC
      .select(col("id"), explode(array(bandStructs(col("vec")): _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // cap only the CORPUS buckets (boilerplate embeddings); the benchmark
    // side is eval-suite-sized by contract and must never lose rows to a cap
    val cSigs = minietl.dedup.Dedup.dropOversizedBuckets(
      cSigs0, Seq("band", "sig"), maxBucketSize, "semanticContamination")
    val bSigs = prepB
      .select(col("b_id"), explode(array(bandStructs(col("b_vec")): _*)).as("bs"))
      .select(col("b_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val cand = cSigs.join(broadcast(bSigs), Seq("band", "sig"))
      .select("id", "b_id").distinct()
    cand
      .join(prepC, "id")
      .join(broadcast(prepB.select(col("b_id"), col("b_vec"), col("b_nrm"))), "b_id")
      .withColumn("cos",
        round(dotD(col("vec"), col("b_vec")) / (col("nrm") * col("b_nrm")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id").as("corpus_id"), col("b_id").as("bench_id"), col("cos"))
  }

  /** Drop every corpus row [[semanticContaminationPairs]] flags — the
    * embedding-level twin of [[minietl.text.Decontaminate.decontaminate]].
    * Same plan plus one left-anti join on the flagged ids, which are
    * checkpointed (a contamination-sized frame), so the prepared corpus
    * checkpoint is released before this returns.
    */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
                            threshold: Double, bitsPerBand: Int, bands: Int, dim: Int,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            seed: Long = 42L,
                            maxBucketSize: Int = minietl.dedup.Dedup.DefaultMaxBucket): DataFrame = {
    val prepC = preparedCorpus(corpus, idCol, vecCol)
    val flagged = minietl.pipeline.RunCaches.checkpoint(
      contaminationPairs(prepC, bench, threshold, bitsPerBand, bands, dim,
        idCol, vecCol, seed, maxBucketSize)
        .select(col("corpus_id").as(idCol)).distinct())
    minietl.pipeline.RunCaches.releaseNow(prepC)
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** DuckDB replay of [[semanticContaminationPairs]]: corpus and benchmark
    * selected out of one table by predicates (as the battery query does),
    * same plane literals / band slicing / corpus-side bucket cap / 4dp
    * verify — the cross-frame plan verifiable end-to-end.
    */
  def semanticContaminationOracleSql(threshold: Double, bitsPerBand: Int, bands: Int, dim: Int,
                                     corpusPredicate: String, benchPredicate: String,
                                     table: String = "embeddings", idCol: String = "vec_id",
                                     vecCol: String = "embedding", seed: Long = 42L,
                                     maxBucketSize: Int = minietl.dedup.Dedup.DefaultMaxBucket): String = {
    val planes = hyperplanes(bands * bitsPerBand, dim, seed)
    def planeLit(p: Array[Double]): String =
      p.map(v => if (v > 0) "1.0" else "-1.0").mkString("CAST([", ",", "] AS DOUBLE[])")
    def bandSelects(src: String, idAs: String) = (0 until bands).map { b =>
      val sigExpr = (0 until bitsPerBand).map { i =>
        s"(CASE WHEN list_inner_product(v, ${planeLit(planes(b * bitsPerBand + i))}) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"  SELECT id AS $idAs, $b AS band, CAST($sigExpr AS INT) AS sig FROM $src"
    }.mkString("\n  UNION ALL\n")
    s"""WITH e AS (SELECT $idCol AS id, CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |c AS (SELECT * FROM e WHERE $corpusPredicate),
       |b AS (SELECT * FROM e WHERE $benchPredicate),
       |csig0 AS (
       |${bandSelects("c", "id")}
       |),
       |big AS (SELECT band, sig FROM csig0 GROUP BY band, sig HAVING count(*) > $maxBucketSize),
       |csig AS (SELECT csig0.* FROM csig0 ANTI JOIN big USING (band, sig)),
       |bsig AS (
       |${bandSelects("b", "b_id")}
       |),
       |cand AS (
       |  SELECT DISTINCT csig.id AS corpus_id, bsig.b_id AS bench_id
       |  FROM csig JOIN bsig ON csig.band = bsig.band AND csig.sig = bsig.sig
       |)
       |SELECT corpus_id, bench_id, cos FROM (
       |  SELECT corpus_id, bench_id,
       |    round(list_cosine_similarity(ec.v, eb.v), 4) AS cos
       |  FROM cand JOIN c ec ON ec.id = cand.corpus_id
       |            JOIN b eb ON eb.id = cand.bench_id)
       |WHERE cos >= $threshold ORDER BY corpus_id, bench_id""".stripMargin
  }

  /** ANSI SQL (DuckDB dialect) replaying [[lshTopK]] exactly: same single
    * signature (planes rendered as literals), same bucket equi-join, same
    * 4dp-rounded cosine ranking with id tie-break. `queryPredicate` selects
    * the query rows out of the corpus, as the battery query does.
    */
  def lshTopKOracleSql(k: Int, bits: Int, dim: Int, queryPredicate: String,
                       table: String = "embeddings", idCol: String = "vec_id",
                       vecCol: String = "embedding", seed: Long = 42L): String = {
    val planes = hyperplanes(bits, dim, seed)
    def planeLit(p: Array[Double]): String =
      p.map(v => if (v > 0) "1.0" else "-1.0").mkString("CAST([", ",", "] AS DOUBLE[])")
    val sigExpr = (0 until bits).map { i =>
      s"(CASE WHEN list_inner_product(v, ${planeLit(planes(i))}) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT $idCol AS id, CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |s AS (SELECT id, v, CAST($sigExpr AS INT) AS bucket FROM e),
       |q AS (SELECT * FROM s WHERE $queryPredicate),
       |scored AS (
       |  SELECT q.id AS q_id, c.id AS n_id,
       |    round(list_cosine_similarity(q.v, c.v), 4) AS cos
       |  FROM s c JOIN q ON c.bucket = q.bucket AND q.id <> c.id),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, cos, rank FROM ranked
       |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
  }

  /** Embedding-level dedup: keep one representative per cosine-near-dup
    * cluster (transitive, via connected components over the banded pair
    * list); rows in no cluster pass through.
    */
  def cosineDedup(df: DataFrame, threshold: Double,
                  bitsPerBand: Int, bands: Int, dim: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  seed: Long = 42L): DataFrame =
    minietl.dedup.Dedup.dropClusterDuplicates(df,
      cosineNearDupPairs(df, threshold, bitsPerBand, bands, dim, idCol, vecCol, seed), idCol)

  /** Exact all-pairs near-dup (no bucketing) — correctness oracle for small
    * corpora and tests; O(n^2), do not use at scale.
    *
    * The `<` join is a broadcast nested loop, whose task count is the
    * STREAMED side's partition count — and a small corpus is typically one
    * parquet file = one partition = one thread doing all n²/2 dot products.
    * Round-robin repartitioning the streamed side first spreads the loop
    * across the cluster (measured 16 s → ~1 s at 5k vectors on 32 cores).
    */
  def cosineNearDupPairsExact(df: DataFrame, threshold: Double,
                              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val par = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    val a = prepared(df, idCol, vecCol, "id_a", "va", "na_").repartition(par)
    val b = prepared(df, idCol, vecCol, "id_b", "vb", "nb_")
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(dotD(col("va"), col("vb")) / (col("na_") * col("nb_")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Per-group embedding centroids in LONG format (group, dim, n,
    * centroid) — the drift-detection / class-prototype primitive (compare
    * a day's centroid against history, seed k-means, nearest-centroid
    * classification).
    *
    * Exactness contract: each component is scaled to an integer
    * (`floor(v * scale)` — IEEE multiply + floor, identical everywhere),
    * summed as BIGINT (order-independent), and only then divided back out
    * as two IEEE double divisions — so any engine reproduces the centroid
    * bit-for-bit, unlike a float `avg` whose partial-sum order is
    * engine-private. Truncation bounds the per-component bias at
    * `1/scale` (1e-7 by default) — noise for any centroid consumer.
    *
    * Scale shape: posexplode (scan-side row growth ×dim) → ONE exchange of
    * (group, dim) partial sums with map-side combine; output cardinality is
    * groups × dim, independent of row count.
    */
  def groupCentroids(df: DataFrame, keyCol: String, vecCol: String,
                     scale: Long = 10000000L): DataFrame =
    df.select(col(keyCol).as("grp"), posexplode(col(vecCol)).as(Seq("dim0", "v")))
      .select(col("grp"), (col("dim0") + 1).cast("long").as("dim"),
        expr(s"CAST(floor(CAST(v AS DOUBLE) * $scale) AS BIGINT)").as("sv"))
      .groupBy("grp", "dim")
      .agg(count(lit(1)).as("n"), sum("sv").as("ssum"))
      .withColumn("centroid", expr(
        s"CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE) / CAST($scale AS DOUBLE)"))
      .drop("ssum")

  /** k-nearest-neighbor label vote: classify each query vector by the
    * majority label among its top-k cosine neighbors in the labeled corpus.
    * Ties break by (votes desc, best neighbor cosine desc, label asc) —
    * fully deterministic and engine-replayable.
    *
    * Plan shape: one corpus scan (the broadcast-queries top-k of
    * [[bruteForceTopK]]), then a label join on the k×|queries| survivor set
    * (tiny — AQE broadcasts it) and a vote aggregate whose cardinality is
    * |queries|×|labels|. The 100 TB cost is the corpus scan; everything
    * after it is query-batch-sized.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int, labelCol: String,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val top = bruteForceTopK(corpus, queries, k, idCol, vecCol)
    val labels = corpus.select(col(idCol).as("n_id"),
      col(labelCol).cast("bigint").as("label"))
    val votes = top.join(labels, "n_id")
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("votes"), max(col("cos")).as("best_cos"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("votes").desc, col("best_cos").desc, col("label").asc)
    votes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"))
  }
}
