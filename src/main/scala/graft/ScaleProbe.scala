package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-curve corpus generator (VERDICT r6 Next #3): replicates a battery
  * dir's tables Nx with seeded per-replica perturbation, so the same
  * queries can be timed at 1×/4×/16× and split into a fixed intercept and
  * a per-row slope. Timing is `graft.QueryBench` pointed at the output
  * (`SPARK_GRAFT_SF_DIR=<out> … graft.QueryBench q…`), under the battery's
  * checksum force.
  *
  * Usage: runMain graft.ScaleProbe gen|gen_emb|gen_docs <srcDir> <outDir> <N>
  *  - `gen`: documents, lineitem, events and embeddings;
  *  - `gen_emb`: embeddings only (the full `gen` writes Nx lineitem — ~600M
  *    rows at 1000 replicas of sf0.1 — that the vector probes never read);
  *  - `gen_docs`: documents only, for the composed-pipeline curves.
  *
  * Perturbation design — PRESERVE near-dup structure, don't amplify it:
  *  - documents: replica k > 0 suffixes every whitespace token with `rk`,
  *    so within a replica the shingle-overlap structure is exactly the
  *    original's (same near-dup pairs, same Jaccard values) while replicas
  *    share no token shingles with each other (cross-replica similarity 0;
  *    without this, every doc would gain N-1 near-identical copies and
  *    candidate pairs would grow quadratically BY DATA DESIGN, which is not
  *    what a bigger corpus looks like);
  *  - embeddings: replica k > 0 applies a k-seeded deterministic sign flip
  *    per dimension — signs preserve every within-replica inner product
  *    exactly ((s⊙u)·(s⊙v) = u·v) while cross-replica dots become
  *    sign-scrambled sums that concentrate near zero. (A first attempt used
  *    cyclic rotation instead; the generator's embeddings are NOT
  *    rotation-decorrelated and the 10x corpus grew 105x near-dup pairs —
  *    measured, then replaced with signs.)
  * doc_id/vec_id move to id + k*2^40 so replica ranges can never overlap:
  * a 10^7 stride silently collided for source ids >= 10M (ADVICE r13), and
  * span_dedup is the only stage that RAISES on duplicate ids — the others
  * just misbehave. 2^40 leaves headroom for any plausible source id and
  * k <= ~8M replicas within a Long.
  */
object ScaleProbe {

  /** Per-replica id stride for every generated table. */
  private[graft] val ReplicaStride = 1L << 40

  def main(args: Array[String]): Unit = {
    require(args.length == 4 && Set("gen", "gen_emb", "gen_docs")(args(0)),
      "usage: ScaleProbe gen|gen_emb|gen_docs <srcDir> <outDir> <replicas>")
    val (src, out, n) = (args(1), args(2), args(3).toInt)
    val spark = Battery.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    args(0) match {
      case "gen" => gen(spark, src, out, n)
      case "gen_emb" => genEmbeddings(spark, src, out, n)
      case "gen_docs" => genDocuments(spark, src, out, n)
    }
    spark.stop()
  }

  private def replica(replicas: Int) =
    explode(sequence(lit(0), lit(replicas - 1))).as("k")

  private def gen(spark: SparkSession, src: String, out: String, replicas: Int): Unit = {
    val k = replica(replicas)
    genDocuments(spark, src, out, replicas)

    // lineitem for the sketch-family probes: rows replicate verbatim with
    // order keys offset per replica (value distributions — the sketch
    // input — are exactly the original's at Nx the row count)
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    li.select(col("*"), k)
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * lit(ReplicaStride))
      .drop("k")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // events for the stream-path probes: rows replicate verbatim with
    // event ids offset per replica (same ts range → same window/watermark
    // state cardinality per key, Nx the rows through it — which is what a
    // busier stream looks like; users stay disjoint per replica)
    val ev = spark.read.parquet(s"$src/events.parquet")
    ev.select(col("*"), k)
      .withColumn("event_id", col("event_id") + col("k") * lit(ReplicaStride))
      .withColumn("user_id", col("user_id") + col("k") * lit(ReplicaStride))
      .drop("k")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    genEmbeddings(spark, src, out, replicas)
    println(s"[scale] generated ${replicas}x corpus at $out")
  }

  /** `documents` Nx: replica k's ids are offset by k × [[ReplicaStride]]
    * and, for k > 0, every whitespace token gets the suffix `rk`.
    */
  private[graft] def genDocuments(spark: SparkSession, src: String, out: String,
                                  replicas: Int): Unit = {
    spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), replica(replicas))
      .select(
        (col("doc_id") + col("k") * lit(ReplicaStride)).as("doc_id"),
        when(col("k") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1r"), col("k").cast("string")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[scale] generated ${replicas}x documents at $out")
  }

  private def genEmbeddings(spark: SparkSession, src: String, out: String,
                            replicas: Int): Unit = {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    emb.select(col("vec_id"), col("embedding"), col("label"), replica(replicas))
      .select(
        (col("vec_id") + col("k") * lit(ReplicaStride)).as("vec_id"),
        expr("""CASE WHEN k = 0 THEN embedding
                ELSE transform(embedding,
                  (x, i) -> CAST(x * (1 - 2 * pmod(hash(i, k), 2)) AS FLOAT))
                END""").as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[scale] generated ${replicas}x embeddings at $out")
  }
}
