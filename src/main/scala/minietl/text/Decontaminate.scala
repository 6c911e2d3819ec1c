package minietl.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: drop every training document that shares at
  * least one n-token shingle with a benchmark/eval set, so test questions
  * cannot leak into the training corpus.
  *
  * Shape for 100 TB: the benchmark side is small by construction (eval
  * suites are thousands of documents, not billions), so its distinct gram
  * set is explicitly `broadcast()` — the training corpus is touched by ONE
  * scan-side hash-probe pass (explode grams → broadcast semi-join → distinct
  * tainted ids → broadcast anti-join back). No all-to-all shuffle of
  * training data at any point; the only aggregation is over tainted ids,
  * which is bounded by the training row count and in practice tiny.
  *
  * Grams are joined as strings, which keeps the result EXACT (hashing the
  * grams to 64-bit would shrink the broadcast at a ~n²/2⁶⁴ false-removal
  * risk; at benchmark scale the strings fit comfortably).
  */
object Decontaminate {

  /** Training rows of `train` that share no n-gram with `bench`.
    * Documents shorter than n tokens carry no grams and always survive.
    */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"decontamination shingle width must be >= 2, got $n")
    def grams(df: DataFrame): DataFrame =
      df.select(col(idCol),
        explode(TextAnalysis.ngrams(TextAnalysis.tokens(trim(col(textCol))), n))
          .as("__gram"))
    val benchGrams = grams(bench).select("__gram").distinct()
    val tainted = grams(train)
      .join(broadcast(benchGrams), "__gram")
      .select(idCol).distinct()
    // the bench gram set is small BY CONSTRUCTION, hence the explicit
    // broadcast above; the tainted-id set is only small in the typical case
    // (low contamination), so its join is left to AQE, which broadcasts
    // from runtime stats and falls back to a shuffle join when a heavily
    // contaminated corpus would blow the broadcast limit
    train.join(tainted, Seq(idCol), "left_anti")
  }

  /** Per-document contamination FRACTION — the graded companion of the
    * binary [[decontaminate]]: for every training document, the share of
    * its DISTINCT n-gram shingles that appear in the benchmark gram set.
    * Practitioners threshold this (e.g. drop > 0.8 as near-copies, audit
    * 0.1–0.8, keep the long tail) instead of dropping on a single hit.
    *
    * The fraction is emitted as exact integers (matched grams, total
    * grams) plus a fixed-point `permille = (1000 * matched) DIV total` so
    * the score replays bit-for-bit. Documents with no grams (shorter than
    * n tokens) are absent — they carry no contamination signal.
    *
    * Plan shape: same as [[decontaminate]] (explode → broadcast gram join)
    * with a per-doc distinct + count instead of the id semi-join; the
    * counted frame is gram-distinct per doc, so the aggregation state is
    * bounded by document shingle vocabulary, and the only data-scale
    * shuffle carries (doc_id, matched/total) partials.
    */
  def contaminationFraction(train: DataFrame, bench: DataFrame,
                            idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"decontamination shingle width must be >= 2, got $n")
    def grams(df: DataFrame): DataFrame =
      df.select(col(idCol),
        explode(TextAnalysis.ngrams(TextAnalysis.tokens(trim(col(textCol))), n))
          .as("__gram"))
    val benchGrams = grams(bench).select("__gram").distinct()
      .withColumn("__hit", lit(1L))
    grams(train).distinct()
      .join(broadcast(benchGrams), Seq("__gram"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum("__hit"), lit(0L)).as("n_matched"))
      .withColumn("permille", expr("(1000 * n_matched) DIV n_grams"))
  }

  /** Bloom-prefiltered decontamination — same EXACT result as
    * [[decontaminate]], different 100 TB cost profile.
    *
    * The string-broadcast path above ships every distinct bench gram to
    * every executor; a large eval suite (or a wide shingle) can make that
    * broadcast hundreds of MB. Here the bench grams are folded into ONE
    * fixed-size Bloom filter (Spark's native `BloomFilterAggregate`, the
    * same sketch runtime row-level filtering uses), embedded as a binary
    * literal, and probed scan-side with the codegen'd
    * `BloomFilterMightContain` — the training corpus pays one hash probe
    * per gram and only bloom-POSITIVE grams (true hits + the fpp tail)
    * reach the exact string-equality verify join. False positives cost
    * only verify work, never correctness: the final anti-join key set is
    * identical to the exact path's.
    *
    * The verify join is deliberately a SHUFFLE hash join (not a broadcast):
    * re-broadcasting the full bench gram set here would reintroduce the
    * very bottleneck the sketch removes. Both verify inputs are small —
    * the bench grams by construction, the training side because the bloom
    * probe already dropped every gram the sketch has never seen — so the
    * verify shuffle moves only the contaminated tail plus the fpp noise.
    *
    * The collected sketch is model-sized (`numBits/8` bytes, independent
    * of corpus size), the same bounded-driver-state shape as
    * [[minietl.sim.Ivf]] centroids.
    */
  def decontaminateBloom(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         estimatedGrams: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.minietl.ColumnBridge.{column, expression}
    import org.apache.spark.sql.types.BinaryType
    require(n >= 2, s"decontamination shingle width must be >= 2, got $n")
    def grams(df: DataFrame): DataFrame =
      df.select(col(idCol),
        explode(TextAnalysis.ngrams(TextAnalysis.tokens(trim(col(textCol))), n))
          .as("__gram"))
    // the sketch aggregate (collected just below) and the exact-verify join
    // both read the distinct bench grams
    val benchGrams = minietl.pipeline.RunCaches.checkpoint(
      grams(bench).select("__gram").distinct())
    val sketch = benchGrams
      .agg(column(new BloomFilterAggregate(
        expression(xxhash64(col("__gram"))), estimatedGrams)
        .toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]](0)
    if (sketch == null) return train // empty bench: nothing can be tainted
    val mightContain = column(new BloomFilterMightContain(
      Literal(sketch, BinaryType), expression(xxhash64(col("__gram")))))
    val tainted = grams(train)
      .filter(mightContain)
      .join(benchGrams.hint("shuffle_hash"), "__gram")
      .select(idCol).distinct()
    train.join(tainted, Seq(idCol), "left_anti")
  }
}
