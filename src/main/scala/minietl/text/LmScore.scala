package minietl.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained language-model-style quality scoring — the CCNet/Gopher
  * recipe of "score each document by how surprising its token sequence is
  * under a model trained on the corpus itself", distilled to arithmetic
  * every engine reproduces exactly.
  *
  * Model: bigram counts over the whitespace-token stream (the same
  * tokenization as [[TextAnalysis.tokens]]/`topNgrams`). The conditional
  * probability of bigram (a, b) is `c(a,b) / c(a·)` where `c(a·)` sums the
  * counts of bigrams starting with `a`. Instead of float `-log2 p` (whose
  * ln/log2 differs across engines in the last ulp and breaks hash
  * verification), each bigram scores **integer surprise bits**
  * `bitlen(c(a·) DIV c(a,b))` = floor(log2(1/p)) + 1 — computed with
  * integer division and bit length only. A document's score is the exact
  * fixed-point average `(1000 * Σ surprise) DIV n_bigrams` millibits.
  *
  * High average surprise ⇒ token transitions rare in the corpus (gibberish,
  * boilerplate-free noise, wrong-language text); low ⇒ repetitive/templated
  * text. Both tails are the usual filtering targets.
  *
  * Scale shape (100 TB): bigram occurrences are scanned once and
  * checkpointed (two count aggregations + the per-doc join read it;
  * [[minietl.pipeline.RunCaches.checkpoint]]); the count tables are
  * O(distinct bigrams) and join against occurrences on the bigram string
  * (shuffle), then one groupBy(doc) with map-side combine. No driver-side
  * materialization. Inside a run scope the scope releases the occurrence
  * checkpoint; outside one the ContextCleaner frees it once the scores
  * frame is unreachable.
  *
  * Documents with fewer than two tokens have no bigrams and are absent
  * from the output — score them separately (they are degenerate for any
  * LM signal).
  */
object LmScore {

  /** Per-document bigram-surprise score:
    * (doc_id, n_bigrams BIGINT, surprise_bits BIGINT, avg_millibits BIGINT).
    */
  def bigramSurprise(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    scoresAndOcc(docs, idCol, textCol)._1

  /** [[bigramSurprise]] materialized: checkpoints the scores
    * ([[minietl.pipeline.RunCaches.checkpoint]]), releases the occurrence
    * checkpoint at once, and returns the checkpointed frame, which holds
    * one 4-column row per scored document — bounded and far smaller than
    * the occurrence frame it replaces.
    */
  def bigramSurpriseEager(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (scores, occ) = scoresAndOcc(docs, idCol, textCol)
    val out = minietl.pipeline.RunCaches.checkpoint(scores)
    minietl.pipeline.RunCaches.releaseNow(occ)
    out
  }

  /** The YAML `lm_surprise` stage: [[bigramSurpriseEager]]'s scores
    * left-joined back onto `docs` by `idCol` (docs without bigrams keep
    * null scores), so a filter can threshold `avg_millibits` next. `docs`
    * is checkpointed first: the scores and the join both read it.
    */
  def withBigramSurprise(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val in = minietl.pipeline.RunCaches.checkpoint(docs)
    in.join(bigramSurpriseEager(in, idCol, textCol).withColumnRenamed("doc_id", idCol),
      Seq(idCol), "left")
  }

  private def scoresAndOcc(docs: DataFrame, idCol: String,
                           textCol: String): (DataFrame, DataFrame) = {
    val occ = minietl.pipeline.RunCaches.checkpoint(docs
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.ngrams(TextAnalysis.tokens(col(textCol)), 2)).as("bigram")))
    val bigCounts = occ.groupBy("bigram").agg(count(lit(1)).as("c_bigram"))
    val prefCounts = bigCounts
      .withColumn("prefix", expr("split_part(bigram, ' ', 1)"))
      .groupBy("prefix").agg(sum("c_bigram").as("c_prefix"))
    val scores = occ
      .join(bigCounts, "bigram")
      .withColumn("prefix", expr("split_part(bigram, ' ', 1)"))
      .join(prefCounts, "prefix")
      .withColumn("surprise", expr("length(bin(c_prefix DIV c_bigram))").cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("surprise").as("surprise_bits"))
      .withColumn("avg_millibits", expr("(1000 * surprise_bits) DIV n_bigrams"))
    (scores, occ)
  }
}
