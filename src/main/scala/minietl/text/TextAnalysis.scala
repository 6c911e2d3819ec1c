package minietl.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import minietl.functions.HashFamily

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, heuristic language ID, and document
  * fingerprinting. All are pure `Column` expressions built from Spark's
  * codegen'd built-ins (split / higher-order array functions / xxhash64) —
  * no UDFs, so the whole pipeline stays inside whole-stage codegen and
  * scales linearly with executors.
  */
object TextAnalysis {

  /** Whitespace tokenization (the reference corpus is space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Regex tokenization for natural text: word pieces or single
    * non-space punctuation — a cheap BPE-ish proxy for token counting.
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("""[\p{L}\p{N}]+|[^\p{L}\p{N}\s]"""), lit(0))

  /** Adjacent-token n-grams as an array column: zip each length-(size-n+1)
    * token window via slice + zip_with. Per-row linear HOF work (fine — the
    * pair-explosion HOF pitfall only bites on joined pairs); the heavy
    * lifting (explode + count) stays in codegen'd relational ops.
    */
  def ngrams(toks: Column, n: Int): Column = {
    require(n >= 2, s"ngrams needs n >= 2, got $n")
    // docs shorter than n tokens yield an empty array (a negative slice
    // length is a runtime error, not an empty slice)
    val len = greatest(size(toks) - lit(n - 1), lit(0))
    (2 to n).foldLeft(slice(toks, lit(1), len)) { (acc, i) =>
      zip_with(acc, slice(toks, lit(i), len), (a, b) => concat_ws(" ", a, b))
    }
  }

  /** Corpus-wide top-k n-grams by count (ties broken lexicographically —
    * a total order, so the cut is deterministic). Explode → hash-agg with
    * map-side partials → global top-k; shuffle volume is O(distinct grams).
    */
  def topNgrams(df: org.apache.spark.sql.DataFrame, textCol: String,
                n: Int, k: Int): org.apache.spark.sql.DataFrame =
    df.select(explode(ngrams(tokens(trim(col(textCol))), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)

  /** Canonical whitespace/case normalization, the standard pre-dedup scrub:
    * ASCII-lowercase, control chars (C0 + DEL) to spaces, whitespace runs
    * collapsed to single spaces, ends trimmed. Pure scan-side codegen.
    *
    * Portable by construction: both regexes are in the Java∩RE2 dialect
    * subset (explicit char classes, no \s shorthand whose members differ
    * between engines), and `lower` agrees across engines on ASCII — the
    * reference corpus is verified pure-ASCII; non-ASCII case folding is
    * engine-specific and outside this contract.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\x00-\\x1f\\x7f]", " "),
      "[ ]+", " "))

  /** DuckDB twin of [[normalizeText]] over SQL fragment `textSql`. */
  def normalizeOracleExpr(textSql: String): String =
    s"trim(regexp_replace(regexp_replace(lower($textSql), " +
      s"'[\\x00-\\x1f\\x7f]', ' ', 'g'), '[ ]+', ' ', 'g'))"

  def tokenCount(text: Column): Column = size(tokens(text)).cast("bigint")

  def regexTokenCount(text: Column): Column = size(regexTokens(text)).cast("bigint")

  def charCount(text: Column): Column = length(text).cast("bigint")

  /** Fraction of n-grams that are repeats of an earlier n-gram in the same
    * document (1 - distinct/total) — the classic corpus-filtering
    * repetition signal ("duplicate n-gram fraction"). 0 for docs with no
    * n-grams. Pure per-row array work at the scan; no shuffle.
    */
  def dupNgramFraction(text: Column, n: Int): Column = {
    val g = ngrams(tokens(trim(text)), n)
    when(size(g) > 0,
      round(lit(1.0) - size(array_distinct(g)).cast("double") / size(g), 4))
      .otherwise(lit(0.0))
  }

  /** Fraction of adjacent token pairs that are equal ("the the") — flags
    * stutter/boilerplate runs. 0 for single-token docs.
    */
  def consecDupFraction(text: Column): Column = {
    val t = tokens(trim(text))
    // PER-ELEMENT CAPTURE RULE (also applied in squeezeRepeats /
    // dedupSegmentsInDoc below): a column referenced INSIDE an HOF lambda
    // body is a captured subtree re-evaluated on EVERY lambda invocation
    // once CollapseProject inlines it — the old
    // `filter(sequence(...), i => element_at(t, i) === element_at(t, i+1))`
    // re-ran the tokenizing split per ELEMENT, O(len²) splits per document
    // (the trap minietl.functions.WinnowOrds documents; exposed when the
    // r12 Bench stopped letting count() prune the select list). Arrays in
    // lambda ARGUMENT position evaluate once per row, so the adjacent-pair
    // comparison zips t with its shifted self instead.
    val eq = zip_with(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => when(a === b, 1L).otherwise(0L))
    when(size(t) > 1,
      round(aggregate(eq, lit(0L), (acc, x) => acc + x).cast("double")
        / (size(t) - 1), 4))
      .otherwise(lit(0.0))
  }

  /** REMOVE the stutter runs [[consecDupFraction]] measures: collapse every
    * run of consecutive identical tokens to one occurrence ("batch batch
    * batch" → "batch") — the cleaning twin of the signal, for pipelines
    * that repair instead of drop. Pure per-row array work at the scan
    * (codegen'd HOFs); the predecessor array is passed in lambda ARGUMENT
    * position (see consecDupFraction's capture rule — the old
    * `get(t, i-1)` capture re-split per element), with a null at the left
    * edge so null <=> comparisons keep the first element unconditionally;
    * the null-skipping array_join drops the squeezed slots (split never
    * yields null elements).
    */
  def squeezeRepeats(text: Column, delim: String = " "): Column = {
    val t = split(text, java.util.regex.Pattern.quote(delim))
    val prev = concat(array(lit(null).cast("string")),
      slice(t, lit(1), greatest(size(t) - 1, lit(0))))
    array_join(zip_with(t, prev, (x, p) => when(!(x <=> p), x)), delim)
  }

  /** Keep only the FIRST occurrence of each distinct segment, preserving
    * order — the C4 "deduplicate repeated lines within a document" step
    * with the segment delimiter as a parameter (default newline). Per-row
    * cost is O(segments²) equality checks — inherent to first-occurrence
    * keep — which is the right trade for documents with a bounded line
    * count; corpus-level paragraph dedup is
    * [[minietl.text.ParagraphDedup]]. The seen-set lives in the aggregate
    * ACCUMULATOR (a lambda variable, not a capture — the old
    * `array_position(t, x)` capture re-split per element; see
    * consecDupFraction's capture rule).
    */
  def dedupSegmentsInDoc(text: Column, delim: String = "\n"): Column = {
    val t = split(text, java.util.regex.Pattern.quote(delim))
    array_join(
      aggregate(t, array().cast("array<string>"),
        (acc, x) => when(array_contains(acc, x), acc)
          .otherwise(concat(acc, array(x)))),
      delim)
  }

  /** Distinct-token ratio — low values flag repetitive/spammy documents. */
  def uniqueTokenRatio(text: Column): Column = {
    val t = tokens(text)
    round(size(array_distinct(t)).cast("double") / size(t), 4)
  }

  /** Ratio of punctuation characters to all characters. */
  def punctRatio(text: Column): Column =
    round(size(regexp_extract_all(text, lit("""[^\p{L}\p{N}\s]"""), lit(0))).cast("double")
      / greatest(length(text), lit(1)), 4)

  /** Mean token length in characters (spaces excluded). */
  def avgWordLen(text: Column): Column = {
    val n = size(tokens(text))
    round((length(text) - (n - lit(1))).cast("double") / n, 4)
  }

  /** Frequency-ranked vocabulary over the whitespace tokens of `textCol`:
    * (term, term_count, term_id) with ids assigned 1..V by (count desc,
    * term asc) — the standard tokenizer-vocab ordering, fully
    * deterministic. `minCount` prunes the long tail before ranking.
    *
    * Scale note: counting shuffles O(distinct terms); the rank itself is a
    * GLOBAL row_number — correct here because a vocabulary is model-sized
    * (like IVF centroids), bounded by |distinct terms over minCount|, not
    * by the corpus. Do not point this at a column where that set is
    * corpus-sized (e.g. raw shingles).
    */
  def buildVocab(docs: DataFrame, textCol: String, minCount: Long = 1): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("term_count"))
      .where(col("term_count") >= minCount)
      .withColumn("term_id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("term_count").desc, col("term").asc)).cast("bigint"))

  /** Per-group corpus vocabulary health: token volume, distinct terms,
    * hapax legomena (terms occurring exactly once) and the derived
    * type-token / hapax ratios as floored basis points — the standard
    * quick read on corpus diversity and crawl-dup contamination (a
    * near-duplicated corpus shows a collapsing TTR; an OCR-noisy one, a
    * ballooning hapax share). All-integer outputs replay bit-for-bit.
    *
    * Scale shape: explode → two hash aggregations. The first shuffles
    * O(distinct (group, term)) counted pairs — bytes per distinct term,
    * not per token (map-side partial aggregation absorbs the token
    * volume); the second is group-cardinality. Nothing is collected.
    */
  def vocabStats(docs: DataFrame, textCol: String,
                 groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "vocabStats needs at least one group column")
    val g = groupCols.map(col)
    docs.select(g :+ explode(tokens(col(textCol))).as("__term"): _*)
      .groupBy(g :+ col("__term"): _*).agg(count(lit(1)).as("__tc"))
      .groupBy(g: _*)
      .agg(sum(col("__tc")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(when(col("__tc") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_bp",
        floor(col("n_terms") * lit(10000L) / col("n_tokens")).cast("bigint"))
      .withColumn("hapax_bp",
        floor(col("n_hapax") * lit(10000L) / col("n_terms")).cast("bigint"))
  }

  /** Encode each document as its vocabulary-id sequence (order-preserving;
    * out-of-vocabulary tokens → 0). Emits (idCol, token_ids, n_tokens,
    * n_oov). The vocabulary side is broadcast — it is model-sized by
    * construction ([[buildVocab]]); the corpus is scanned once, exploded,
    * and regrouped on the doc id (ONE shuffle of (id, pos, term_id)
    * triples — bytes, not text, after the join prunes the term strings).
    */
  def encodeDocs(docs: DataFrame, idCol: String, textCol: String,
                 vocab: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
    val ids = toks
      .join(broadcast(vocab.select(col("term"), col("term_id"))), Seq("term"), "left")
      .select(col(idCol), col("pos"), coalesce(col("term_id"), lit(0L)).as("tid"))
    ids.groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
        s => s("tid")).as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast("bigint"))
      .withColumn("n_oov",
        size(filter(col("token_ids"), x => x === 0L)).cast("bigint"))
  }

  /** The English stop list, shared with [[QualityRules]]. */
  def enStopwords: Seq[String] = stopwords("en")

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "for", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "que", "dans", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"))

  /** Count of tokens that appear in `words` (duplicates counted). */
  def stopwordCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(w => w: Any): _*)))

  /** Stopword ratio against the English list — a standard quality signal. */
  def stopwordRatio(text: Column): Column = {
    val t = tokens(lower(text))
    round(stopwordCount(t, stopwords("en")).cast("double") / greatest(size(t), lit(1)), 4)
  }

  /** Composite quality score in integer basis points, 0..100000: rewards
    * natural length (capped at 500 chars), lexical diversity and presence of
    * function words, penalizes punctuation soup. Computed entirely in
    * integer arithmetic (scaled integers + floor of exact-integer-safe
    * double divisions) so the value is bit-reproducible across engines —
    * float weights like 0.3 round differently between runtimes at decimal
    * half-boundaries.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val ltoks = tokens(lower(text))
    val bigL = length(text).cast("bigint")
    val n = greatest(size(toks), lit(1)).cast("bigint")
    val u = size(array_distinct(toks)).cast("bigint")
    val ns = greatest(size(ltoks), lit(1)).cast("bigint")
    val k = stopwordCount(ltoks, stopwords("en")).cast("bigint")
    val p = size(regexp_extract_all(text, lit("""[^\p{L}\p{N}\s]"""), lit(0))).cast("bigint")
    val lenBp = least(bigL * 20, lit(10000L))
    val uniqBp = floor(u * lit(10000.0) / n).cast("bigint")
    val stopBp = least(floor(k * lit(50000.0) / ns).cast("bigint"), lit(10000L))
    val punctBp = floor(p * lit(10000.0) / greatest(bigL, lit(1L))).cast("bigint")
    lit(3L) * lenBp + lit(3L) * uniqBp + lit(3L) * stopBp + (lit(10000L) - punctBp)
  }

  /** Heuristic language ID over {en, es, fr, de, zh}: CJK characters force
    * zh; otherwise the language whose stopword list hits most tokens wins,
    * ties broken by fixed priority en > de > es > fr; no hits at all ->
    * "und" (undetermined). Runs as one codegen'd expression per row —
    * the n-gram-profile approach of public langid tools reduced to its
    * scalable core (set membership counting).
    */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val cjk = size(regexp_extract_all(text, lit("""[一-鿿]"""), lit(0)))
    val en = stopwordCount(toks, stopwords("en"))
    val es = stopwordCount(toks, stopwords("es"))
    val fr = stopwordCount(toks, stopwords("fr"))
    val de = stopwordCount(toks, stopwords("de"))
    val top = greatest(en, es, fr, de)
    when(cjk > 0, lit("zh"))
      .when(top === 0, lit("und"))
      .when(en === top, lit("en"))
      .when(de === top, lit("de"))
      .when(es === top, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Per-document term frequencies: one row per (doc, term) with the term's
    * count and the document's token length. One explode + one groupBy; the
    * shuffle key is (doc, term), so skew only appears for pathological
    * single-term documents.
    */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).cast("bigint").as("doc_len"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("doc_id", "doc_len", "term")
      .agg(count(lit(1)).as("tf"))

  /** Smoothed TF-IDF weights per (doc, term):
    * idf = ln((N + 1) / (df + 1)) + 1 (sklearn-style smoothing — never
    * negative, never divides by zero). Document frequency is a second
    * aggregation over distinct (doc, term); the (term, idf) side joins back
    * with an explicit broadcast — natural-language vocabularies are tiny
    * next to the corpus. For a pathological vocabulary beyond executor
    * memory, drop the hint and let the planner shuffle on term.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // checkpointed: both the weight join and the document-frequency
    // aggregation read it, and tokenization is the expensive scan-side step
    val tf = minietl.pipeline.RunCaches.checkpoint(termFrequencies(docs, idCol, textCol))
    // document count stays a lazy one-row aggregate (cross-joined like the
    // SQL formulation) — no eager job at construction time
    val n = docs.agg(count(lit(1)).as("__n"))
    // explicit broadcasts: the cross-joined aggregate hides size stats from
    // the planner, which would otherwise fall back to a sort-merge join on
    // the (small) vocabulary side — measured 3× slower end-to-end
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .withColumn("idf", log((col("__n") + 1).cast("double") / (col("df") + 1)) + 1)
      .drop("__n")
    tf.join(broadcast(df_), "term")
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("idf"), (col("tf") * col("idf")).as("weight"))
  }

  /** Okapi BM25 term scores per (doc, term):
    * score = idf * tf * (k1+1) / (tf + k1 * (1 - b + b * len/avgLen)),
    * idf = ln(1 + (N - df + 0.5) / (df + 0.5)). The avg document length is
    * one scalar aggregate; everything else reuses the TF/DF plan.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // checkpointed: read by the score join, the DF aggregation, and the
    // average-length aggregate
    val tf = minietl.pipeline.RunCaches.checkpoint(termFrequencies(docs, idCol, textCol))
    // N and the average length stay lazy one-row aggregates — no eager jobs
    // at construction, and an empty corpus yields an empty frame instead of
    // a driver-side unboxing error
    val n = docs.agg(count(lit(1)).as("__n"))
    val avgLen = tf.select(col("doc_id"), col("doc_len")).distinct()
      .agg(avg("doc_len").as("__avg_len"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .withColumn("idf",
        log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)))
      .drop("__n")
    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(avgLen))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("idf"),
        (col("idf") * col("tf") * (lit(k1) + 1) /
          (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("doc_len") / col("__avg_len"))))
          .as("score"))
  }

  private val fpMod = 2147483647L // 2^31-1: acc*31 + h < 2^36, no ANSI overflow

  /** Order-sensitive document fingerprint: a polynomial rolling hash over
    * per-token hash values, computed mod 2^31-1 so every intermediate fits a
    * long under ANSI arithmetic (Spark 4 default). Documents equal up to
    * whitespace normalization collide; any token swap changes the value.
    * Deterministic across runs/JVMs. The production family's token hash is
    * the engine-native xxhash64, the cheapest high-quality 64-bit hash in
    * the scan path; the portable family's md5-60-bit token hash (~3x the
    * per-token cost) is one any engine computes identically, so the value
    * is verifiable by an independent SQL engine (battery q_fingerprint).
    */
  def fingerprint(text: Column, family: HashFamily = HashFamily.Production): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * lit(31L) + pmod(family.hash(t), lit(fpMod)), lit(fpMod)))
}
