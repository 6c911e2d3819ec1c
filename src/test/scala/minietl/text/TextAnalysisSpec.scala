package minietl.text
// round-8 additions at the bottom: squeezeRepeats / dedupSegmentsInDoc

import minietl.SparkTestBase
import minietl.functions.HashFamily
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextAnalysisSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
    spark.sql("SELECT 1").select(c.as("v")).collect()(0)

  test("token and char counting") {
    assert(one(TextAnalysis.tokenCount(lit("a b c"))).getLong(0) === 3L)
    assert(one(TextAnalysis.charCount(lit("abcd"))).getLong(0) === 4L)
    // regex tokens: word pieces + single punctuation marks
    assert(one(TextAnalysis.regexTokenCount(lit("Hello, world!"))).getLong(0) === 4L)
  }

  test("normalizeText lowercases, scrubs control chars, collapses spaces") {
    assert(one(TextAnalysis.normalizeText(lit("\t Hello  WORLD \n")))
      .getString(0) === "hello world")
    assert(one(TextAnalysis.normalizeText(lit("already clean")))
      .getString(0) === "already clean")
    assert(one(TextAnalysis.normalizeText(lit(""))).getString(0) === "")
  }

  test("uniqueTokenRatio flags repetition") {
    assert(one(TextAnalysis.uniqueTokenRatio(lit("a a a a"))).getDouble(0) === 0.25)
    assert(one(TextAnalysis.uniqueTokenRatio(lit("a b c d"))).getDouble(0) === 1.0)
  }

  test("punctRatio and avgWordLen") {
    assert(one(TextAnalysis.punctRatio(lit("ab!"))).getDouble(0) === 0.3333)
    // "ab cd": 5 chars - 1 space = 4 letter chars / 2 tokens
    assert(one(TextAnalysis.avgWordLen(lit("ab cd"))).getDouble(0) === 2.0)
  }

  test("stopwordRatio uses the english list, lowercased") {
    assert(one(TextAnalysis.stopwordRatio(lit("The cat in a hat"))).getDouble(0) === 0.6)
  }

  test("langId: stopword voting with cjk override and und fallback") {
    val cases = Seq(
      "the cat is in the house and it is warm" -> "en",
      "el perro y la casa en un lugar de que se" -> "es",
      "le chat dans les rues de la ville pour une heure" -> "fr",
      "der hund und die katze ist nicht mit auf sich" -> "de",
      "你好 世界" -> "zh",
      "zzz qqq www" -> "und")
    cases.foreach { case (text, want) =>
      assert(one(TextAnalysis.langId(lit(text))).getString(0) === want, s"text=$text")
    }
  }

  test("qualityScore: deterministic, integer basis points, orders sanely") {
    val clean = one(TextAnalysis.qualityScore(
      lit("the quick brown fox jumps over a lazy dog in the field"))).getLong(0)
    val soup = one(TextAnalysis.qualityScore(lit("!!! ??? *** !!!"))).getLong(0)
    assert(clean > soup)
    val again = one(TextAnalysis.qualityScore(
      lit("the quick brown fox jumps over a lazy dog in the field"))).getLong(0)
    assert(clean === again)
  }

  test("tfidf: common terms get low idf, rare terms high; tf counts repeats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark streams"),
      (2L, "spark batch"),
      (3L, "pandas batch")).toDF("doc_id", "text")
    val w = minietl.text.TextAnalysis.tfidf(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(w((1L, "spark"))._1 === 2L) // tf counts repeats
    assert(w((1L, "spark"))._2 === 2L) // df = docs containing term
    assert(w((1L, "streams"))._3 > w((1L, "spark"))._3) // rarer → higher idf
    // smoothed idf of a term in every doc: ln(4/4) + 1 = 1
    val batchIdf = w((2L, "batch"))._3
    assert(math.abs(w((3L, "pandas"))._3 - (math.log(2.0) + 1)) < 1e-12)
    assert(math.abs(batchIdf - (math.log(4.0 / 3) + 1)) < 1e-12)
  }

  test("bm25: saturates with tf and discounts long documents") {
    import spark.implicits._
    val docs = Seq(
      (1L, "term term term term filler"),
      (2L, "term filler"),
      (3L, "other words entirely here")).toDF("doc_id", "text")
    val s = minietl.text.TextAnalysis.bm25(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(5)).toMap
    // higher tf scores higher, but sublinearly (saturation, not 4x)
    assert(s((1L, "term")) > s((2L, "term")))
    assert(s((1L, "term")) < s((2L, "term")) * 4)
  }

  test("fingerprint is deterministic and order-sensitive") {
    val a = one(TextAnalysis.fingerprint(lit("alpha beta gamma"))).getLong(0)
    val a2 = one(TextAnalysis.fingerprint(lit("alpha beta gamma"))).getLong(0)
    val b = one(TextAnalysis.fingerprint(lit("gamma beta alpha"))).getLong(0)
    assert(a === a2)
    assert(a !== b)
    assert(a >= 0 && a < 2147483647L)
  }

  test("fingerprintPortable shares the fold but swaps the token hash") {
    val a = one(TextAnalysis.fingerprint(lit("alpha beta gamma"), HashFamily.Portable)).getLong(0)
    val a2 = one(TextAnalysis.fingerprint(lit("alpha beta gamma"), HashFamily.Portable)).getLong(0)
    val b = one(TextAnalysis.fingerprint(lit("gamma beta alpha"), HashFamily.Portable)).getLong(0)
    val native = one(TextAnalysis.fingerprint(lit("alpha beta gamma"))).getLong(0)
    assert(a === a2)
    assert(a !== b)
    assert(a !== native) // different token-hash basis
    assert(a >= 0 && a < 2147483647L)
  }

  test("ngrams emits adjacent token windows; short docs yield empty arrays") {
    import org.apache.spark.sql.functions.split
    val bi = one(TextAnalysis.ngrams(split(lit("a b c d"), " "), 2)).getSeq[String](0)
    assert(bi === Seq("a b", "b c", "c d"))
    val tri = one(TextAnalysis.ngrams(split(lit("a b c d"), " "), 3)).getSeq[String](0)
    assert(tri === Seq("a b c", "b c d"))
    assert(one(TextAnalysis.ngrams(split(lit("solo"), " "), 2)).getSeq[String](0).isEmpty)
    assertThrows[IllegalArgumentException](TextAnalysis.ngrams(lit("x"), 1))
  }

  test("repetition signals: duplicate n-grams and adjacent stutter") {
    // "a b a b a" → bigrams [a b, b a, a b, b a] → 2 distinct of 4 → 0.5
    assert(one(TextAnalysis.dupNgramFraction(lit("a b a b a"), 2)).getDouble(0) === 0.5)
    assert(one(TextAnalysis.dupNgramFraction(lit("all words differ here"), 2)).getDouble(0) === 0.0)
    assert(one(TextAnalysis.dupNgramFraction(lit("solo"), 2)).getDouble(0) === 0.0)
    // "x x y x x" → adjacent pairs [T, F, F, T] → 0.5
    assert(one(TextAnalysis.consecDupFraction(lit("x x y x x"))).getDouble(0) === 0.5)
    assert(one(TextAnalysis.consecDupFraction(lit("solo"))).getDouble(0) === 0.0)
  }

  test("buildVocab ranks by count desc then term; encodeDocs preserves order with OOV=0") {
    val docs = Seq((1L, "b a b c"), (2L, "b a zz")).toDF("doc_id", "text")
    val vocab = TextAnalysis.buildVocab(docs, "text", minCount = 2)
    val v = vocab.orderBy("term_id").select("term", "term_count", "term_id")
      .as[(String, Long, Long)].collect().toSeq
    // b:3, a:2 survive minCount=2; c and zz pruned
    assert(v === Seq(("b", 3L, 1L), ("a", 2L, 2L)))
    val enc = TextAnalysis.encodeDocs(docs, "doc_id", "text", vocab)
      .orderBy("doc_id").collect()
    assert(enc(0).getSeq[Long](1) === Seq(1L, 2L, 1L, 0L)) // b a b c
    assert(enc(1).getSeq[Long](1) === Seq(1L, 2L, 0L)) // b a zz
    assert(enc(1).getAs[Long]("n_oov") === 1L)
    assert(enc(0).getAs[Long]("n_tokens") === 4L)
  }

  test("topNgrams counts corpus-wide with a deterministic tie-broken cut") {
    import spark.implicits._
    val docs = Seq("x y x y", "x y z", "z w").toDF("text")
    val top = TextAnalysis.topNgrams(docs, "text", n = 2, k = 3)
      .as[(String, Long)].collect().toSeq
    // "x y" appears 3×; the 1-count grams cut lexicographically
    assert(top === Seq(("x y", 3L), ("y x", 1L), ("y z", 1L)))
  }

  test("vocabStats computes exact token/term/hapax counts and floored ratios") {
    import spark.implicits._
    val docs = Seq(
      ("en", "a b a c"), // en: tokens {a:3, b:2, c:1} with next row
      ("en", "a b"),
      ("fr", "q q q")).toDF("lang", "text")
    val out = TextAnalysis.vocabStats(docs, "text", Seq("lang"))
      .orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // en: 6 tokens, 3 terms, 1 hapax → ttr 5000 bp, hapax 3333 bp
    // fr: 3 tokens, 1 term, 0 hapax → ttr 3333 bp, hapax 0 bp
    assert(out === Seq(
      ("en", 6L, 3L, 1L, 5000L, 3333L),
      ("fr", 3L, 1L, 0L, 3333L, 0L)))
  }

  test("squeezeRepeats collapses consecutive duplicate tokens only") {
    val out = Seq(
      "batch batch batch stream stream dup",
      "a b a b", // alternating: nothing consecutive, unchanged
      "x",
      "")
      .toDF("text")
      .select(TextAnalysis.squeezeRepeats(col("text")).as("s"))
      .as[String].collect().toSeq
    assert(out === Seq("batch stream dup", "a b a b", "x", ""))
  }

  test("dedupSegmentsInDoc keeps first occurrences in order") {
    val out = Seq("l1\nl2\nl1\nl3\nl2", "only\nonly\nonly", "solo")
      .toDF("text")
      .select(TextAnalysis.dedupSegmentsInDoc(col("text")).as("s"))
      .as[String].collect().toSeq
    assert(out === Seq("l1\nl2\nl3", "only", "solo"))
    // custom delimiter: first-occurrence word dedup
    val words = Seq(Tuple1("c a b a c")).toDF("text")
      .select(TextAnalysis.dedupSegmentsInDoc(col("text"), " ").as("s"))
      .as[String].collect()(0)
    assert(words === "c a b")
  }
}
