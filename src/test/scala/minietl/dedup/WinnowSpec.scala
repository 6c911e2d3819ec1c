package minietl.dedup

import scala.util.Random

import minietl.SparkTestBase
import minietl.functions.HashFamily
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Winnowing fingerprints: agreement with an independent driver-side
  * reference implementation, the SIGMOD'03 coverage guarantee as a random
  * property, edge cases, the zero-exchange plan contract for the scan-side
  * selection, and the capped-posting overlap join.
  */
class WinnowSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val M = 2147483647L
  private val Pos = 2097152L

  /** Driver-side md5-60-bit hash — independently re-derived from the
    * PortableHash contract (first 15 hex chars as a positive long).
    */
  private def md5h(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
  }

  /** Plain-Scala winnow over precomputed token hashes: the reference the
    * Spark column tree must agree with, written loop-style on purpose.
    */
  private def refWinnow(tokenHashes: Seq[Long], k: Int, w: Int): Set[(Int, Long)] = {
    val th = tokenHashes.map(h => ((h % M) + M) % M)
    if (th.isEmpty) return Set.empty
    val grams: Seq[Long] =
      if (th.length >= k) (0 to th.length - k)
        .map(i => th.slice(i, i + k).foldLeft(0L)((a, x) => (a * 31 + x) % M))
      else Seq(th.foldLeft(0L)((a, x) => (a * 31 + x) % M))
    val ords = grams.zipWithIndex.map { case (g, i) => g * Pos + i }
    val weff = math.min(w, ords.length)
    (0 to ords.length - weff)
      .map(j => ords.slice(j, j + weff).min)
      .toSet
      .map((o: Long) => ((o % Pos).toInt, o / Pos))
  }

  /** Tokenization mirrors both engines' split semantics: an empty string
    * yields ONE empty token (Spark `split` and DuckDB `string_split`
    * agree), so even an empty document fingerprints — same quirk as
    * `TextAnalysis.fingerprint`, kept for cross-op consistency.
    */
  private def refWinnowPortable(text: String, k: Int, w: Int): Set[(Int, Long)] =
    refWinnow(text.split(" ", -1).toSeq.map(md5h), k, w)

  private def sparkFps(texts: Seq[String], k: Int, w: Int): Map[Int, Set[(Int, Long)]] =
    Winnow.fingerprints(
        texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("doc_id", "text"),
        "text", "doc_id", k, w, HashFamily.Portable)
      .collect()
      .groupBy(_.getInt(0))
      .map { case (id, rows) =>
        id -> rows.map(r => (r.getInt(1), r.getLong(2))).toSet
      }

  test("portable fingerprints agree with the driver-side reference on random docs") {
    val rnd = new Random(7)
    val vocab = Vector("a", "bb", "ccc", "dog", "x1", "zz", "qqq", "m")
    val texts = (0 until 60).map { _ =>
      val n = rnd.nextInt(30)
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    for ((k, w) <- Seq((4, 8), (2, 3), (1, 1), (3, 50))) {
      val got = sparkFps(texts, k, w)
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got.getOrElse(i, Set.empty) === refWinnowPortable(t, k, w),
          s"doc $i k=$k w=$w text='$t'")
      }
    }
  }

  test("production (xxhash64) selection agrees with the reference given the same token hashes") {
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "one two three four five six seven eight nine ten one two three")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("doc_id", "text")
    // pull the engine's own token hashes, then winnow them driver-side
    val th = df.select(col("doc_id"),
        transform(split(col("text"), " "), t => pmod(xxhash64(t), lit(M))).as("h"))
      .as[(Int, Seq[Long])].collect().toMap
    val got = Winnow.fingerprints(df, "text", "doc_id", k = 3, w = 4)
      .collect().groupBy(_.getInt(0))
      .map { case (id, rs) => id -> rs.map(r => (r.getInt(1), r.getLong(2))).toSet }
    texts.indices.foreach { i =>
      assert(got(i) === refWinnow(th(i), 3, 4))
    }
  }

  test("guarantee: docs sharing a run of w+k-1 tokens share a fingerprint value") {
    val k = 4; val w = 8
    val rnd = new Random(42)
    def randToks(n: Int) = (0 until n).map(_ => "t" + rnd.nextInt(5000))
    (1 to 25).foreach { trial =>
      val run = randToks(w + k - 1) // minimum guaranteed-shareable span
      val a = (randToks(rnd.nextInt(40)) ++ run ++ randToks(rnd.nextInt(40))).mkString(" ")
      val b = (randToks(rnd.nextInt(40)) ++ run ++ randToks(rnd.nextInt(40))).mkString(" ")
      val fps = sparkFps(Seq(a, b), k, w)
      val shared = fps(0).map(_._2).intersect(fps(1).map(_._2))
      assert(shared.nonEmpty, s"trial $trial: no shared fingerprint value")
    }
  }

  test("edge cases: empty, single token, shorter than k, fewer grams than w") {
    val texts = Seq("", "solo", "a b", "a b c d e")
    val got = sparkFps(texts, k = 4, w = 8)
    // "" splits to one empty token (both engines), so it still fingerprints
    assert(got(0) === refWinnowPortable("", 4, 8) && got(0).size === 1)
    // every doc here selects exactly one fingerprint (<= w grams each)
    assert(got(1).size === 1 && got(1).head._1 === 0)
    assert(got(2).size === 1)
    assert(got(3) === refWinnowPortable("a b c d e", 4, 8))
    // short docs hash as one whole-doc gram: distinct texts -> distinct fps
    assert(Seq(got(0), got(1), got(2)).distinct.size === 3)
  }

  test("fingerprints plans with zero exchanges") {
    val df = (0 until 100).map(i => (i, s"tok$i tok${i + 1} tok${i + 2} x y z"))
      .toDF("doc_id", "text")
    val fp = Winnow.fingerprints(df, "text", "doc_id")
    fp.collect() // force execution so the executed plan exists
    val exchanges = fp.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "winnow selection must stay scan-side")
  }

  test("overlapPairs finds planted copied spans and respects minShared") {
    val k = 4; val w = 8
    val span = (0 until 30).map("s" + _).mkString(" ") // long copied span
    val texts = Seq(
      s"alpha beta gamma $span delta epsilon",
      s"one two $span three four five six",
      "totally unrelated text with its own words here padding padding more")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("doc_id", "text")
    val pairs = Winnow.overlapPairs(df, "text", "doc_id", k, w,
        minShared = 2, family = HashFamily.Portable)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((0, 1)))
    assert(pairs.head._3 >= 2) // a 30-token span shares several fingerprints
  }

  test("sharedSpans finds a planted exact span with exact positions and length") {
    val span = (0 until 20).map("s" + _).mkString(" ")
    val texts = Seq(
      s"a0 a1 a2 $span z0 z1",          // span at tokens 3..22
      s"b0 $span y0 y1 y2 y3",          // span at tokens 1..20
      "no shared content in this one at all padding words here")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("doc_id", "text")
    val spans = Winnow.sharedSpans(df, "text", "doc_id",
        k = 4, minSpanTokens = 8, family = HashFamily.Portable)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(spans.toSeq === Seq((0, 1, 3, 1, 20)))
  }

  test("sharedSpans splits non-adjacent repeats into separate spans per diagonal") {
    val s1 = (0 until 10).map("p" + _).mkString(" ")
    val s2 = (0 until 10).map("q" + _).mkString(" ")
    // doc0 = s1 GAP s2 ; doc1 = s2 GAP s1 -> two spans on different diagonals
    val texts = Seq(s"$s1 gap0 $s2", s"$s2 gapx $s1")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("doc_id", "text")
    val spans = Winnow.sharedSpans(df, "text", "doc_id", k = 4, minSpanTokens = 8)
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getLong(4))).sortBy(_._1)
    assert(spans.toSeq === Seq((0, 11, 10L), (11, 0, 10L)))
  }

  test("spanDedup removes spans from the higher id only; untouched docs round-trip") {
    val span = (0 until 12).map("c" + _).mkString(" ")
    val texts = Seq(
      s"keep0 keep1 $span tail0",
      s"$span other0 other1",            // loses the span (higher id)
      s"x0 x1 $span",                    // also loses it (vs doc0 AND doc1)
      "fully untouched text with nothing shared anywhere in the corpus")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("doc_id", "text")
    val out = Winnow.spanDedup(df, "text", "doc_id",
        k = 4, minSpanTokens = 8, family = HashFamily.Portable)
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(out(0) === texts(0))                       // id_a side always keeps
    assert(out(1) === "other0 other1")
    assert(out(2) === "x0 x1")
    assert(out(3) === texts(3))
  }

  test("docs shorter than k never seed spans — no phantom k-length span at min == k") {
    // two identical 2-token docs: the winnow whole-doc fallback gram would
    // match and report span_len = k (4) for a 2-token overlap; the span
    // path excludes sub-k docs from seeding, so nothing is reported, and
    // spanDedup still round-trips them untouched
    val df = Seq((0, "aa bb"), (1, "aa bb"), (2, (0 until 9).map("c" + _).mkString(" ")))
      .toDF("doc_id", "text")
    assert(Winnow.sharedSpans(df, "text", "doc_id",
      k = 4, minSpanTokens = 4, family = HashFamily.Portable).count() === 0)
    val out = Winnow.spanDedup(df, "text", "doc_id", k = 4, minSpanTokens = 4)
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(out(0) === "aa bb" && out(1) === "aa bb")
  }

  test("spanDedup empties a doc that is one big duplicated span") {
    val span = (0 until 15).map("e" + _).mkString(" ")
    val df = Seq((0, s"pre $span post"), (1, span)).toDF("doc_id", "text")
    val out = Winnow.spanDedup(df, "text", "doc_id", k = 4, minSpanTokens = 8)
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(out(0) === s"pre $span post")
    assert(out(1) === "")
  }

  test("spanDedup: null ids pass through unchanged; non-null docs still dedup") {
    val span = (0 until 12).map("n" + _).mkString(" ")
    val df = Seq((Some(0), s"lead $span"), (Some(1), s"$span trail"),
      (None, s"$span trail"), (None, "another null id doc"))
      .toDF("doc_id", "text")
    val out = Winnow.spanDedup(df, "text", "doc_id", k = 4, minSpanTokens = 8)
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)), r.getString(1)))
    // a null id can never appear in a span (id_a < id_b is never true under
    // null), so identity is the only correct rewrite — even for a null-id
    // doc whose text duplicates a real doc's span; and two null-id docs must
    // NOT be merged into one rebuilt token stream
    assert(out.filter(_._1.isEmpty).map(_._2).toSet ===
      Set(s"$span trail", "another null id doc"))
    assert(out.find(_._1.contains(1)).get._2 === "trail")
    assert(out.find(_._1.contains(0)).get._2 === s"lead $span")
  }

  test("spanDedup: duplicate ids fail fast instead of interleaving token streams") {
    val df = Seq((7, "aa bb cc dd ee ff gg hh"), (7, "zz yy xx ww vv uu tt ss"),
      (1, "unrelated words entirely here")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Winnow.spanDedup(df, "text", "doc_id").collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ")
    assert(chain.contains("duplicate id"), chain.take(500))
  }

  test("fingerprints fail fast past the 2^21-gram position-packing budget") {
    // n tokens with k=4 -> n-3 grams; one past 2^21 must raise rather than
    // silently overflow position bits into the gram hash (corrupt
    // fingerprints would excise WRONG spans downstream with no error)
    val n = 2097152 + 4
    val df = Seq((0, ("a " * n).trim)).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Winnow.fingerprints(df, "text", "doc_id", k = 4, w = 8).count()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ")
    assert(chain.contains("packing budget"), chain.take(500))
    // exactly at the budget still works (positions 0 .. 2^21-1 all fit);
    // all-equal grams make every window select its leftmost position, so
    // the fingerprint count is exactly ng - w + 1
    val ok = Seq((0, ("a " * (n - 1)).trim)).toDF("doc_id", "text")
    assert(Winnow.fingerprints(ok, "text", "doc_id", k = 4, w = 8).count() ===
      (2097152L - 8 + 1))
  }

  test("overlap drops boilerplate fingerprints past the posting cap") {
    val k = 2; val w = 2
    val boiler = "same same same same"
    // 12 docs all containing the identical text: every fingerprint's posting
    // list has 12 entries; with maxPostings=4 everything is censored and no
    // pair survives, instead of a 12x12 join blow-up.
    val df = (0 until 12).map(i => (i, boiler)).toDF("doc_id", "text")
    val out = Winnow.overlapPairs(df, "text", "doc_id", k, w,
      minShared = 1, maxPostings = 4, family = HashFamily.Portable)
    assert(out.count() === 0)
  }
}
