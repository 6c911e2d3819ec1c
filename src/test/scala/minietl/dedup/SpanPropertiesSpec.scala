package minietl.dedup

import minietl.SparkTestBase
import minietl.functions.HashFamily
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for [[Winnow.sharedSpans]] / [[Winnow.spanDedup]] against
  * a brute-force driver-side reference: on arbitrary corpora (small alphabet
  * for natural repeats, plus explicitly planted cross-document splices) the
  * seed-and-extend operator must report EXACTLY the maximal shared token
  * runs of length >= minSpanTokens, and span-level dedup must rebuild every
  * document to the reference's kept-token sequence. The reference walks
  * alignment diagonals directly — O(n^2) per pair, fine at test size,
  * impossible at corpus scale, which is the point of the distributed
  * operator.
  */
class SpanPropertiesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val K = 3
  private val MinSpan = 5

  /** Deterministic generator sampling (no scalatest-scalacheck bridge in
    * the offline cache): seeded draws, one corpus per seed.
    */
  private def forAll[T](g: Gen[T], draws: Int)(body: (T, Long) => Unit): Unit =
    (1 to draws).foreach { i =>
      body(g.pureApply(Gen.Parameters.default, Seed(i.toLong)), i.toLong)
    }

  // small alphabet so runs recur naturally; token lists, not strings, so
  // the reference and the operator tokenize identically (single space)
  private val corpusGen: Gen[Vector[Vector[String]]] = for {
    nDocs <- Gen.chooseNum(4, 9)
    docs <- Gen.listOfN(nDocs, for {
      n <- Gen.chooseNum(0, 35)
      toks <- Gen.listOfN(n, Gen.oneOf("t0", "t1", "t2", "t3", "t4", "t5"))
    } yield toks.toVector)
    // plant a cross-document splice: copy a slice of one doc into another
    // (guarantees interesting spans beyond small-alphabet chance repeats)
    planted <- {
      val base = docs.toVector
      val candidates = base.zipWithIndex.filter(_._1.length >= MinSpan)
      if (candidates.size < 2) Gen.const(base)
      else for {
        (src, _) <- Gen.oneOf(candidates)
        dstIdx <- Gen.chooseNum(0, base.length - 1)
        start <- Gen.chooseNum(0, src.length - MinSpan)
        len <- Gen.chooseNum(MinSpan, src.length - start)
        at <- Gen.chooseNum(0, base(dstIdx).length)
      } yield base.updated(dstIdx,
        base(dstIdx).take(at) ++ src.slice(start, start + len) ++ base(dstIdx).drop(at))
    }
  } yield planted

  /** All maximal shared runs of >= minSpan tokens between a and b, walked
    * per alignment diagonal: (start_a, start_b, len).
    */
  private def refSpans(a: Vector[String], b: Vector[String],
                       minSpan: Int): Set[(Int, Int, Long)] = {
    val out = scala.collection.mutable.Set.empty[(Int, Int, Long)]
    var diag = -(b.length - 1)
    while (diag <= a.length - 1) {
      var i = math.max(0, diag)
      var j = i - diag
      var runStart = -1
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { if (runStart < 0) runStart = i }
        else {
          if (runStart >= 0 && i - runStart >= minSpan)
            out += ((runStart, runStart - diag, (i - runStart).toLong))
          runStart = -1
        }
        i += 1; j += 1
      }
      if (runStart >= 0 && i - runStart >= minSpan)
        out += ((runStart, runStart - diag, (i - runStart).toLong))
      diag += 1
    }
    out.toSet
  }

  /** Expected spanDedup text per doc: remove every position of doc j that a
    * refSpans span against ANY lower-id doc covers, keep the rest in order.
    */
  private def refDedup(corpus: Vector[Vector[String]],
                       minSpan: Int): Vector[String] =
    corpus.zipWithIndex.map { case (doc, j) =>
      val covered = scala.collection.mutable.Set.empty[Int]
      (0 until j).foreach { i =>
        refSpans(corpus(i), doc, minSpan).foreach { case (_, sb, len) =>
          (sb until sb + len.toInt).foreach(covered.add)
        }
      }
      doc.zipWithIndex.collect { case (t, p) if !covered(p) => t }.mkString(" ")
    }

  // docs shorter than K tokenize to a single whole-doc gram whose island
  // yields span_len = K < MinSpan, so the filter drops it — the reference
  // (which reports only true runs) agrees by construction. Empty docs
  // tokenize to [""], same story.
  private def toDf(corpus: Vector[Vector[String]]) =
    corpus.zipWithIndex.map { case (toks, i) => (i, toks.mkString(" ")) }
      .toDF("doc_id", "text")

  test("sharedSpans reports exactly the brute-force maximal shared runs (portable hash)") {
    forAll(corpusGen, 10) { (corpus, seed) =>
      val got = Winnow.sharedSpans(toDf(corpus), "text", "doc_id",
          k = K, minSpanTokens = MinSpan, family = HashFamily.Portable)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
        .toSet
      val want = (for {
        i <- corpus.indices; j <- corpus.indices if i < j
        (sa, sb, len) <- refSpans(corpus(i), corpus(j), MinSpan)
      } yield (i, j, sa, sb, len)).toSet
      assert(got === want, s"seed $seed corpus ${corpus.map(_.mkString(" "))}")
    }
  }

  test("sharedSpans production hash agrees with the reference too") {
    forAll(corpusGen, 6) { (corpus, seed) =>
      val got = Winnow.sharedSpans(toDf(corpus), "text", "doc_id",
          k = K, minSpanTokens = MinSpan)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
        .toSet
      val want = (for {
        i <- corpus.indices; j <- corpus.indices if i < j
        (sa, sb, len) <- refSpans(corpus(i), corpus(j), MinSpan)
      } yield (i, j, sa, sb, len)).toSet
      assert(got === want, s"seed $seed")
    }
  }

  /** Iterated single-pass reference: re-run [[refDedup]] on the rewritten
    * corpus (re-tokenized the way the engine re-tokenizes its rebuilt
    * texts) until a round changes nothing. Returns the fixpoint texts and
    * the number of CHANGING rounds — the observable
    * [[Winnow.spanDedupFixpointWithStats]] must match.
    */
  private def refDedupFixpoint(corpus: Vector[Vector[String]],
                               minSpan: Int): (Vector[String], Int) = {
    var cur = corpus
    var rounds = 0
    while (rounds < 100) {
      val next = refDedup(cur, minSpan)
      if (next == cur.map(_.mkString(" "))) return (next, rounds)
      cur = next.map(_.split(" ", -1).toVector)
      rounds += 1
    }
    sys.error("reference fixpoint did not converge")
  }

  test("cascading splice: single pass provably misses it, fixpoint excises it") {
    // doc1 carries span S copied from doc0 with flanks p1 p2 / q1 q2 q3;
    // doc2 contains the JUNCTION p1 p2 q1 q2 q3 — a 5-token run that exists
    // in doc1 only AFTER S is excised (round 1 creates a new cross-doc
    // adjacency, the construction Lee et al.'s single pass also misses)
    val corpus = Vector(
      Vector("s1", "s2", "s3", "s4", "s5"),
      Vector("p1", "p2", "s1", "s2", "s3", "s4", "s5", "q1", "q2", "q3"),
      Vector("x1", "p1", "p2", "q1", "q2", "q3", "x2"))
    val onePass = Winnow.spanDedup(toDf(corpus), "text", "doc_id",
        k = K, minSpanTokens = MinSpan)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    // single pass: doc1 loses S, but doc2's copy of the junction survives
    assert(onePass(1) === "p1 p2 q1 q2 q3")
    assert(onePass(2) === corpus(2).mkString(" "), "single pass must miss the cascade")
    val (fixed, rounds) = Winnow.spanDedupFixpointWithStats(
      toDf(corpus), "text", "doc_id", k = K, minSpanTokens = MinSpan)
    val got = fixed.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got(0) === corpus(0).mkString(" "))
    assert(got(1) === "p1 p2 q1 q2 q3")
    assert(got(2) === "x1 x2", "fixpoint must excise the junction copy")
    assert(rounds === 2)
    val (want, refRounds) = refDedupFixpoint(corpus, MinSpan)
    assert(got === corpus.indices.map(i => i -> want(i)).toMap)
    assert(refRounds === 2)
  }

  test("fixpoint maxPostings cap is STICKY: a bucket dropped in round 1 stays dropped") {
    // ADVICE r13 scenario: H's grams sit in 3 docs in round 1 (over cap=2,
    // dropped), round 1's excision removes E2's copy, so a PER-ROUND census
    // would re-admit them in round 2 and excise H from E3 — but the E1/E3
    // pair is unchanged-unchanged, which the incremental seed join never
    // checks. The sticky rule (engine AND oracle) instead keeps H censored
    // for the run, so E3 must survive intact and the loop must converge
    // after the single round that rewrote E2.
    val a = (1 to 5).map("a" + _); val h = (1 to 5).map("h" + _)
    val b = (1 to 5).map("b" + _)
    val corpus = Vector((a ++ h ++ b).toVector, (a ++ h ++ b).toVector, h.toVector)
    val (fixed, rounds) = Winnow.spanDedupFixpointWithStats(
      toDf(corpus), "text", "doc_id", k = K, minSpanTokens = MinSpan,
      maxPostings = 2)
    val got = fixed.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got(0) === corpus(0).mkString(" "))
    // E1-E2 islands flank the censored H grams: covered t0..t6 and t8..t14,
    // so exactly the middle H token survives in E2
    assert(got(1) === "h3")
    assert(got(2) === h.mkString(" "),
      "per-round census re-admitted a sticky-dropped bucket: E3 lost H to an unchanged-unchanged pair")
    assert(rounds === 1)
    // the portable family pins the same semantics (it is what the DuckDB
    // oracle replays), on this corpus and on HashFamilySpec's planted one
    def fixpoint(df: org.apache.spark.sql.DataFrame, family: HashFamily) =
      Winnow.spanDedupFixpoint(df, "text", "doc_id", k = K, minSpanTokens = MinSpan,
          maxPostings = 2, family = family)
        .collect().map(r => r.get(0) -> r.getString(1)).toMap
    for (df <- Seq(toDf(corpus), HashFamilySpec.planted(spark)))
      assert(fixpoint(df, HashFamily.Portable) === fixpoint(df, HashFamily.Production))
  }

  test("fixpoint matches the iterated reference on random corpora (rounds too)") {
    forAll(corpusGen, 6) { (corpus, seed) =>
      val (fixed, rounds) = Winnow.spanDedupFixpointWithStats(
        toDf(corpus), "text", "doc_id", k = K, minSpanTokens = MinSpan)
      val got = fixed.select("doc_id", "text")
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      val (want, refRounds) = refDedupFixpoint(corpus, MinSpan)
      corpus.indices.foreach { i =>
        assert(got(i) === want(i), s"seed $seed doc $i")
      }
      assert(rounds === refRounds, s"seed $seed")
    }
  }

  /** The fixpoint loop seeding ALL pairs every round: the slow full rescan
    * the incremental loop must agree with.
    */
  private def fullRescanWithStats(df: DataFrame, textCol: String, idCol: String,
                                  k: Int, minSpanTokens: Int,
                                  maxPostings: Int = Dedup.DefaultMaxBucket): (DataFrame, Int) =
    Winnow.fixpointLoop(df, textCol, idCol, k, minSpanTokens, maxPostings, maxIter = 10,
      HashFamily.Production, incremental = false)

  test("incremental fixpoint is equivalent to the full-rescan loop (invariant witness)") {
    // the incremental invariant's executable form: same texts, same round
    // count, on random corpora AND on the sticky-cap corpus where a
    // per-round census would make the two diverge
    forAll(corpusGen, 4) { (corpus, seed) =>
      val (inc, rInc) = Winnow.spanDedupFixpointWithStats(
        toDf(corpus), "text", "doc_id", k = K, minSpanTokens = MinSpan)
      val (full, rFull) = fullRescanWithStats(
        toDf(corpus), "text", "doc_id", k = K, minSpanTokens = MinSpan)
      val a = inc.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      val b = full.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(a === b, s"seed $seed")
      assert(rInc === rFull, s"seed $seed")
    }
    val h = (1 to 5).map("h" + _); val a5 = (1 to 5).map("a" + _)
    val b5 = (1 to 5).map("b" + _)
    val sticky = Vector((a5 ++ h ++ b5).toVector, (a5 ++ h ++ b5).toVector,
      h.toVector)
    val (inc, rInc) = Winnow.spanDedupFixpointWithStats(
      toDf(sticky), "text", "doc_id", k = K, minSpanTokens = MinSpan,
      maxPostings = 2)
    val (full, rFull) = fullRescanWithStats(
      toDf(sticky), "text", "doc_id", k = K, minSpanTokens = MinSpan,
      maxPostings = 2)
    assert(inc.collect().map(r => r.getInt(0) -> r.getString(1)).toMap ===
      full.collect().map(r => r.getInt(0) -> r.getString(1)).toMap)
    assert(rInc === rFull)
  }

  test("spanDedup rebuilds every doc to the reference kept-token sequence; min id untouched") {
    forAll(corpusGen, 8) { (corpus, seed) =>
      val got = Winnow.spanDedup(toDf(corpus), "text", "doc_id",
          k = K, minSpanTokens = MinSpan)
        .select("doc_id", "text")
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      val want = refDedup(corpus, MinSpan)
      corpus.indices.foreach { i =>
        assert(got(i) === want(i), s"seed $seed doc $i")
      }
      assert(got(0) === corpus(0).mkString(" "), s"seed $seed: doc 0 must never lose tokens")
    }
  }
}
