package minietl.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import minietl.functions.{HashFamily, PortableHash}

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
  * the MOSS algorithm): position-local fingerprints with a coverage
  * guarantee. Hash every k-token gram, slide a window of w consecutive gram
  * hashes, and keep each window's minimum (ties broken toward the leftmost
  * position). The selected set is tiny (~2/(w+1) of the grams) yet any two
  * documents sharing a contiguous run of at least `w + k - 1` tokens are
  * GUARANTEED to share a fingerprint value — the property that makes this
  * the standard tool for copied-span / boilerplate detection, complementing
  * MinHash (bag-of-shingles, order-blind, no locality) and the whole-doc
  * rolling fingerprint (exact equality only). Reference scope: the
  * reference engine (mini_etl) exposes only whole-frame `DeduplicateTransformer`
  * (mini_etl/transformers/basic.py) — winnowing is a §2.8-style superset
  * for training-data curation.
  *
  * Spark-first shape: the entire selection is SCAN-SIDE — one token-hash
  * array per row into the native codegen'd
  * [[minietl.functions.WinnowOrds]] expression (O(n·k + n) per document);
  * a document never leaves its input partition until the final `explode`,
  * so [[fingerprints]] plans with ZERO exchanges (spec-asserted). Only
  * [[overlapPairs]] shuffles — once on the fingerprint value (with the same
  * capped-posting census every other blocking join in this package uses),
  * once for the pair aggregate. At 100 TB the fingerprint density knob is
  * `w` (expected selected fraction 2/(w+1)); the join is protected from
  * degenerate fingerprints (empty-string grams, boilerplate) by
  * `maxPostings` exactly like n-gram containment.
  *
  * Hash families: every entry point takes a [[HashFamily]] value,
  * `Production` (xxhash64, the default) or `Portable` (md5-60-bit), whose
  * every step an independent SQL engine replays — the `*OracleSql`
  * generators below render that SQL. The family supplies only the token
  * hash; each kernel is one body for both, so the selection, span and
  * excision logic cannot diverge between the audited and the fast path.
  */
object Winnow {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Modulus 2^31-1: token and gram hashes stay below 2^31, so the
    * polynomial fold (`acc * 31 + x` < 2^36) and the position packing
    * (`gram * 2^21 + pos` < 2^52) never overflow a long under ANSI
    * arithmetic, in Spark or in the replaying engine.
    */
  private val M = 2147483647L
  private val B = 31L

  /** Position packing radix (2^21): `ord = gram * Pos + pos` makes one
    * `array_min` implement "minimum hash, ties to the leftmost position" —
    * the robust-winnowing tie rule — as a single comparison. Documents are
    * limited to 2^21 (~2M) tokens; beyond that, chunk first
    * ([[minietl.text.Chunking]]). Enforced fail-fast inside
    * [[minietl.functions.VectorOps.winnowOrds]] — an over-budget document
    * raises rather than silently corrupting fingerprints.
    */
  private val Pos = 2097152L

  /** Packed (gram-hash, position) ords selected by winnowing, one array per
    * document, built entirely scan-side: the token-hash array (one hash per
    * token, computed once per row) feeds the native
    * [[minietl.functions.WinnowOrds]] expression, which owns gram hashing,
    * the sliding-window minimum, and dedup — see its scaladoc for why this
    * is an expression and not `transform`/`array_min` columns (per-element
    * lambda re-evaluation made the column formulation O(n³) per document).
    */
  private def selectedFrame(df: DataFrame, textCol: String, idCol: String,
                            k: Int, w: Int, family: HashFamily): DataFrame =
    df.select(col(idCol).as("id"),
      minietl.functions.vec.winnowOrds(
        transform(minietl.text.TextAnalysis.tokens(col(textCol)),
          t => pmod(family.hash(t), lit(M))), k, w).as("__s"))

  /** Selected fingerprints, one row per (id, pos, fp) where `pos` is the
    * 0-based token index the winning k-gram starts at. No shuffle: project
    * + explode only. On the portable family [[fingerprintsOracleSql]]
    * replays it bit for bit.
    */
  def fingerprints(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 4, w: Int = 8,
                   family: HashFamily = HashFamily.Production): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(w >= 1, s"w must be >= 1 (got $w)")
    selectedFrame(df, textCol, idCol, k, w, family)
      .select(col("id"), explode(col("__s")).as("__ord"))
      .select(col("id"),
        pmod(col("__ord"), lit(Pos)).cast("int").as("pos"),
        ((col("__ord") - pmod(col("__ord"), lit(Pos))) / Pos).cast("long").as("fp"))
  }

  /** Document pairs sharing at least `minShared` distinct fingerprint
    * values — the copied-span candidate list. Fingerprint values held by
    * more than `maxPostings` documents (boilerplate) are census-dropped
    * before the join, the same contract as every LSH/blocking join in this
    * package: the join is bucket-bounded, never all-pairs. On the portable
    * family [[overlapOracleSql]] replays it end to end.
    */
  def overlapPairs(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 4, w: Int = 8, minShared: Int = 2,
                   maxPostings: Int = Dedup.DefaultMaxBucket,
                   family: HashFamily = HashFamily.Production): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1 (got $minShared)")
    val fp = fingerprints(Dedup.spread(df), textCol, idCol, k, w, family)
      .select("id", "fp").dropDuplicates("id", "fp")
    val capped = Dedup.dropOversizedBuckets(fp, Seq("fp"), maxPostings, "winnow")
    capped.as("a")
      .join(capped.as("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  // ------------------------------------------------ exact shared spans
  /** Exact duplicated token spans across documents — the span-level dedup
    * of Lee et al. '22 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499), whose single-node form is a suffix array,
    * re-expressed for Spark as gram-seeded seed-and-extend: every k-gram
    * hash with its position ([[WinnowOrds]] with w = 1 — a window of one
    * selects every gram), a capped equi-join on the gram value for seeds,
    * and a relational gaps-and-islands pass (consecutive seed positions on
    * one alignment diagonal `pos_a - pos_b` form one span; a run of c
    * consecutive matching k-grams covers c + k - 1 tokens). Two shuffles
    * total — the seed join on the gram value and the per-diagonal window —
    * both key-partitioned, never all-pairs (`maxPostings` censors
    * boilerplate grams exactly like [[overlapPairs]]).
    *
    * Matches are hash-exact (md5/xxhash64 k-gram equality), so a reported
    * span is a true duplicate up to hash collision — and a false span of
    * length L ≥ minSpanTokens needs L - k + 1 CONSECUTIVE independent
    * collisions, vanishingly unlikely where a single-seed false positive
    * is merely rare.
    *
    * Returns (id_a, id_b, start_a, start_b, span_len) with id_a < id_b,
    * spans of at least `minSpanTokens` tokens. On the portable family
    * [[sharedSpansOracleSql]] replays it end to end.
    */
  def sharedSpans(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 4, minSpanTokens: Int = 8,
                  maxPostings: Int = Dedup.DefaultMaxBucket,
                  family: HashFamily = HashFamily.Production): DataFrame = {
    require(minSpanTokens >= k,
      s"minSpanTokens must be >= k (got $minSpanTokens < $k)")
    val fps = spanFps(df, textCol, idCol, k, family)
    val capped = Dedup.dropOversizedBuckets(fps, Seq("fp"), maxPostings, "spans")
    val seeds = capped.as("a")
      .join(capped.as("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(seedSelect("a", "b"): _*)
    islandsToSpans(seeds, k, minSpanTokens)
  }

  /** Seed fingerprints for span detection: every k-gram hash with its
    * position (w = 1 selects every gram). Docs shorter than k tokens are
    * excluded from SEEDING (not from [[spanDedup]]'s rebuild): the winnow
    * selection's whole-doc fallback gram would otherwise let two identical
    * sub-k docs seed an island whose c + k - 1 accounting over-reports the
    * matched length as k — a phantom span at the minSpanTokens == k
    * boundary. With the filter, every reported span covers true k-gram
    * positions and span_len is exact. The oracle CTE applies the same
    * `len(toks) >= k` guard.
    */
  private def spanFps(df: DataFrame, textCol: String, idCol: String, k: Int,
                      family: HashFamily): DataFrame =
    fingerprints(
      Dedup.spread(df).where(
        size(minietl.text.TextAnalysis.tokens(col(textCol))) >= k),
      textCol, idCol, k, w = 1, family)

  /** Gaps-and-islands over seed pairs: consecutive matching k-gram
    * positions on one alignment diagonal collapse to one span of
    * c + k - 1 tokens.
    */
  private def islandsToSpans(seeds: DataFrame, k: Int,
                             minSpanTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    seeds
      .withColumn("grp", col("pos_a") - row_number().over(w))
      .groupBy("id_a", "id_b", "diag", "grp")
      .agg(min("pos_a").as("start_a"), min("pos_b").as("start_b"),
        (count(lit(1)) + (k - 1)).as("span_len"))
      .filter(col("span_len") >= minSpanTokens)
      .select("id_a", "id_b", "start_a", "start_b", "span_len")
  }

  private def seedSelect(a: String, b: String): Seq[Column] = Seq(
    col(s"$a.id").as("id_a"), col(s"$b.id").as("id_b"),
    col(s"$a.pos").as("pos_a"), col(s"$b.pos").as("pos_b"),
    (col(s"$a.pos") - col(s"$b.pos")).as("diag"))

  /** Span-level dedup: rewrite each document with every token covered by a
    * [[sharedSpans]] span REMOVED from the higher-id document (keep-first
    * by id — the id_a side always keeps its copy, so every span survives
    * exactly once in the lowest id that carries it). Documents shrink or
    * empty out but are never dropped; untouched documents round-trip
    * byte-identically (texts are single-space tokenized). Every other
    * column of `df` passes through unchanged (pipeline-stage shape); only
    * `textCol` is rewritten. One extra shuffle over [[sharedSpans]]: the
    * anti-join of token positions against covered positions plus the
    * per-doc rebuild aggregate. On the portable family
    * [[spanDedupOracleSql]] replays it end to end.
    */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
                k: Int = 4, minSpanTokens: Int = 8,
                maxPostings: Int = Dedup.DefaultMaxBucket,
                family: HashFamily = HashFamily.Production): DataFrame =
    excise(df, sharedSpans(df, textCol, idCol, k, minSpanTokens,
      maxPostings, family), textCol, idCol)

  /** Rewrite `textCol` with every token covered by a span (id_b side of
    * `spans`) removed. Id contract, enforced here rather than assumed:
    *   - NULL ids pass through UNCHANGED. A null id can never appear in a
    *     span (the seed join's `id_a < id_b` is never true under null), so
    *     the only correct rewrite is identity — and excluding nulls from
    *     the rebuild also stops several null-id documents being merged
    *     into one token stream by the groupBy.
    *   - DUPLICATE ids RAISE. Two documents sharing an id would have their
    *     token streams silently interleaved into one rebuilt text; that is
    *     corrupt training data with no error, so the plan embeds a lazy
    *     `raise_error` guard (an id-count aggregate is slim — partial-agg'd
    *     (id, count) pairs — next to the token-exploded shuffles this
    *     operator already pays).
    */
  private def excise(df: DataFrame, spans: DataFrame,
                     textCol: String, idCol: String): DataFrame = {
    val covered = spans
      .select(col("id_b").as("id"),
        explode(sequence(col("start_b"),
          col("start_b") + col("span_len") - 1)).as("pos"))
      .distinct()
    val toks = Dedup.spread(df).where(col(idCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(minietl.text.TextAnalysis.tokens(col(textCol)))
          .as(Seq("pos", "tok")))
    val rebuilt = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("__kept"))
    val dupIds = df.where(col(idCol).isNotNull)
      .groupBy(col(idCol).as("__did")).agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1)
    // a doc whose every token is covered has NO rebuilt row — left join +
    // coalesce keeps it as an empty-text husk rather than dropping it
    // (rebuilt ids are unique by construction, so the join never fans out)
    df.join(rebuilt, df(idCol) === rebuilt("id"), "left")
      .join(dupIds, df(idCol) === dupIds("__did"), "left")
      .withColumn(textCol,
        when(col("__c").isNotNull, raise_error(concat(
          lit(s"spanDedup: duplicate id in '$idCol': "),
          df(idCol).cast("string"))).cast("string"))
          .when(df(idCol).isNull, df(textCol))
          .otherwise(coalesce(col("__kept"), lit(""))))
      .drop(rebuilt("id")).drop("__kept").drop("__did").drop("__c")
  }

  /** [[excise]] restricted to the CHANGED documents (the distinct id_b set
    * of `spans`): only they are re-tokenized and rebuilt; every other row
    * of `df` passes through as-is. Byte-identical to full [[excise]]
    * because `split(text, " ")` / `array_join(_, " ")` are exact inverses
    * for ANY text (empty tokens round-trip), so the full rebuild never
    * altered untouched documents anyway — restricting it is purely a cost
    * change (rebuild work ∝ changed docs, not corpus). The duplicate-id
    * guard is optional: the fixpoint loop runs it on round 1 only (ids
    * never change between rounds, so one full-corpus check covers all).
    */
  private def exciseSubset(df: DataFrame, spans: DataFrame,
                           changedIds: DataFrame, textCol: String,
                           idCol: String, checkDupIds: Boolean): DataFrame = {
    val covered = spans
      .select(col("id_b").as("id"),
        explode(sequence(col("start_b"),
          col("start_b") + col("span_len") - 1)).as("pos"))
      .distinct()
    val changedDf = df.join(changedIds, df(idCol) === changedIds("id"),
      "left_semi")
    val toks = changedDf
      .select(col(idCol).as("id"),
        posexplode(minietl.text.TextAnalysis.tokens(col(textCol)))
          .as(Seq("pos", "tok")))
    val rebuilt = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("__kept"))
    // a fully-excised doc has no rebuilt row — keep it as an empty husk
    val rebuiltChanged = changedDf
      .join(rebuilt, changedDf(idCol) === rebuilt("id"), "left")
      .withColumn(textCol, coalesce(col("__kept"), lit("")))
      .drop(rebuilt("id")).drop("__kept")
      .select(df.columns.map(col): _*)
    // null-id rows never match the semi-join, so they land here untouched —
    // the same pass-through contract as full excise
    val untouched = df.join(changedIds, df(idCol) === changedIds("id"),
      "left_anti")
    val out = untouched.unionByName(rebuiltChanged)
    if (!checkDupIds) out
    else {
      val dupIds = df.where(col(idCol).isNotNull)
        .groupBy(col(idCol).as("__did")).agg(count(lit(1)).as("__c"))
        .where(col("__c") > 1)
      out.join(dupIds, out(idCol) === dupIds("__did"), "left")
        .withColumn(textCol,
          when(col("__c").isNotNull, raise_error(concat(
            lit(s"spanDedup: duplicate id in '$idCol': "),
            out(idCol).cast("string"))).cast("string"))
            .otherwise(col(textCol)))
        .drop("__did").drop("__c")
    }
  }

  /** [[spanDedup]] iterated to a FIXPOINT: excision junctions can create
    * new cross-document adjacencies (removing span S from document B makes
    * the tokens flanking S adjacent; the new k-grams spanning the junction
    * may match a third document — Lee et al.'s suffix-array construction
    * shares this property), so a single pass can leave residual duplicated
    * spans. This mode re-runs detect-and-excise on the rewritten corpus
    * until a round finds no span of at least `minSpanTokens` tokens, or
    * `maxIter` rounds. Each round is eagerly `localCheckpoint`ed (constant
    * plan depth, same rationale as the star-contraction CC loop) and the
    * superseded round's blocks are released immediately. Unlike CC's
    * maxIter — where a partial labeling silently under-deduplicates —
    * hitting maxIter here returns a VALID partial dedup (exactly what
    * single-pass mode already is, after maxIter rounds of improvement), so
    * it returns rather than throws. Real corpora converge in 2-3 rounds:
    * each round only chases spans newly created at excision junctions.
    *
    * The `maxPostings` cap is STICKY across rounds (a bucket over the cap
    * in any round stays dropped for the run — see
    * [[fixpointLoop]]), so on a corpus whose hot buckets shrink
    * below the cap after excision this is NOT literally "[[spanDedup]]
    * applied N times" (which would re-admit them); the oracle replay
    * ([[spanDedupFixpointOracleSql]]) defines the semantics and replays
    * the sticky rule exactly.
    */
  def spanDedupFixpoint(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 4, minSpanTokens: Int = 8,
                        maxPostings: Int = Dedup.DefaultMaxBucket,
                        maxIter: Int = 10,
                        family: HashFamily = HashFamily.Production): DataFrame =
    fixpointLoop(df, textCol, idCol, k, minSpanTokens, maxPostings,
      maxIter, family)._1

  /** [[spanDedupFixpoint]] plus the rounds-to-convergence observable
    * (rounds that EXCISED something; a corpus with no duplicated spans
    * reports 0). The probe/operations hook, mirroring
    * [[Dedup.connectedComponentsWithStats]].
    */
  def spanDedupFixpointWithStats(df: DataFrame, textCol: String, idCol: String,
                                 k: Int = 4, minSpanTokens: Int = 8,
                                 maxPostings: Int = Dedup.DefaultMaxBucket,
                                 maxIter: Int = 10): (DataFrame, Int) =
    fixpointLoop(df, textCol, idCol, k, minSpanTokens, maxPostings,
      maxIter, HashFamily.Production)

  /** FULL-RESCAN fixpoint: identical semantics to [[spanDedupFixpoint]]
    * (sticky cap included) but every round seeds ALL pairs instead of only
    * those with a changed side. Not a production entry point: it exists as
    * the equivalence witness the incremental invariant is spec-checked
    * against (`SpanPropertiesSpec`). Production callers want
    * [[spanDedupFixpoint]].
    */
  def spanDedupFixpointFullRescanWithStats(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 4, minSpanTokens: Int = 8,
      maxPostings: Int = Dedup.DefaultMaxBucket,
      maxIter: Int = 10): (DataFrame, Int) =
    fixpointLoop(df, textCol, idCol, k, minSpanTokens, maxPostings,
      maxIter, HashFamily.Production, incremental = false)

  /** The fixpoint loop is INCREMENTAL past round 1, and the maxPostings
    * cap is STICKY for the run: a fingerprint bucket that exceeds the cap
    * in ANY round stays dropped in every later round. Stickiness is what
    * makes the incremental invariant sound (ADVICE r13): under a per-round
    * census, a bucket above the cap in round 1 that shrinks below it after
    * excision would make both-unchanged pairs newly eligible in round 2 —
    * pairs the incremental seed join never checks. Under the sticky cap,
    * eligibility of an fp can only shrink over rounds, so:
    *
    * Invariant (induction on rounds): at the start of round r, every
    * document pair with BOTH sides outside round r-1's changed set shares
    * no span visible through round-r-ELIGIBLE fingerprints —
    *   base: round 1 seed-checks ALL pairs over the eligible fps; a
    *   visible span between two docs neither of which ended up changed
    *   would have excised its higher-id side, contradiction;
    *   step: a both-unchanged-in-(r-1) pair emits the same postings in
    *   round r as in r-1, and every fp eligible at r was eligible at r-1
    *   (sticky: the dropped set only grows), so the pair was either
    *   visibly span-free at the start of r-1 (invariant) or seed-checked
    *   in round r-1 (one side in changed_{r-2}) with nothing found; its
    *   texts did not change during r-1, so it is still span-free.
    * Hence round r only needs seed pairs with AT LEAST ONE side in
    * changed_{r-1}, and a round finding none proves the WHOLE corpus
    * span-free (under the capped visibility every span-dedup variant here
    * already has). Two costs become ∝ changed docs instead of ∝ corpus:
    * the seed join shrinks from all×all to changed×all + unchanged×changed
    * per fingerprint bucket, and the excision rebuild re-tokenizes only
    * changed docs ([[exciseSubset]]). The seed FINGERPRINTS are
    * deliberately recomputed from the checkpointed text each round rather
    * than carried over: a carried fps frame needs a full-corpus
    * localCheckpoint per round, and measured at 5M docs those two
    * ~250M-row materializations cost MORE than the streaming re-scan they
    * save (fixpoint premium 190 s carried vs 156 s recomputed). The census
    * still runs EVERY round (excision splices can mint NEW hot buckets —
    * e.g. one span excised from many docs with identical flanks leaves the
    * same splice gram everywhere — and an uncensused round could blow up
    * O(n^2) seed pairs), but past round 1 it is RESTRICTED to fingerprints
    * touched by the previous round's changed docs — a bucket's count only
    * grows through changed-doc postings, so only touched fps can newly
    * cross the cap (VERDICT r14 Next #3; full argument at the census in
    * the loop body). Its hot-fp OUTPUT is tiny (> maxPostings members
    * each, so at most grams/maxPostings rows), checkpointed only when it
    * actually grows, and anti-joined into the seeds plan.
    */
  private def fixpointLoop(df: DataFrame, textCol: String,
                           idCol: String, k: Int, minSpanTokens: Int,
                           maxPostings: Int, maxIter: Int, family: HashFamily,
                           incremental: Boolean = true): (DataFrame, Int) = {
    require(maxIter >= 1, s"maxIter must be >= 1 (got $maxIter)")
    require(minSpanTokens >= k,
      s"minSpanTokens must be >= k (got $minSpanTokens < $k)")
    val release = minietl.pipeline.RunCaches.releaseNow _
    // partition budget for the per-round corpus checkpoints: exciseSubset's
    // union concatenates the untouched-side partitions with the rebuild
    // aggregate's shuffle partitions, so without a cap the checkpointed
    // corpus GROWS by ~shuffle.partitions every round (measured r18: 35 →
    // 66 → 98 planned tasks per scan stage at sf0.1) and every later
    // round's full-corpus scan pays the extra per-task fixed cost. The cap
    // is the INPUT's own scale (its partition count, floored at the
    // session parallelism), so a production corpus keeps its thousands of
    // partitions and only the per-round inflation is folded back (narrow
    // coalesce — no shuffle, parallelism never drops below the cores).
    // The count is read off the planned physical plan: `df.rdd` would run
    // the input's shuffle stages under AQE just to count partitions.
    val capParts = math.max(minietl.ops.Partitioning.plannedPartitions(df),
      df.sparkSession.sparkContext.defaultParallelism)
    var cur = df
    var curOwned = false // never release the caller's frame
    var changedIds: DataFrame = null // round r-1's changed set (null = round 1)
    var stickyBig: DataFrame = null // fps over the cap in ANY round so far
    var hotFpCount = 0L // |stickyBig|, maintained at each checkpoint
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      val fps = spanFps(cur, textCol, idCol, k, family)
      // sticky-cap census — FULL in round 1, CHANGED-TOUCHED-ONLY after
      // (VERDICT r14 Next #3): unchanged docs emit identical postings
      // every round, so a bucket's count can only GROW — the only way to
      // newly cross the cap — through postings of docs changed in the
      // previous round. Restricting the census to the fingerprints those
      // docs now emit (FULL counts, but only for touched fps — the
      // semi-join keeps every posting of a touched fp, changed or not)
      // therefore sees every possible new crossing; buckets that merely
      // shrink are irrelevant under stickiness. Induction mirrors the
      // incremental seed join's: any fp over the cap in some round's full
      // census is in stickyBig — round 1 is full; a later full-census
      // crossing at round j with count_{j-1} <= cap implies a count
      // increase, hence a changed-doc posting, hence fp is censused at j.
      val bigNow = {
        val base =
          if (changedIds == null || !incremental) fps
          else {
            // the touched-fp set is derived by re-fingerprinting ONLY the
            // changed docs (cost ∝ changed set, the same move as
            // exciseSubset's rebuild) — not by filtering the full fps,
            // which would add a second full-corpus tokenize pass; the
            // semi-join against it then prunes the census's shuffle to the
            // touched buckets (AQE broadcasts the tiny side)
            val changedFps = spanFps(
                cur.join(changedIds, cur(idCol) === changedIds("id"), "left_semi"),
                textCol, idCol, k, family)
              .select("fp").distinct()
            fps.join(changedFps, Seq("fp"), "left_semi")
          }
        base.groupBy(col("fp"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxPostings).select("fp")
      }
      // fold the census into stickyBig only when it found something: the
      // common post-round-1 case is ZERO new hot fps, where the old
      // union+distinct+checkpoint+release cycle (VERDICT r14 Next #3) was
      // pure bookkeeping. The count doubles as the run's hot-fp tally, so
      // the final stickyBig.count() job is gone too; in the rare non-empty
      // case the (restricted, cheap) census re-runs once inside the union.
      if (stickyBig == null) {
        // round 1: materialize + count in ONE action — rdd.localCheckpoint
        // + count() is what Dataset.localCheckpoint(eager=true) runs
        // internally, but keeps the number
        val rdd = bigNow.rdd
        rdd.localCheckpoint()
        hotFpCount = rdd.count()
        if (hotFpCount > 0)
          stickyBig = cur.sparkSession.createDataFrame(rdd, bigNow.schema)
        else rdd.unpersist(false)
      } else {
        val nNew = bigNow.count()
        if (nNew > 0) {
          val merged = bigNow.unionByName(stickyBig).distinct()
          val rdd = merged.rdd
          rdd.localCheckpoint()
          hotFpCount = rdd.count()
          release(stickyBig)
          stickyBig = cur.sparkSession.createDataFrame(rdd, merged.schema)
        }
      }
      val capped =
        if (stickyBig == null) fps
        else fps.join(stickyBig, Seq("fp"), "left_anti")
      val seeds =
        if (changedIds == null || !incremental)
          capped.as("a").join(capped.as("b"),
              col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
            .select(seedSelect("a", "b"): _*)
        else {
          // pairs with >= 1 changed side, each exactly once — enforced
          // INSIDE the join condition (a.chg OR b.chg) so both join inputs
          // stay the IDENTICAL tagged subtree: the full tokenize+winnow
          // scan behind it is planned as ONE exchange with a
          // ReusedExchange on the other side. The earlier three-frame
          // split (changed×all ∪ unchanged×changed) paid that scan three
          // times per round — the scan, not the within-bucket pair
          // iteration (already posting-capped), is the dominant cost. The
          // join still iterates round-1's per-bucket pairs but EMITS only
          // >=1-changed ones, so everything downstream (islands window,
          // excision) stays proportional to the changed set.
          val tagged = capped.join(
              changedIds.withColumn("__chg", lit(true)),
              capped("id") === changedIds("id"), "left")
            .select(capped("id"), capped("pos"), capped("fp"),
              coalesce(col("__chg"), lit(false)).as("chg"))
          tagged.as("a").join(tagged.as("b"),
              col("a.fp") === col("b.fp") && col("a.id") < col("b.id") &&
                (col("a.chg") || col("b.chg")))
            .select(seedSelect("a", "b"): _*)
        }
      val spans = islandsToSpans(seeds, k, minSpanTokens).localCheckpoint(true)
      if (spans.isEmpty) {
        release(spans)
        converged = true
      } else {
        val nextChanged = spans.select(col("id_b").as("id")).distinct()
          .localCheckpoint(true)
        // round 1 embeds the duplicate-id guard over the FULL frame (ids
        // never change between rounds, so one check covers the run)
        val next = exciseSubset(cur, spans, nextChanged, textCol, idCol,
          checkDupIds = rounds == 0).coalesce(capParts).localCheckpoint(true)
        release(spans)
        if (changedIds != null) release(changedIds)
        if (curOwned) release(cur)
        cur = next
        curOwned = true
        changedIds = nextChanged
        rounds += 1
      }
    }
    if (changedIds != null) release(changedIds)
    if (stickyBig != null) release(stickyBig)
    log.info(s"spanDedupFixpoint: $rounds excision round(s), " +
      s"${if (converged) "converged" else s"stopped at maxIter=$maxIter"}" +
      (if (hotFpCount > 0) s"; $hotFpCount fingerprint bucket(s) over maxPostings=" +
        s"$maxPostings censored sticky for the run" else ""))
    (cur, rounds)
  }

  // ------------------------------------------------ DuckDB replays
  // Each replays a kernel above on the portable family. The CTE chains are
  // rendered by three builders: gramCtes (token hashes → k-gram hashes),
  // spanCtes (fingerprints → capped seed join → gaps-and-islands spans) and
  // exciseCtes (covered positions → rebuilt text). The fixpoint replay
  // unrolls spanCtes + exciseCtes once per round with a `$r` suffix.

  /** The input documents as (id, toks) single-space token lists. */
  private def docs(table: String, idCol: String, textCol: String): String =
    s"SELECT $idCol AS id, string_split($textCol, ' ') AS toks FROM $table"

  /** Token hashes → per-position k-gram hashes of `d$r(id, toks)`: CTEs
    * `th$r(id, h)` and `gr$r(id, g)`. `wholeDocGram` adds winnowing's
    * fallback of one whole-document gram for a non-empty doc shorter than
    * k tokens (span seeding excludes such docs instead).
    */
  private def gramCtes(r: String, k: Int, wholeDocGram: Boolean): String = {
    val whole =
      if (!wholeDocGram) ""
      else s"""
         |         WHEN len(h) > 0 THEN [list_reduce(list_prepend(CAST(0 AS BIGINT), h),
         |                  (acc, x) -> (acc * $B + x) % $M)]""".stripMargin
    s"""th$r AS (SELECT id, list_transform(toks, t -> ${PortableHash.sql("t")} % $M) AS h
       |       FROM d$r),
       |gr$r AS (SELECT id, CASE
       |         WHEN len(h) >= $k THEN list_transform(range(0, len(h) - $k + 1),
       |           i -> list_reduce(list_prepend(CAST(0 AS BIGINT), h[i+1 : i+$k]),
       |                  (acc, x) -> (acc * $B + x) % $M))$whole
       |         ELSE CAST([] AS BIGINT[]) END AS g FROM th$r)""".stripMargin
  }

  /** [[sharedSpans]]' chain over `d$r(id, toks)`: every k-gram hash with
    * its position → the maxPostings cap → seed join → gaps-and-islands,
    * ending in `spans$r(id_a, id_b, start_a, start_b, span_len)`. Round 0
    * is the single pass (no suffix, per-query cap). A fixpoint round r ≥ 1
    * replays the engine's STICKY cap: `bigacc$r` accumulates every round's
    * over-cap fingerprints (`bigacc1 = big1`, `bigacc$r = big$r UNION
    * bigacc${r-1}`) and `fc$r` anti-joins the accumulated set, so a bucket
    * dropped once stays dropped for the run.
    */
  private def spanCtes(round: Int, k: Int, minSpanTokens: Int,
                       maxPostings: Int): String = {
    val r = if (round == 0) "" else round.toString
    val cap =
      if (round == 0) "fc AS (SELECT f.* FROM f ANTI JOIN big USING (fp))"
      else {
        val acc =
          if (round == 1) s"SELECT fp FROM big$r"
          else s"SELECT fp FROM big$r UNION SELECT fp FROM bigacc${round - 1}"
        s"""bigacc$r AS MATERIALIZED ($acc),
           |fc$r AS MATERIALIZED (SELECT f$r.* FROM f$r ANTI JOIN bigacc$r USING (fp))""".stripMargin
      }
    s"""${gramCtes(r, k, wholeDocGram = false)},
       |f$r AS (SELECT id, i - 1 AS pos, g[i] AS fp
       |      FROM gr$r, unnest(range(1, len(g) + 1)) AS u(i)),
       |big$r AS (SELECT fp FROM f$r GROUP BY fp HAVING count(*) > $maxPostings),
       |$cap,
       |seeds$r AS (SELECT a.id AS id_a, b.id AS id_b, a.pos AS pos_a, b.pos AS pos_b,
       |                 a.pos - b.pos AS diag
       |          FROM fc$r a JOIN fc$r b ON a.fp = b.fp AND a.id < b.id),
       |isl$r AS (SELECT id_a, id_b, diag, pos_a, pos_b,
       |          pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag
       |                                     ORDER BY pos_a) AS grp
       |        FROM seeds$r),
       |spans$r AS (SELECT id_a, id_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
       |                 count(*) + $k - 1 AS span_len
       |          FROM isl$r GROUP BY id_a, id_b, diag, grp
       |          HAVING count(*) + $k - 1 >= $minSpanTokens)""".stripMargin
  }

  /** [[excise]]'s chain over `d$r` and `spans$r`: every id_b-side covered
    * position is dropped and the rest re-joined in order, ending in
    * `out$r(id, txt)` (a fully covered doc keeps an empty text).
    */
  private def exciseCtes(r: String): String =
    s"""cov$r AS (SELECT DISTINCT id_b AS id, start_b + u.o AS pos
       |            FROM spans$r, unnest(range(0, span_len)) AS u(o)),
       |tk$r AS (SELECT id, i - 1 AS pos, toks[i] AS tok
       |       FROM d$r, unnest(range(1, len(toks) + 1)) AS u(i)),
       |kept$r AS (SELECT tk$r.* FROM tk$r ANTI JOIN cov$r USING (id, pos)),
       |rb$r AS (SELECT id, string_agg(tok, ' ' ORDER BY pos) AS t2
       |            FROM kept$r GROUP BY id),
       |out$r AS MATERIALIZED (SELECT d$r.id AS id, coalesce(rb$r.t2, '') AS txt
       |          FROM d$r LEFT JOIN rb$r ON d$r.id = rb$r.id)""".stripMargin

  /** ANSI SQL (DuckDB dialect) replaying [[sharedSpans]] on the portable
    * family.
    */
  def sharedSpansOracleSql(k: Int = 4, minSpanTokens: Int = 8,
                           maxPostings: Int = Dedup.DefaultMaxBucket,
                           table: String = "documents",
                           idCol: String = "doc_id",
                           textCol: String = "text"): String =
    s"""WITH d AS (${docs(table, idCol, textCol)}),
       |${spanCtes(0, k, minSpanTokens, maxPostings)}
       |SELECT id_a, id_b, CAST(start_a AS INT) AS start_a,
       |       CAST(start_b AS INT) AS start_b, span_len FROM spans
       |ORDER BY id_a, id_b, start_a, start_b""".stripMargin

  /** ANSI SQL (DuckDB dialect) replaying [[spanDedup]] on the portable
    * family.
    */
  def spanDedupOracleSql(k: Int = 4, minSpanTokens: Int = 8,
                         maxPostings: Int = Dedup.DefaultMaxBucket,
                         table: String = "documents",
                         idCol: String = "doc_id",
                         textCol: String = "text"): String =
    s"""WITH d AS (${docs(table, idCol, textCol)}),
       |${spanCtes(0, k, minSpanTokens, maxPostings)},
       |${exciseCtes("")}
       |SELECT id AS $idCol, txt AS $textCol FROM out
       |ORDER BY $idCol""".stripMargin

  /** ANSI SQL (DuckDB dialect) replaying [[spanDedupFixpoint]] on the
    * portable family by UNROLLING exactly `maxIter` detect-and-excise
    * rounds, with the engine's STICKY maxPostings rule (accumulated
    * `bigacc$r` sets, see [[spanCtes]]). This
    * matches the engine's early-stopping loop for EVERY convergence count
    * r <= maxIter: once a round finds no span, excision is the identity
    * (the rebuild re-joins the same single-space tokens — and round 1
    * already canonicalized every text to single-space form) and the
    * census output is unchanged, so the extra unrolled rounds replay the
    * converged corpus unchanged. Precondition shared with
    * the engine query it oracles: no NULL and no duplicate ids (the engine
    * passes nulls through / raises on duplicates; this replay would instead
    * blank null-id texts).
    */
  def spanDedupFixpointOracleSql(k: Int = 4, minSpanTokens: Int = 8,
                                 maxPostings: Int = Dedup.DefaultMaxBucket,
                                 maxIter: Int = 4,
                                 table: String = "documents",
                                 idCol: String = "doc_id",
                                 textCol: String = "text"): String = {
    require(maxIter >= 1, s"maxIter must be >= 1 (got $maxIter)")
    val rounds = (1 to maxIter).map { r =>
      // MATERIALIZED on the multiply-referenced CTEs (d$r feeds th/tk/out;
      // fc$r self-joins; out$r feeds the next round): without the hint
      // DuckDB re-inlines the whole upstream chain per reference and the
      // 4-round unroll replayed 40x slower (measured 25.4 s -> 0.6 s at
      // sf0.001, byte-identical result)
      val feed =
        if (r == 1) docs(table, idCol, textCol)
        else s"SELECT id, string_split(txt, ' ') AS toks FROM out${r - 1}"
      s"d$r AS MATERIALIZED ($feed),\n" +
        spanCtes(r, k, minSpanTokens, maxPostings) + ",\n" + exciseCtes(r.toString)
    }.mkString("WITH ", ",\n", "")
    s"""$rounds
       |SELECT id AS $idCol, txt AS $textCol FROM out$maxIter
       |ORDER BY $idCol""".stripMargin
  }

  /** Token hashes → gram hashes → packed ords → winnow selection of
    * `d(id, toks)`, ending in `sel(id, s)` where `s` is the selected-ord
    * list.
    */
  private def selectionCte(k: Int, w: Int, table: String, idCol: String,
                           textCol: String): String =
    s"""WITH d AS (${docs(table, idCol, textCol)}),
       |${gramCtes("", k, wholeDocGram = true)},
       |ords AS (SELECT id, list_transform(range(0, len(g)), i -> g[i+1] * $Pos + i) AS o,
       |         least($w, len(g)) AS weff FROM gr WHERE len(g) > 0),
       |sel AS (SELECT id, list_distinct(list_transform(range(0, len(o) - weff + 1),
       |          j -> list_min(o[j+1 : j+weff]))) AS s
       |        FROM ords)""".stripMargin

  /** ANSI SQL (DuckDB dialect) replaying [[fingerprints]] on the portable
    * family.
    */
  def fingerprintsOracleSql(k: Int = 4, w: Int = 8, table: String = "documents",
                            idCol: String = "doc_id",
                            textCol: String = "text"): String =
    s"""${selectionCte(k, w, table, idCol, textCol)},
       |f AS (SELECT id, unnest(s) AS ord FROM sel)
       |SELECT id AS doc_id, CAST(ord % $Pos AS INT) AS pos, ord // $Pos AS fp
       |FROM f ORDER BY doc_id, pos""".stripMargin

  /** ANSI SQL (DuckDB dialect) replaying [[overlapPairs]] on the portable
    * family, capped postings included.
    */
  def overlapOracleSql(k: Int = 4, w: Int = 8, minShared: Int = 2,
                       maxPostings: Int = Dedup.DefaultMaxBucket,
                       table: String = "documents", idCol: String = "doc_id",
                       textCol: String = "text"): String =
    s"""${selectionCte(k, w, table, idCol, textCol)},
       |f AS (SELECT DISTINCT id, ord // $Pos AS fp
       |      FROM (SELECT id, unnest(s) AS ord FROM sel)),
       |big AS (SELECT fp FROM f GROUP BY fp HAVING count(*) > $maxPostings),
       |fc AS (SELECT f.* FROM f ANTI JOIN big USING (fp))
       |SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
       |FROM fc a JOIN fc b ON a.fp = b.fp AND a.id < b.id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared
       |ORDER BY id_a, id_b""".stripMargin
}
