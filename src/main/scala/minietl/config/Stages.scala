package minietl.config

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, concat, expr, lit, md5, struct, to_json}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import minietl.dedup.Dedup.DefaultMaxBucket
import minietl.ops.Ops
import minietl.streaming.Streaming

/** The YAML stage registry: one [[Stages.StageDef]] per stage type of the
  * `transformers:`, `transform:` and `stream: stages:` lists. A definition
  * declares each option once (key, whether it is required, how its value
  * parses, its default); [[Config]]'s validate, warnings and build all read
  * the same definition, so a value validate accepts is one build can read
  * (the reference keeps one registry per component kind, config.py:299-342).
  */
private[config] object Stages {

  type Frame = DataFrame => DataFrame

  /** How an option's value is read, and the generic check of a present
    * value (an [[Opt]] may replace the check to keep a more specific
    * message).
    */
  sealed abstract class Kind {
    def errors(key: String, v: Any, at: String): Seq[String]
  }
  /** A scalar read with toString (a YAML list or mapping reads as its text). */
  case object Text extends Kind {
    def errors(key: String, v: Any, at: String): Seq[String] =
      if (v == null) Seq(s"$at: '$key' has no value") else Nil
  }
  /** A list of scalars; a scalar is the one-element list. */
  case object Texts extends Kind {
    def errors(key: String, v: Any, at: String): Seq[String] = Text.errors(key, v, at)
  }
  /** A mapping; its values read as scalars or lists of scalars. */
  case object TextMap extends Kind {
    def errors(key: String, v: Any, at: String): Seq[String] = v match {
      case m: Map[_, _] =>
        m.toSeq.collect { case (k, null) => s"$at: '$key' has no value for '$k'" }
      case other => Seq(s"$at: '$key' must be a mapping, got '$other'")
    }
  }
  /** true or false (any case). */
  case object Flag extends Kind {
    def errors(key: String, v: Any, at: String): Seq[String] =
      if (isBool(v)) Nil else Seq(s"$at: '$key' must be true or false, got '$v'")
  }
  /** One flag, or a list of them. */
  case object Flags extends Kind {
    def errors(key: String, v: Any, at: String): Seq[String] =
      (v match { case l: List[Any] @unchecked => l; case x => Seq(x) })
        .flatMap(Flag.errors(key, _, at))
  }
  /** A number in [min, max]; with `auto`, also the literal "auto" (a count
    * derived at run time).
    */
  final case class Num(min: Double, max: Double, auto: Boolean = false) extends Kind {
    def errors(key: String, v: Any, at: String): Seq[String] =
      if (auto && String.valueOf(v) == "auto") Nil
      else Try(v.toString.toDouble).toOption match {
        case None => Seq(s"$at: '$key' must be numeric, got '$v'")
        // NaN fails every comparison, so `d < min || d > max` alone would
        // wave `.nan` through to a deferred require() mid-build
        case Some(d) if d.isNaN || d < min || d > max =>
          Seq(s"$at: '$key' out of [$min, $max]: $d")
        case _ => Nil
      }
  }
  private def isBool(v: Any): Boolean =
    v != null && (v.toString.equalsIgnoreCase("true") || v.toString.equalsIgnoreCase("false"))

  type Check = (Opts, String) => Seq[String]
  val noCheck: Check = (_, _) => Nil
  /** For an [[Opt]] whose value is checked elsewhere, or not at all. */
  private val anyValue: (Any, String) => Seq[String] = (_, _) => Nil

  /** One option of a stage type. `check` replaces the kind's check of a
    * present value; `hint` follows the missing-key message.
    */
  final case class Opt(key: String, kind: Kind = Text, default: Any = null,
                       required: Boolean = false, hint: String = "",
                       check: (Any, String) => Seq[String] = null) {
    def errors(v: Any, at: String): Seq[String] =
      if (check != null) check(v, at) else kind.errors(key, v, at)
  }

  /** What a stage type compiles to. */
  sealed trait Form
  /** A frame function. A `streamable` one is scan-side and stateless, so it
    * also applies verbatim to an unbounded frame.
    */
  final case class Batch(build: Opts => Frame, streamable: Boolean = false) extends Form
  /** A stateful stream stage bounded by the stream's watermark column. */
  final case class Watermarked(build: (Opts, String) => Frame) extends Form
  /** A self-maintaining ingest-dedup loop, the stream's terminal sink:
    * `start` runs its `Streaming` loop, `digests` names the digest tables it
    * writes (what `compact_after` compacts).
    */
  final case class History(start: Opts => HistoryRun => StreamingQuery,
                           digests: Opts => Seq[Streaming.DigestTable]) extends Form
  /** What a history loop gets from its stream: the frame before it, the
    * checkpoint, the trigger, and the per-batch sink writer (given a column
    * the loop added, which is dropped first).
    */
  final case class HistoryRun(frame: DataFrame, checkpoint: String, trigger: Trigger,
                              write: Option[String] => (DataFrame, Long) => Unit)

  final case class StageDef(typ: String, options: Seq[Opt], form: Form,
                            aliases: Seq[String] = Nil, label: String = null,
                            check: Check = noCheck, advice: Check = noCheck) {
    /** Missing required keys, then bad values, then the cross-key check. */
    def errors(raw: Map[String, Any], at: String): Seq[String] = {
      val missing = options.filter(o => o.required && !raw.contains(o.key)).map { o =>
        s"$at: missing '${o.key}'" + (if (o.hint.isEmpty) "" else s" (${o.hint})")
      }
      missing ++ valueErrors(options, raw, at) ++ check(opts(raw), at)
    }
    def opts(raw: Map[String, Any]): Opts = new Opts(options, raw)
    def batch: Boolean = form.isInstanceOf[Batch]
    def history: Boolean = form.isInstanceOf[History]
    /** The [[minietl.pipeline.Pipeline]] stage label. */
    def stageLabel: String = Option(label).getOrElse(typ)
    /** The frame function of a batch stage. */
    def frame(raw: Map[String, Any]): Frame = form match {
      case Batch(build, _) => build(opts(raw))
      case _ => throw new IllegalArgumentException(s"'$typ' is not a batch stage")
    }
  }

  /** The errors of each given value, in declaration order. */
  def valueErrors(options: Seq[Opt], raw: Map[String, Any], at: String): Seq[String] =
    options.flatMap(o => raw.get(o.key).toSeq.flatMap(o.errors(_, at)))

  /** Options read through their declarations (a stage's, or an endpoint
    * role's): each accessor falls back to the declared default, and reading
    * an undeclared key throws.
    */
  final class Opts(options: Seq[Opt], raw: Map[String, Any]) {
    private def decl(key: String): Opt = options.find(_.key == key).getOrElse(
      throw new IllegalArgumentException(s"no option '$key' is declared"))
    /** The value as written, else the declared default. */
    def get(key: String): Option[Any] = {
      val o = decl(key)
      raw.get(key).orElse(Option(o.default))
    }
    def has(key: String): Boolean = { decl(key); raw.contains(key) }
    def str(key: String): String = get(key).get.toString
    def strOpt(key: String): Option[String] = get(key).map(_.toString)
    def strs(key: String): Seq[String] = get(key).map(Config.strSeq).getOrElse(Nil)
    def strMap(key: String): Map[String, String] = Config.strMap(get(key).get)
    def seqMap(key: String): Map[String, Seq[String]] = get(key).get match {
      case m: Map[String, Any] @unchecked => m.map { case (k, v) => k -> Config.strSeq(v) }
    }
    def num(key: String): Double = str(key).toDouble
    def int(key: String): Int = num(key).toInt
    def long(key: String): Long = num(key).toLong
    def flag(key: String): Boolean = get(key).exists(_.toString.toBoolean)
    /** A [[Num]] with `auto`: the literal "auto" reads as `auto`. */
    def count(key: String, auto: Int): Int = str(key) match {
      case "auto" => auto
      case v => v.toDouble.toInt
    }
    /** The value as an Int if it parses; for cross-key checks, which skip
      * what the value pass already reports.
      */
    def intIfNumeric(key: String): Option[Int] =
      get(key).flatMap(v => Try(v.toString.toDouble.toInt).toOption)
  }

  private def req(key: String, kind: Kind = Text): Opt = Opt(key, kind, required = true)
  private def num(key: String, min: Double, max: Double, default: Any = null): Opt =
    Opt(key, Num(min, max), default)
  private def reqNum(key: String, min: Double, max: Double): Opt =
    Opt(key, Num(min, max), required = true)

  /** The aggregation spec of `aggregate` and of the windowed stream
    * stages: column → function name or list of names.
    */
  private val aggregations = req("aggregations", TextMap)

  private def percentileAdvice(what: String): Check = (_, at) => Seq(
    s"$at: $what computes an EXACT per-group " +
      "percentile (SQL `percentile` buffers O(distinct values) per " +
      "group on a single reducer) — fine at moderate scale, but at " +
      "100 TB prefer the mergeable sketch twin (the quantile_sketch " +
      "stage / approx_percentile, battery q_quantile_sketch)")

  /** A quantile option value as an exact rational: "19/20" verbatim, or a
    * decimal ("0.95", 0.5) as digits/10^places — the rank arithmetic
    * downstream ([[minietl.sketch.Sketches.logHistQuantiles]]) is exact
    * for ANY representation, so no reduction is needed; the output's
    * (q_num, q_den) columns echo the representation as given.
    */
  private def parseQuantile(v: Any): Option[(Int, Int)] = {
    if (v == null) return None // YAML null ('quantiles:' or '~') is a
    // validation error to REPORT, never an NPE out of validate
    val s = v.toString.trim
    if (s.contains("/")) s.split("/", -1) match {
      case Array(n, d) =>
        try { Some((n.trim.toInt, d.trim.toInt)) }
        catch { case _: NumberFormatException => None }
      case _ => None
    } else
      try {
        val bd = BigDecimal(s)
        val places = math.max(0, bd.scale)
        val den = BigDecimal(10).pow(places)
        val n = bd * den
        if (n.isValidInt && den.isValidInt) Some((n.toIntExact, den.toIntExact))
        else None
      } catch { case _: NumberFormatException => None }
  }
  private def quantileList(v: Any): Seq[Any] = v match {
    case l: Seq[Any] @unchecked => l
    case x => Seq(x)
  }

  /** `neardup_history`'s `verify:` values → the loop's crossBatch mode:
    * false → band-collision drops, true/estimate → k-lane-signature
    * estimate re-check, exact → true Jaccard over stored shingle hashes.
    */
  private val crossBatchModes = Map(
    "false" -> "collision", "true" -> "estimate", "estimate" -> "estimate", "exact" -> "exact")
  private def crossBatch(o: Opts): String = crossBatchModes(o.str("verify").toLowerCase)

  /** The digest column of `dedup_history`: its `key`, or `__fp` when the
    * fingerprint is derived from `columns`.
    */
  private def historyFpCol(o: Opts): String = o.strOpt("key").getOrElse("__fp")

  /** Options every history loop shares; validateStream requires `history`
    * among the loops' structural rules.
    */
  private val historyOpts = Seq(Opt("history"), Opt("compact_after", Flag, false))

  val all: Seq[StageDef] = Seq(
    // ---------------------------------------- the reference's transformers
    StageDef("filter", Seq(req("condition")),
      Batch(o => Ops.filterExpr(o.str("condition")), streamable = true)),
    StageDef("rename", Seq(req("columns", TextMap)),
      Batch(o => Ops.rename(o.strMap("columns")), streamable = true)),
    StageDef("select", Seq(req("columns", Texts)),
      Batch(o => Ops.select(o.strs("columns")), streamable = true)),
    StageDef("drop", Seq(req("columns", Texts)),
      Batch(o => Ops.drop(o.strs("columns")), streamable = true)),
    StageDef("cast", Seq(req("columns", TextMap)),
      Batch(o => Ops.castCoerce(o.strMap("columns")), streamable = true)),
    // the fill value goes to Ops.fillna as written, which reports a kind
    // it cannot fill
    StageDef("fillna", Seq(Opt("value", default = 0, check = anyValue), Opt("columns", Texts)),
      Batch(o => Ops.fillna(o.get("value").get, o.strs("columns")), streamable = true)),
    StageDef("expression", Seq(req("expression")),
      Batch(o => Ops.expression(o.str("expression")), streamable = true)),
    StageDef("aggregate", Seq(aggregations, Opt("group_by", Texts)),
      Batch(o => Ops.groupAgg(o.strs("group_by"), o.seqMap("aggregations"))),
      aliases = Seq("group"), label = "group_agg",
      advice = (o, at) => {
        val usesMedian = o.get("aggregations").exists {
          case m: Map[String @unchecked, Any @unchecked] =>
            m.values.exists(v => v != null && Config.strSeq(v).contains("median"))
          case _ => false // validate reports a malformed mapping
        }
        if (usesMedian) percentileAdvice("aggregation fn 'median'")(o, at) else Nil
      }),
    StageDef("dedupe", Seq(Opt("subset", Texts)),
      Batch(o => Ops.dedupe(o.strs("subset")))),
    StageDef("sort", Seq(req("by", Texts), Opt("ascending", Flags)),
      Batch { o =>
        val by = o.strs("by")
        val asc = o.get("ascending") match {
          case Some(l: List[Any] @unchecked) => l.map(_.toString.toBoolean)
          case Some(s) => Seq.fill(by.size)(s.toString.toBoolean)
          case None => Nil
        }
        Ops.sort(by, asc)
      }),
    // ---------------------------------------- training-data curation stages
    StageDef("hash_sample", Seq(req("key"), Opt("fraction", Num(0.0, 1.0), required = true)),
      Batch(o => Ops.hashSample(o.str("key"), o.num("fraction")), streamable = true)),
    StageDef("stratified_sample",
      Seq(req("key"), req("strata"),
        Opt("fractions", TextMap, required = true, check = (v, at) => v match {
          case m: Map[String, Any] @unchecked =>
            m.toSeq.sortBy(_._1).flatMap { case (k, f) =>
              Try(f.toString.toDouble).toOption match {
                case None => Seq(s"$at: fraction for '$k' must be numeric, got '$f'")
                case Some(d) if d.isNaN || d < 0.0 || d > 1.0 =>
                  Seq(s"$at: fraction for '$k' out of [0, 1]: $d")
                case _ => Nil
              }
            }
          case _ => TextMap.errors("fractions", v, at)
        }),
        num("default_fraction", 0.0, 1.0, 0.0)),
      Batch(o => Ops.stratifiedHashSample(o.str("key"), o.str("strata"),
        o.strMap("fractions").map { case (k, v) => k -> v.toDouble }, o.num("default_fraction")))),
    StageDef("pii_redact", Seq(req("column")),
      Batch(o => Ops.piiRedact(o.str("column")), streamable = true)),
    // toLong: YAML may well say 50000.0 for a score threshold
    StageDef("quality_filter", Seq(req("column"), Opt("min_score", Num(0.0, 100000.0), required = true)),
      Batch(o => Ops.qualityFilter(o.str("column"), o.long("min_score")), streamable = true)),
    StageDef("exact_dedup", Seq(req("content"), req("key")),
      Batch { o =>
        val (content, key) = (o.str("content"), o.str("key"))
        df => minietl.dedup.Dedup.exact(df, content, key)
      }),
    StageDef("gopher_filter",
      Seq(req("column"), num("min_words", 0.0, Double.MaxValue, 50),
        num("max_words", 0.0, Double.MaxValue, 100000)),
      Batch(o => Ops.gopherFilter(o.str("column"), o.long("min_words"), o.long("max_words")),
        streamable = true)),
    StageDef("temperature_sample",
      Seq(req("key"), req("strata"), reqNum("target_fraction", 0.0, 1.0),
        num("alpha", Double.MinPositiveValue, 1.0, 0.5)),
      Batch(o => Ops.temperatureSample(o.str("key"), o.str("strata"),
        o.num("target_fraction"), o.num("alpha")))),
    // shards > 1 switches to the salted-shard path for hot strata: exact
    // per-shard sub-budgets summing to the stratum budget, shards-way
    // parallel per stratum (never overshoots the budget); "auto" derives
    // the count from the stratum census at run time
    StageDef("token_budget",
      Seq(req("strata"), req("tokens"), reqNum("budget", 0.0, Double.MaxValue), req("key"),
        Opt("shards", Num(1.0, 65536.0, auto = true), 1), Opt("seed", default = "0")),
      Batch { o =>
        val (key, seed) = (o.str("key"), o.str("seed"))
        val shards = o.count("shards", Ops.AutoShards)
        if (shards > 1 || shards == Ops.AutoShards)
          Ops.tokenBudgetSalted(o.str("strata"), o.str("tokens"), o.long("budget"),
            Ops.shuffleKey(key, seed),
            minietl.functions.PortableHash.md5Hash60(
              concat(lit(s"$seed-shard#"), col(key).cast("string"))),
            shards)
        else
          Ops.tokenBudget(o.str("strata"), o.str("tokens"), o.long("budget"),
            Ops.shuffleKey(key, seed))
      }),
    StageDef("top_p_select",
      Seq(req("strata"), req("mass"), reqNum("p_basis_points", 0.0, 10000.0), req("tie_break"),
        Opt("shards", Num(1.0, 65536.0, auto = true), 1)),
      Batch(o => Ops.topPByMass(o.str("strata"), o.str("mass"), o.int("p_basis_points"),
        o.str("tie_break"), o.count("shards", Ops.AutoShards)))),
    StageDef("paragraph_dedup",
      Seq(req("text"), req("key"), Opt("delim", default = "\n"),
        num("min_chars", 0.0, Int.MaxValue.toDouble, 0)),
      Batch { o =>
        val (text, key, delim, minChars) =
          (o.str("text"), o.str("key"), o.str("delim"), o.int("min_chars"))
        df => minietl.text.ParagraphDedup.dedupParagraphs(df, text, key, delim, minChars)
      }),
    StageDef("normalize_text", Seq(req("column")),
      Batch({ o =>
        val c = o.str("column")
        df => df.withColumn(c, minietl.text.TextAnalysis.normalizeText(df(c)))
      }, streamable = true)),
    // collapse runs of consecutive identical tokens (stutter repair)
    StageDef("squeeze_repeats", Seq(req("column"), Opt("delim", default = " ")),
      Batch({ o =>
        val (c, delim) = (o.str("column"), o.str("delim"))
        df => df.withColumn(c, minietl.text.TextAnalysis.squeezeRepeats(df(c), delim))
      }, streamable = true)),
    // C4 within-doc line dedup: keep first occurrence of each segment
    StageDef("dedup_lines", Seq(req("column"), Opt("delim", default = "\n")),
      Batch({ o =>
        val (c, delim) = (o.str("column"), o.str("delim"))
        df => df.withColumn(c, minietl.text.TextAnalysis.dedupSegmentsInDoc(df(c), delim))
      }, streamable = true)),
    StageDef("feature_hash",
      Seq(req("column"), req("out_column"), reqNum("dim", 1.0, 1048576.0)),
      Batch({ o =>
        val (c, out, dim) = (o.str("column"), o.str("out_column"), o.int("dim"))
        df => df.withColumn(out, minietl.text.FeatureHash.tfVector(df(c), dim))
      }, streamable = true)),
    // corpus-wide near-dup removal; transitive: true walks clusters
    // (connected components) instead of the greedy pair drop
    StageDef("minhash_dedup",
      Seq(req("text"), req("key"), num("shingle_n", 1.0, 64.0, 3), num("k", 1.0, 4096.0, 128),
        num("bands", 1.0, 4096.0, 32), num("threshold", 0.0, 1.0, 0.8),
        Opt("transitive", Flag, false)),
      Batch { o =>
        val (text, key) = (o.str("text"), o.str("key"))
        val (n, k, bands, thr) = (o.int("shingle_n"), o.int("k"), o.int("bands"), o.num("threshold"))
        if (o.flag("transitive"))
          df => minietl.dedup.Dedup.minhashDedupClusters(df, text, key, n, k, bands, thr)
        else df => minietl.dedup.Dedup.minhashDedup(df, text, key, n, k, bands, thr)
      },
      // HashFamily.bandKeys requires k % bands == 0; the defaults stand in
      // for an unset key, so overriding just one is still caught pre-run
      check = (o, at) => (o.intIfNumeric("k"), o.intIfNumeric("bands")) match {
        case (Some(k), Some(b)) if b > 0 && k % b != 0 =>
          Seq(s"$at: 'bands' ($b) must divide 'k' ($k)")
        case _ => Nil
      }),
    // substring-level dedup (Lee et al. '22): duplicated token spans survive
    // only in the lowest-key document; text column rewritten. fixpoint: true
    // re-runs detect-and-excise until no cross-doc span remains (excision
    // junctions can create new adjacencies) or max_iter rounds.
    StageDef("span_dedup",
      Seq(req("text"), req("key"), num("k", 1.0, 64.0, 4), num("min_span_tokens", 1.0, 1e9, 8),
        num("max_postings", 1.0, 1e9, DefaultMaxBucket), num("max_iter", 1.0, 1000.0, 10),
        Opt("fixpoint", Flag, false)),
      Batch { o =>
        val (text, key) = (o.str("text"), o.str("key"))
        val (k, minSpan, maxPost) = (o.int("k"), o.int("min_span_tokens"), o.int("max_postings"))
        val maxIter = o.int("max_iter")
        if (o.flag("fixpoint"))
          df => minietl.dedup.Winnow.spanDedupFixpoint(df, text, key, k, minSpan, maxPost, maxIter)
        else df => minietl.dedup.Winnow.spanDedup(df, text, key, k, minSpan, maxPost)
      },
      // spanDedup requires minSpanTokens >= k (defaults fill an unset key)
      check = (o, at) => (o.intIfNumeric("k"), o.intIfNumeric("min_span_tokens")) match {
        case (Some(k), Some(m)) if m < k => Seq(s"$at: 'min_span_tokens' ($m) must be >= 'k' ($k)")
        case _ => Nil
      }),
    // label-noise routing: train multinomial NB on the frame's own (label,
    // text) and keep rows whose self-prediction AGREES with the recorded
    // label — the cheap confident-learning pass a corpus pipeline runs
    // before trusting provenance labels
    StageDef("naive_bayes_filter",
      Seq(req("label"), req("text"), req("key"), num("dim", 1.0, 1048576.0, 64)),
      Batch { o =>
        val (label, text, key, dim) = (o.str("label"), o.str("text"), o.str("key"), o.int("dim"))
        df => {
          // training sees the whole frame (priors reflect the recorded
          // label frequencies; all-null-text labels survive via train's
          // left-joined priors); the agreement check scores only rows the
          // model CAN score, and null-text rows PASS THROUGH — a routing
          // filter must never silently drop rows it cannot score (same
          // contract as image_dhash_dedup's undecodable rows)
          val model = minietl.text.NaiveBayes.train(df, label, text, dim)
          val scorable = df.where(col(text).isNotNull)
          val agree = minietl.text.NaiveBayes.classify(scorable, model, key, text, dim)
            .join(scorable.select(col(key), col(label)), key)
            .where(col("pred") === col(label))
            .select(key)
          df.join(agree, Seq(key), "left_semi")
            .unionByName(df.where(col(text).isNull))
        }
      }),
    // DSIR data selection: score against the target_condition domain's
    // hashed-feature distribution, keep the deterministic top-k rows. k's
    // upper bound is Int.MaxValue because the build reads it as an Int.
    StageDef("dsir_select",
      Seq(req("target_condition"), req("text"), req("key"),
        num("dim", 1.0, 1048576.0, Config.DsirDefaultDim), reqNum("k", 1.0, Int.MaxValue.toDouble)),
      Batch { o =>
        val (cond, text, key) = (o.str("target_condition"), o.str("text"), o.str("key"))
        val (k, dim) = (o.int("k"), o.int("dim"))
        df => {
          val ratio = minietl.text.Dsir.logRatio(df, text, expr(cond), dim)
          val top = minietl.text.Dsir.select(df, ratio, key, text, dim, k)
          df.join(top.select(key), Seq(key), "left_semi")
        }
      },
      advice = (o, at) => o.intIfNumeric("dim").collect {
        case d if d < 512 =>
          s"$at dim=$d: DSIR selection is " +
            "strongly dim-sensitive (measured top-k overlap vs dim=1024: " +
            "~20-36% at dims 64/256); use dim >= 512 (default 1024) " +
            "unless the ranking churn is acceptable"
      }.toSeq),
    // SemDeDup: k-means-bounded cosine components, keep canonicals.
    // nlist "auto" is sized from a row census at run time (Ivf.autoNlist).
    // recluster_rounds: 0 restores the isolate-only hot-cluster guard; the
    // default 1 splits over-cap clusters with a second k-means round before
    // isolating what still exceeds the cap.
    StageDef("semdedup",
      Seq(req("vec"), req("key"), Opt("nlist", Num(1.0, 65536.0, auto = true), 8),
        num("iters", 1.0, 100.0, 3), num("tau", -1.0, 1.0, 0.9),
        num("max_cluster_size", 2.0, 1e9, DefaultMaxBucket), num("recluster_rounds", 0.0, 16.0, 1)),
      Batch { o =>
        val (vecCol, key, nlistOpt) = (o.str("vec"), o.str("key"), o.str("nlist"))
        val (iters, tau) = (o.int("iters"), o.num("tau"))
        val (maxCluster, reclusterRounds) = (o.int("max_cluster_size"), o.int("recluster_rounds"))
        df => {
          // auto targets half the census cap, so auto-sized clusters sit
          // comfortably under the hot-cluster guard
          val nlist =
            if (nlistOpt == "auto")
              minietl.sim.Ivf.autoNlist(df, targetClusterRows = math.max(1, maxCluster / 2))
            else nlistOpt.toDouble.toInt
          val model = minietl.sim.Ivf.train(df, nlist, iters, key, vecCol)
          val keep = minietl.sim.SemDedup
            .semDedup(df, model, tau, key, vecCol, maxCluster, reclusterRounds)
            .where(col("keep") === 1L)
            .select(col("id").as(key))
          df.join(keep, Seq(key), "left_semi")
        }
      }),
    // perceptual exact-dup removal on a binary media column; rows the
    // decoder cannot read pass through
    StageDef("image_dhash_dedup", Seq(req("content"), req("key")),
      Batch { o =>
        val (content, key) = (o.str("content"), o.str("key"))
        df => minietl.multimodal.PerceptualHash.dedupExact(df, key, content)
      }),
    // JL dimension reduction at ingest (Achlioptas ±1, hash-derived signs —
    // no stored model): adds `out_column` for downstream vector stages
    StageDef("random_projection",
      Seq(req("vec"), req("out_column"), reqNum("dim_in", 1.0, 1048576.0),
        reqNum("dim_out", 1.0, 65536.0), num("seed", Int.MinValue.toDouble, Int.MaxValue.toDouble, 42)),
      Batch { o =>
        val (vecCol, out) = (o.str("vec"), o.str("out_column"))
        val (dimIn, dimOut, seed) = (o.int("dim_in"), o.int("dim_out"), o.int("seed"))
        df => df.withColumn(out, minietl.sim.RandomProjection.project(df(vecCol), seed, dimIn, dimOut))
      }),
    // transitive perceptual near-dup removal (banded Hamming + CC); 4x14-bit
    // bands guarantee recall only for distance <= 3
    StageDef("image_neardup_dedup",
      Seq(req("content"), req("key"), num("max_dist", 1.0, 3.0, 3),
        num("max_bucket_size", 2.0, 1e9, DefaultMaxBucket)),
      Batch { o =>
        val (content, key) = (o.str("content"), o.str("key"))
        val (maxDist, maxBucket) = (o.int("max_dist"), o.int("max_bucket_size"))
        df => minietl.multimodal.PerceptualHash.dedupNear(df, key, content, maxDist, maxBucket)
      }),
    // perceptual audio dedup on a binary PCM column (energy-contour hash):
    // max_dist 0 keeps one clip per exact hash group; 1..3 folds transitive
    // banded-Hamming near-dups; undecodable rows pass
    StageDef("audio_hash_dedup",
      Seq(req("content"), req("key"), num("max_dist", 0.0, 3.0, 0),
        num("max_bucket_size", 2.0, 1e9, DefaultMaxBucket)),
      Batch { o =>
        val (content, key) = (o.str("content"), o.str("key"))
        val (maxDist, maxBucket) = (o.int("max_dist"), o.int("max_bucket_size"))
        if (maxDist == 0) df => minietl.multimodal.PerceptualAudio.dedupExact(df, key, content)
        else df => minietl.multimodal.PerceptualAudio.dedupNear(df, key, content, maxDist, maxBucket)
      }),
    // the mergeable log-histogram quantile sketch — the in-config twin the
    // exact-percentile advisory points at: one (keys, bucket) groupBy with
    // map-side combine (Sketches.logHistQuantiles; oracle q_quantile_sketch).
    // Output: (group_by..., q_num, q_den, est). Quantiles are decimals
    // ("0.95") or rationals ("19/20"); a scalar is the one-element list.
    StageDef("quantile_sketch",
      Seq(req("value"), num("scale", 1.0, 1e12, 1000),
        Opt("quantiles", Texts, required = true, check = (v, at) => v match {
          case l: Seq[Any] @unchecked if l.isEmpty => Seq(s"$at: 'quantiles' must be a non-empty list")
          case _ => quantileList(v).flatMap(q => parseQuantile(q) match {
            // d > 0 mirrors the runtime require in
            // Sketches.quantilesFromBucketCounts — "0/0" must error HERE
            case Some((n, d)) if n >= 0 && d > 0 && n <= d => Nil
            case Some((n, d)) => Seq(s"$at: quantile $n/$d out of [0, 1]")
            case None => Seq(s"$at: unparseable quantile '$q' (use a decimal like " +
              "0.95 or a rational like 19/20)")
          })
        }),
        Opt("group_by", Texts)),
      Batch { o =>
        val (value, keys, scale) = (o.str("value"), o.strs("group_by"), o.long("scale"))
        val qs = quantileList(o.get("quantiles").get).map(v => parseQuantile(v).get)
        df => minietl.sketch.Sketches.logHistQuantiles(df, keys, value, qs, scale)
      }),
    StageDef("sigma_outlier_filter", Seq(req("group_by", Texts), req("value"), num("k", 1.0, 9.0, 3)),
      Batch { o =>
        val (g, v, k) = (o.strs("group_by"), o.str("value"), o.int("k"))
        df => minietl.events.EventAnalytics.sigmaOutlierFilter(df, g, v, k)
      }),
    StageDef("mad_outlier_filter", Seq(req("group_by", Texts), req("value"), num("k", 1.0, 9.0, 3)),
      Batch { o =>
        val (g, v, k) = (o.strs("group_by"), o.str("value"), o.int("k"))
        df => minietl.events.EventAnalytics.madOutlierFilter(df, g, v, k)
      },
      advice = percentileAdvice("the median/MAD frame")),
    StageDef("winsorize",
      Seq(req("group_by", Texts), req("value"), num("lo", 0.0, 1.0, 0.01), num("hi", 0.0, 1.0, 0.99)),
      Batch(o => Ops.winsorize(o.strs("group_by"), o.str("value"), o.num("lo"), o.num("hi"))),
      advice = percentileAdvice("percentile clipping")),
    StageDef("impute", Seq(req("group_by", Texts), req("value"),
        Opt("strategy", required = true, check = (v, at) =>
          if (Set("median", "mode")(String.valueOf(v))) Nil
          else Seq(s"$at: strategy must be 'median' or 'mode', got '$v'"))),
      Batch(o => Ops.imputeGroup(o.str("value"), o.strs("group_by"), o.str("strategy"))),
      advice = (o, at) =>
        if (o.get("strategy").exists(String.valueOf(_) == "median")) percentileAdvice("strategy 'median'")(o, at)
        else Nil),
    // joins per-doc bigram-surprise scores back onto the frame (left: docs
    // without bigrams keep null scores) so a filter stage can threshold
    // avg_millibits next
    StageDef("lm_surprise", Seq(req("key"), req("column")),
      Batch { o =>
        val (key, c) = (o.str("key"), o.str("column"))
        df => minietl.text.LmScore.withBigramSurprise(df, key, c)
      }),
    // drops docs whose distinct-shingle overlap with the benchmark file
    // exceeds max_permille; docs with no grams carry no signal and pass
    StageDef("contamination_filter",
      Seq(req("key"), req("column"), req("benchmark_filepath"), reqNum("max_permille", 0.0, 1000.0),
        Opt("benchmark_column"), num("n", 2.0, 20.0, 5)),
      Batch { o =>
        val (key, c, benchPath) = (o.str("key"), o.str("column"), o.str("benchmark_filepath"))
        val benchCol = o.strOpt("benchmark_column").getOrElse(c)
        val (n, maxPermille) = (o.int("n"), o.long("max_permille"))
        df => {
          val bench = minietl.io.Readers.parquet(df.sparkSession, benchPath)
            .select(col(benchCol).as(c)).withColumn(key, lit(0L))
          val frac = minietl.text.Decontaminate
            .contaminationFraction(df, bench, key, c, n)
            .select(col(key), col("permille"))
          df.join(frac, Seq(key), "left")
            .where(coalesce(col("permille"), lit(0L)) <= maxPermille)
            .drop("permille")
        }
      }),
    // drops rows whose `column` embedding is cosine-similar (>= threshold)
    // to ANY vector in the benchmark parquet — the embedding-level sibling
    // of contamination_filter (catches paraphrased leakage). The benchmark
    // side is eval-suite-sized and broadcast.
    StageDef("semantic_decontaminate",
      Seq(req("key"), req("column"), req("benchmark_filepath"), reqNum("threshold", -1.0, 1.0),
        reqNum("dim", 1.0, 65536.0), num("bits_per_band", 1.0, 30.0, 8), num("bands", 1.0, 1024.0, 32),
        Opt("benchmark_column")),
      Batch { o =>
        val (key, c, benchPath) = (o.str("key"), o.str("column"), o.str("benchmark_filepath"))
        val benchCol = o.strOpt("benchmark_column").getOrElse(c)
        val (threshold, dim) = (o.num("threshold"), o.int("dim"))
        val (bpb, bands) = (o.int("bits_per_band"), o.int("bands"))
        df => {
          val bench = minietl.io.Readers.parquet(df.sparkSession, benchPath)
            .select(col(benchCol).as(c))
            .withColumn(key, org.apache.spark.sql.functions.monotonically_increasing_id())
          minietl.sim.Similarity.semanticDecontaminate(
            df, bench, threshold, bpb, bands, dim, idCol = key, vecCol = c)
        }
      }),
    // trains a BPE tokenizer on the frame's own text column and joins
    // per-doc subword stats back on (left: docs with no tokens keep nulls).
    // TRAIN-ONCE: training is the most expensive stage in the pipeline, and
    // a DAG that materializes this node twice would run it twice — so the
    // trained model is memoized in this stage closure, keyed by the input's
    // canonicalized plan (one training per distinct input per pipeline
    // BUILD; deterministic either way, this is purely a cost contract)
    StageDef("bpe_stats",
      Seq(req("key"), req("column"), reqNum("num_merges", 1.0, 100000.0),
        num("max_vocab", 1.0, 10000000.0, 100000)),
      Batch { o =>
        val (key, c) = (o.str("key"), o.str("column"))
        val (merges, maxVocab) = (o.int("num_merges"), o.int("max_vocab"))
        val trained = new java.util.concurrent.ConcurrentHashMap[
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
          minietl.text.Bpe.BpeModel]()
        df => {
          val planKey = df.queryExecution.analyzed.canonicalized
          val model = trained.computeIfAbsent(planKey,
            _ => minietl.text.Bpe.train(df, c, merges, maxVocab))
          df.join(
            minietl.text.Bpe.encodeStats(df, key, c, model).withColumnRenamed("doc_id", key),
            Seq(key), "left")
        }
      }),
    // ------------------------------------------------ stream-only stages
    // the watermark is applied ONCE at the source (Spark rejects redefining
    // it mid-plan), so the stateful stages use the *Watermarked variants
    StageDef("window_agg", Seq(req("window"), req("keys", Texts), aggregations, Opt("slide")),
      Watermarked { (o, wm) =>
        val (window, keys, aggs) = (o.str("window"), o.strs("keys"), o.seqMap("aggregations"))
        o.strOpt("slide") match {
          case Some(slide) => df => Streaming.slidingAggWatermarked(df, wm, window, slide, keys, aggs)
          case None => df => Streaming.tumblingAggWatermarked(df, wm, window, keys, aggs)
        }
      }),
    StageDef("session_agg", Seq(req("gap"), req("keys", Texts), aggregations),
      Watermarked { (o, wm) =>
        val (gap, keys, aggs) = (o.str("gap"), o.strs("keys"), o.seqMap("aggregations"))
        df => Streaming.sessionAggWatermarked(df, wm, gap, keys, aggs)
      }),
    StageDef("dedup", Seq(req("keys", Texts)),
      Watermarked { (o, _) =>
        val keys = o.strs("keys")
        df => Streaming.dedupWatermarked(df, keys)
      }),
    // 'key' names an existing fingerprint column; 'columns' derives one: md5
    // over the JSON encoding of the column struct. JSON (with
    // ignoreNullFields=false) is null-faithful and boundary-faithful — a
    // separator join would SKIP nulls, so (null,"a") / ("a",null) would
    // collide and a lone null column would collapse with the empty string,
    // silently over-deduplicating. Dropped again before the sink write.
    StageDef("dedup_history", historyOpts ++ Seq(Opt("key"), Opt("columns", Texts)),
      History(
        o => {
          val (history, fpCol, cols) = (o.str("history"), historyFpCol(o), o.strs("columns"))
          val derived = !o.has("key")
          r => {
            val prepared =
              if (!derived) r.frame
              else r.frame.withColumn(fpCol, md5(to_json(struct(cols.map(col): _*),
                java.util.Collections.singletonMap("ignoreNullFields", "false")).cast("binary")))
            Streaming.dedupAndRecordHistory(prepared, fpCol, history, r.checkpoint, r.trigger)(
              r.write(if (derived) Some(fpCol) else None))
          }
        },
        o => Streaming.exactDigests(o.str("history"), historyFpCol(o))),
      check = (o, at) => (o.has("key"), o.has("columns")) match {
        case (true, true) => Seq(s"$at: give exactly one of 'key'/'columns', not both")
        case (false, false) =>
          Seq(s"$at: needs 'key' (an existing fingerprint column) or " +
            "'columns' (columns to fingerprint with md5)")
        case _ => Nil
      }),
    StageDef("neardup_history",
      historyOpts ++ Seq(
        Opt("column", required = true, hint = "the text column to near-dup on"),
        Opt("id", required = true, hint = "the document id column"),
        Opt("threshold", default = 0.8, check = (t, at) => {
          val v = Try(t.toString.toDouble).getOrElse(-1.0)
          if (v > 0 && v <= 1) Nil else Seq(s"$at: threshold must be in (0, 1], got '$t'")
        }),
        Opt("verify", default = "false", check = (v, at) =>
          if (crossBatchModes.contains(String.valueOf(v).toLowerCase)) Nil
          else Seq(s"$at: verify must be true/false/estimate/exact " +
            s"(collision ← false; estimate ← true), got '$v'")),
        // shingle_n 0 runs as unigrams, as it always has
        Opt("shingle_n", Num(Double.NegativeInfinity, Double.PositiveInfinity), 3),
        // checked together below, as the loop reads them
        Opt("num_hashes", default = 128, check = anyValue),
        Opt("bands", default = 32, check = anyValue)),
      History(
        o => {
          val (history, id, column) = (o.str("history"), o.str("id"), o.str("column"))
          val (shingleN, k, bands) = (o.int("shingle_n"), o.int("num_hashes"), o.int("bands"))
          val (threshold, mode) = (o.num("threshold"), crossBatch(o))
          r => Streaming.nearDupDedupAndRecordHistory(r.frame, id, column, history, r.checkpoint,
            shingleN = shingleN, k = k, bands = bands, threshold = threshold,
            crossBatch = mode, trigger = r.trigger)(r.write(None))
        },
        o => Streaming.nearDupDigests(o.str("history"), crossBatch(o))),
      // HashFamily.bandKeys requires bands | num_hashes — a pre-run error,
      // not a drain-time one (an unparseable value reads as -1)
      check = (o, at) => {
        val k = o.intIfNumeric("num_hashes").getOrElse(-1)
        val b = o.intIfNumeric("bands").getOrElse(-1)
        if (k > 0 && b > 0 && k % b == 0) Nil
        else Seq(s"$at: num_hashes ($k) must be a positive multiple of bands ($b)")
      }),
    // perceptual-hash media ingest-dedup: max_dist 0 = exact hash, 1..3 =
    // hash-verified banded Hamming
    StageDef("media_hash_history",
      historyOpts ++ Seq(
        Opt("id", required = true, hint = "the media id column"),
        Opt("content", required = true, hint = "the binary payload column"),
        Opt("kind", required = true, hint = "image | audio", check = (k, at) =>
          if (Set("image", "audio")(String.valueOf(k).toLowerCase)) Nil
          else Seq(s"$at: kind must be image or audio, got '$k'")),
        Opt("max_dist", default = 2, check = (d, at) => {
          val v = Try(d.toString.toDouble.toInt).getOrElse(-1)
          if (v >= 0 && v <= 3) Nil
          else Seq(s"$at: max_dist must be 0 (exact) or 1..3 (banded Hamming), got '$d'")
        })),
      History(
        o => {
          val (history, id, content) = (o.str("history"), o.str("id"), o.str("content"))
          val (kind, maxDist) = (o.str("kind").toLowerCase, o.int("max_dist"))
          r => Streaming.mediaHashDedupAndRecordHistory(r.frame, id, content, kind = kind,
            maxDist = maxDist, history, r.checkpoint, trigger = r.trigger)(r.write(None))
        },
        o => Streaming.mediaDigests(o.str("history"), o.int("max_dist"))))
  )

  private val byName: Map[String, StageDef] =
    all.flatMap(d => (d.typ +: d.aliases).map(_ -> d)).toMap

  def find(typ: String): Option[StageDef] = byName.get(typ)
}
