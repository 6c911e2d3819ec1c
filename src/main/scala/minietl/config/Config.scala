package minietl.config

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import minietl.ops.Ops
import minietl.pipeline.{Pipeline, PipelineBuilder}
import minietl.schema.{ColumnSpec, TableSchema}

/** The YAML/JSON pipeline config surface (reference: mini_etl/core/config.py).
  *
  * Registered types mirror the reference registries:
  *  - sources: csv, json, jsonl, parquet, sql (config.py:72-73, 264-297)
  *  - transformers: filter, rename, select, drop, cast, fillna, expression,
  *    aggregate|group (config.py:81-87, 299-342)
  *  - sinks: csv, json, jsonl, parquet, sql (config.py:77-78, 344-378)
  * `excel` is a real source AND sink via the dependency-free XLSX subset
  * reader/writer ([[minietl.io.Excel]] — driver-buffered, like the
  * reference's pandas path); `api` is a real source
  * (ApiSource / RestDataSource).
  *
  * Beyond the reference's single linear pipeline, a `dag:` root key
  * describes a multi-source PipelineDAG (sources / transform / merge /
  * branch nodes / sinks) — see [[parseDag]] — closing the asymmetry where
  * DAGs existed only in code.
  *
  * Env-var interpolation `${VAR}` / `$VAR` in the raw text before parsing
  * (config.py:103,158-168).
  */
object Config {

  final case class ComponentConfig(typ: String, options: Map[String, Any])
  final case class PipelineConfig(
      name: String,
      source: ComponentConfig,
      transformers: Seq[ComponentConfig],
      sink: ComponentConfig,
      schema: Option[TableSchema] = None)

  private val sourceTypes = Set("csv", "json", "jsonl", "parquet", "orc", "excel", "sql", "api")
  private val sinkTypes = Set("csv", "json", "jsonl", "parquet", "orc", "excel", "sql")
  private val transformerTypes =
    Set("filter", "rename", "select", "drop", "cast", "fillna", "expression",
      "aggregate", "group", "dedupe", "sort",
      // training-data pipeline stages (beyond the reference's set)
      "hash_sample", "stratified_sample", "pii_redact", "quality_filter",
      "exact_dedup", "gopher_filter", "temperature_sample", "token_budget",
      "paragraph_dedup", "normalize_text", "feature_hash", "sigma_outlier_filter",
      "winsorize", "impute", "mad_outlier_filter", "top_p_select",
      "lm_surprise", "contamination_filter", "semantic_decontaminate",
      "bpe_stats", "squeeze_repeats", "dedup_lines",
      "minhash_dedup", "span_dedup",
      "naive_bayes_filter", "dsir_select", "semdedup", "image_dhash_dedup",
      "random_projection", "image_neardup_dedup", "audio_hash_dedup",
      "quantile_sketch")
  private val declaredUnsupported = Set.empty[String]

  private val EnvBrace: Regex = """\$\{([A-Za-z_][A-Za-z0-9_]*)\}""".r
  private val EnvBare: Regex = """\$([A-Za-z_][A-Za-z0-9_]*)""".r

  /** `${VAR}` / `$VAR` replaced from the environment; unknown vars are left
    * verbatim (matching the reference's `os.path.expandvars` behavior).
    */
  def substituteEnv(text: String, env: Map[String, String] = sys.env): String = {
    val braced = EnvBrace.replaceAllIn(text,
      m => Regex.quoteReplacement(env.getOrElse(m.group(1), m.matched)))
    EnvBare.replaceAllIn(braced,
      m => Regex.quoteReplacement(env.getOrElse(m.group(1), m.matched)))
  }

  // ------------------------------------------------------------- parsing
  private def asScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, vv) => k.toString -> asScala(vv) }.toMap
    case l: java.util.List[_] => l.asScala.map(asScala).toList
    case other => other
  }

  private def component(m: Map[String, Any], what: String): ComponentConfig = {
    val typ = m.getOrElse("type",
      throw new IllegalArgumentException(s"$what is missing 'type'")).toString
    ComponentConfig(typ.toLowerCase, m - "type")
  }

  /** Parse YAML (JSON is a YAML subset) into the config model. */
  def parse(text: String, env: Map[String, String] = sys.env): PipelineConfig = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val raw = asScala(yaml.load[Any](substituteEnv(text, env))) match {
      case m: Map[String, Any] @unchecked => m
      case other => throw new IllegalArgumentException(s"config root must be a mapping, got $other")
    }
    val name = raw.getOrElse("name", "pipeline").toString
    val source = component(raw.get("source") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("config needs a 'source' mapping")
    }, "source")
    val sink = component(raw.get("sink") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("config needs a 'sink' mapping")
    }, "sink")
    val transformers = raw.get("transformers") match {
      case Some(l: List[Any] @unchecked) =>
        l.map {
          case m: Map[String, Any] @unchecked => component(m, "transformer")
          case other => throw new IllegalArgumentException(s"transformer entry must be a mapping: $other")
        }
      case None => Nil
      case other => throw new IllegalArgumentException(s"'transformers' must be a list: $other")
    }
    val schema = raw.get("schema") match {
      case Some(m: Map[String, Any] @unchecked) =>
        val strict = m.get("strict").exists(_.toString.toBoolean)
        val cols = m.get("columns") match {
          case Some(l: List[Any] @unchecked) => l.map {
            case cm: Map[String, Any] @unchecked =>
              ColumnSpec(
                cm("name").toString, cm.getOrElse("dtype", "string").toString,
                cm.get("nullable").forall(_.toString.toBoolean),
                cm.get("default"))
            case other => throw new IllegalArgumentException(s"schema column must be a mapping: $other")
          }
          case _ => Nil
        }
        Some(TableSchema(cols, strict))
      case _ => None
    }
    PipelineConfig(name, source, transformers, sink, schema)
  }

  // ---------------------------------------------------------- validation
  /** Error list, not an exception — mirrors config.validate()
    * (config.py:63-88).
    */
  def validate(c: PipelineConfig): Seq[String] = {
    val srcErrs = checkEndpoint(c.source, "source")
    val sinkErrs = checkEndpoint(c.sink, "sink")
    val tErrs = c.transformers.zipWithIndex.flatMap { case (t, i) =>
      checkTransformer(t, s"transformer[$i]")
    }
    srcErrs ++ sinkErrs ++ tErrs
  }

  /** Default feature-hash width for the `dsir_select` stage — 1024, not
    * the 64 other hashed-feature stages default to, because the selection
    * ranking is the output and it is strongly dim-sensitive (see
    * [[warnings]] and [[minietl.text.Dsir]]'s sizing scaladoc).
    */
  val DsirDefaultDim: Int = 1024

  /** Advisory findings a config is ALLOWED to ship with (unlike
    * [[validate]]'s errors): configurations that are semantically valid
    * but measurably fragile.
    *
    *  - a `dsir_select` dim below 512 — the r15 nb_dsir_dim probe measured
    *    DSIR's top-k overlap vs dim=1024 at only ~20-36% for dims 64/256
    *    on a 1M-doc corpus (the hashed-feature log-ratio is dominated by
    *    collision noise at narrow widths), so a narrow dim silently
    *    selects a materially different corpus. NB routing is
    *    dim-INsensitive (99.98% identical predictions 64→1024), hence no
    *    analogous warning for `naive_bayes_filter`.
    *  - EXACT per-group percentile stages (`winsorize`,
    *    `impute strategy: median`, `mad_outlier_filter`, and a `median`
    *    aggregation fn): SQL `percentile` buffers every distinct value
    *    per group on one reducer, so a 100 TB group blows executor memory
    *    while the mergeable sketch twin
    *    ([[minietl.sketch.Sketches]] log-histogram / `approx_percentile`,
    *    battery q_quantile_sketch) streams in O(buckets). Sketch-backed
    *    aggregations (`approx_nunique`) stay silent — they ARE the
    *    recommended shape.
    */
  def warnings(c: PipelineConfig): Seq[String] =
    c.transformers.zipWithIndex.flatMap { case (t, i) =>
      def percentileWarning(what: String): Seq[String] = Seq(
        s"transformer[$i] ${t.typ}: $what computes an EXACT per-group " +
          "percentile (SQL `percentile` buffers O(distinct values) per " +
          "group on a single reducer) — fine at moderate scale, but at " +
          "100 TB prefer the mergeable sketch twin (the quantile_sketch " +
          "stage / approx_percentile, battery q_quantile_sketch)")
      t.typ match {
        case "dsir_select" =>
          // Try: an unparseable dim is validate's error to report
          // (numeric("dim")), not a reason for the advisory channel to
          // throw past it (ADVICE r16)
          t.options.get("dim")
            .flatMap(v => scala.util.Try(v.toString.toDouble.toInt).toOption)
            .collect {
            case d if d < 512 =>
              s"transformer[$i] dsir_select dim=$d: DSIR selection is " +
                "strongly dim-sensitive (measured top-k overlap vs dim=1024: " +
                "~20-36% at dims 64/256); use dim >= 512 (default 1024) " +
                "unless the ranking churn is acceptable"
          }.toSeq
        case "winsorize" => percentileWarning("percentile clipping")
        case "mad_outlier_filter" => percentileWarning("the median/MAD frame")
        case "impute" if t.options.get("strategy").exists(_.toString == "median") =>
          percentileWarning("strategy 'median'")
        case "aggregate" | "group" =>
          // the aggregations mapping may be malformed here — that is
          // validate's error to report, so parse defensively
          val usesMedian = t.options.get("aggregations").exists {
            case m: Map[String @unchecked, Any @unchecked] =>
              m.values.exists {
                case l: Seq[Any @unchecked] => l.exists(_.toString == "median")
                case v => v.toString == "median"
              }
            case _ => false
          }
          if (usesMedian) percentileWarning("aggregation fn 'median'") else Nil
        case _ => Nil
      }
    }

  /** Source/sink component check, shared by the linear and DAG validators.
    * `what` is "source" or "sink" (possibly suffixed with the node id).
    */
  private def checkEndpoint(cc: ComponentConfig, what: String): Seq[String] = {
    val kind = if (what.startsWith("source")) "source" else "sink"
    cc.typ match {
      case t if declaredUnsupported.contains(t) =>
        Seq(s"$what type '$t' is not supported in this build (offline; see SURVEY §7.6)")
      case "api" if kind == "source" =>
        Seq(
          if (!cc.options.contains("url")) Some(s"$what api needs url") else None,
          cc.options.get("auth").collect {
            case m: Map[String, Any] @unchecked
              if !Set("basic", "bearer").contains(
                m.getOrElse("type", "").toString.toLowerCase) =>
              s"$what api auth type must be basic or bearer"
          },
          cc.options.get("pagination").collect {
            case m: Map[String, Any] @unchecked
              if !Set("page", "offset").contains(
                m.getOrElse("type", "").toString.toLowerCase) =>
              s"$what api pagination type must be page or offset"
          },
        ).flatten
      case "sql" =>
        Seq(
          if (!cc.options.contains("connection_string")) Some(s"$what sql needs connection_string") else None,
          if (kind == "source" && cc.options.contains("query") == cc.options.contains("table"))
            Some(s"$what sql needs exactly one of query/table") else None,
          if (kind == "sink" && !cc.options.contains("table")) Some(s"$what sql needs table") else None,
        ).flatten
      case t @ ("csv" | "json" | "jsonl") if kind == "source" =>
        // error-mode surface (reference's per-chunk skip story, SURVEY §7.6):
        // mode → Spark reader PERMISSIVE/DROPMALFORMED/FAILFAST;
        // schema (ordered column list, same shape as the top-level schema
        // block) → explicit reader StructType, killing the inference scan;
        // bad_records_path (csv, needs schema) → malformed-line capture.
        val needsPath =
          if (cc.options.contains("filepath") || cc.options.contains("path")) Nil
          else Seq(s"$what $t needs filepath")
        val modeErr = cc.options.get("mode").toSeq.flatMap { m =>
          if (Set("permissive", "dropmalformed", "failfast")(m.toString.toLowerCase)) Nil
          else Seq(s"$what $t mode must be permissive, dropmalformed or failfast")
        }
        val schemaErrs = cc.options.get("schema").toSeq.flatMap { v =>
          try readerSpecs(v).flatMap { cs =>
            try { cs.dataType; None }
            catch { case _: Exception =>
              Some(s"$what $t schema: unknown dtype '${cs.dtype}' for column '${cs.name}'") }
          }
          catch { case e: IllegalArgumentException => Seq(s"$what $t ${e.getMessage}") }
        }
        val brpErrs =
          if (!cc.options.contains("bad_records_path")) Nil
          else if (t != "csv")
            Seq(s"$what $t bad_records_path is only supported for csv sources")
          else if (!cc.options.contains("schema"))
            Seq(s"$what csv bad_records_path requires an explicit schema " +
              "(corrupt-line capture needs declared columns)")
          else if (cc.options.contains("mode"))
            // capture forces the PERMISSIVE read (a FAILFAST/DROPMALFORMED
            // read never surfaces the corrupt rows to capture) — a user
            // mode would be silently overridden, so reject the combination
            Seq(s"$what csv mode cannot be combined with bad_records_path " +
              "(the capture read is always PERMISSIVE; drop one of the two)")
          else Nil
        needsPath ++ modeErr ++ schemaErrs ++ brpErrs
      case t if (if (kind == "source") sourceTypes else sinkTypes).contains(t) =>
        if (cc.options.contains("filepath") || cc.options.contains("path")) Nil
        else Seq(s"$what $t needs filepath")
      case t => Seq(s"unknown $kind type '$t' ($what)")
    }
  }

  /** Transformer component check, shared by the linear and DAG validators. */
  private def checkTransformer(t: ComponentConfig, at: String): Seq[String] =
    if (!transformerTypes.contains(t.typ)) Seq(s"$at: unknown type '${t.typ}'")
    else requiredTransformerKey(t.typ).filterNot(t.options.contains)
      .map(k => s"$at ${t.typ}: missing '$k'") ++
      valueErrors(t.typ, t.options, s"$at ${t.typ}")

  /** Value-level checks so config mistakes surface in the pre-run error
    * list, not as a NumberFormatException/MatchError mid-build or a
    * deferred require() after the source has already been read.
    */
  private def valueErrors(typ: String, o: Map[String, Any], at: String): Seq[String] = {
    def numeric(key: String, min: Double, max: Double): Seq[String] = o.get(key) match {
      case None => Nil // absence is the required-key check's job
      case Some(v) => scala.util.Try(v.toString.toDouble).toOption match {
        case None => Seq(s"$at: '$key' must be numeric, got '$v'")
        // NaN fails every comparison, so `d < min || d > max` alone would
        // wave `.nan` through to a deferred require() mid-build
        case Some(d) if d.isNaN || d < min || d > max =>
          Seq(s"$at: '$key' out of [$min, $max]: $d")
        case _ => Nil
      }
    }
    // numeric, except the literal "auto" is allowed (salted-shard count
    // derived from the stratum census at run time — Ops.autoShards)
    def numericOrAuto(key: String, min: Double, max: Double): Seq[String] =
      o.get(key) match {
        case Some(v) if v.toString == "auto" => Nil
        case _ => numeric(key, min, max)
      }
    typ match {
      case "hash_sample" => numeric("fraction", 0.0, 1.0)
      case "quality_filter" => numeric("min_score", 0.0, 100000.0)
      case "stratified_sample" =>
        (o.get("fractions") match {
          case None => Nil
          case Some(m: Map[String, Any] @unchecked) =>
            m.toSeq.sortBy(_._1).flatMap { case (k, v) =>
              scala.util.Try(v.toString.toDouble).toOption match {
                case None => Seq(s"$at: fraction for '$k' must be numeric, got '$v'")
                case Some(d) if d.isNaN || d < 0.0 || d > 1.0 =>
                  Seq(s"$at: fraction for '$k' out of [0, 1]: $d")
                case _ => Nil
              }
            }
          case Some(other) => Seq(s"$at: 'fractions' must be a mapping, got '$other'")
        }) ++ numeric("default_fraction", 0.0, 1.0)
      case "temperature_sample" =>
        numeric("target_fraction", 0.0, 1.0) ++
          numeric("alpha", Double.MinPositiveValue, 1.0)
      case "token_budget" =>
        numeric("budget", 0.0, Double.MaxValue) ++ numericOrAuto("shards", 1.0, 65536.0)
      case "gopher_filter" =>
        numeric("min_words", 0.0, Double.MaxValue) ++
          numeric("max_words", 0.0, Double.MaxValue)
      case "paragraph_dedup" => numeric("min_chars", 0.0, Int.MaxValue.toDouble)
      case "feature_hash" => numeric("dim", 1.0, 1048576.0)
      case "sigma_outlier_filter" => numeric("k", 1.0, 9.0)
      case "mad_outlier_filter" => numeric("k", 1.0, 9.0)
      case "top_p_select" =>
        numeric("p_basis_points", 0.0, 10000.0) ++ numericOrAuto("shards", 1.0, 65536.0)
      case "winsorize" => numeric("lo", 0.0, 1.0) ++ numeric("hi", 0.0, 1.0)
      case "contamination_filter" =>
        numeric("max_permille", 0.0, 1000.0) ++ numeric("n", 2.0, 20.0)
      case "semantic_decontaminate" =>
        numeric("threshold", -1.0, 1.0) ++ numeric("dim", 1.0, 65536.0) ++
          numeric("bits_per_band", 1.0, 30.0) ++ numeric("bands", 1.0, 1024.0)
      case "bpe_stats" =>
        numeric("num_merges", 1.0, 100000.0) ++
          numeric("max_vocab", 1.0, 10000000.0)
      case "minhash_dedup" =>
        numeric("shingle_n", 1.0, 64.0) ++ numeric("k", 1.0, 4096.0) ++
          numeric("bands", 1.0, 4096.0) ++ numeric("threshold", 0.0, 1.0) ++ {
            // bands must divide k (lshBandKeys requires k % bands == 0).
            // Fill in the STAGE DEFAULTS (k=128, bands=32) before checking,
            // so a config overriding just one key (e.g. bands: 24 against
            // default k) is still caught pre-run instead of at runtime.
            (o.get("k").flatMap(v => scala.util.Try(v.toString.toDouble.toInt).toOption)
               .orElse(if (o.contains("k")) None else Some(128)),
             o.get("bands").flatMap(v => scala.util.Try(v.toString.toDouble.toInt).toOption)
               .orElse(if (o.contains("bands")) None else Some(32))) match {
              case (Some(kk), Some(b)) if b > 0 && kk % b != 0 =>
                Seq(s"$at: 'bands' ($b) must divide 'k' ($kk)")
              case _ => Nil
            }
          }
      case "span_dedup" =>
        numeric("k", 1.0, 64.0) ++ numeric("min_span_tokens", 1.0, 1e9) ++
          numeric("max_postings", 1.0, 1e9) ++ numeric("max_iter", 1.0, 1000.0) ++ {
            // spanDedup requires minSpanTokens >= k — surface it pre-run.
            // Stage defaults (k=4, min_span_tokens=8) are filled in before
            // the check so single-key overrides are validated too.
            (o.get("k").flatMap(v => scala.util.Try(v.toString.toDouble.toInt).toOption)
               .orElse(if (o.contains("k")) None else Some(4)),
             o.get("min_span_tokens").flatMap(v => scala.util.Try(v.toString.toDouble.toInt).toOption)
               .orElse(if (o.contains("min_span_tokens")) None else Some(8))) match {
              case (Some(kk), Some(m)) if m < kk =>
                Seq(s"$at: 'min_span_tokens' ($m) must be >= 'k' ($kk)")
              case _ => Nil
            }
          }
      case "naive_bayes_filter" => numeric("dim", 1.0, 1048576.0)
      case "dsir_select" =>
        // k upper bound = Int.MaxValue so validation matches runtime: the
        // builder parses k with .toDouble.toInt, which CLAMPS anything
        // larger to 2147483647 instead of erroring (ADVICE r14) — a
        // validator range beyond that would bless configs the runtime
        // silently alters
        numeric("dim", 1.0, 1048576.0) ++ numeric("k", 1.0, Int.MaxValue.toDouble)
      case "semdedup" =>
        // nlist accepts the literal "auto": derived from a row census at
        // run time (Ivf.autoNlist) so clusters land under the census cap
        numericOrAuto("nlist", 1.0, 65536.0) ++ numeric("iters", 1.0, 100.0) ++
          numeric("tau", -1.0, 1.0) ++ numeric("max_cluster_size", 2.0, 1e9) ++
          // recovery rounds (0 = r15 isolate-only guard; default 1 since
          // r16 — see the stage docs): validate here so a negative value
          // errors at `validate` time, not at semDedupTrace's require
          // mid-pipeline (ADVICE r16)
          numeric("recluster_rounds", 0.0, 16.0)
      case "random_projection" =>
        numeric("dim_in", 1.0, 1048576.0) ++ numeric("dim_out", 1.0, 65536.0) ++
          numeric("seed", Int.MinValue.toDouble, Int.MaxValue.toDouble)
      case "image_neardup_dedup" =>
        // 4x14-bit bands guarantee recall only for distance <= 3
        numeric("max_dist", 1.0, 3.0) ++ numeric("max_bucket_size", 2.0, 1e9)
      case "audio_hash_dedup" =>
        // max_dist 0 = exact full-hash groups; 1..3 = transitive banded near
        numeric("max_dist", 0.0, 3.0) ++ numeric("max_bucket_size", 2.0, 1e9)
      case "quantile_sketch" =>
        // quantiles accept decimals ("0.95") or explicit rationals
        // ("19/20"); a scalar is the one-element list (the same leniency
        // strSeq gives every list-valued option, and the builder's parse)
        numeric("scale", 1.0, 1e12) ++ (o.get("quantiles") match {
          case None => Nil // required-key check's job
          case Some(l: Seq[Any] @unchecked) if l.isEmpty =>
            Seq(s"$at: 'quantiles' must be a non-empty list")
          case Some(v) =>
            val l = v match { case s: Seq[Any] @unchecked => s; case x => Seq(x) }
            l.flatMap(q => parseQuantile(q) match {
              // d > 0 mirrors the runtime require in
              // Sketches.quantilesFromBucketCounts — "0/0" must error HERE,
              // not mid-pipeline after the source was read
              case Some((n, d)) if n >= 0 && d > 0 && n <= d => Nil
              case Some((n, d)) =>
                Seq(s"$at: quantile $n/$d out of [0, 1]")
              case None =>
                Seq(s"$at: unparseable quantile '$q' (use a decimal like " +
                  "0.95 or a rational like 19/20)")
            })
        })
      case _ => Nil
    }
  }

  /** A quantile option value as an exact rational: "19/20" verbatim, or a
    * decimal ("0.95", 0.5) as digits/10^places — the rank arithmetic
    * downstream ([[minietl.sketch.Sketches.logHistQuantiles]]) is exact
    * for ANY representation, so no reduction is needed; the output's
    * (q_num, q_den) columns echo the representation as given.
    */
  private[config] def parseQuantile(v: Any): Option[(Int, Int)] = {
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
        val num = bd * den
        if (num.isValidInt && den.isValidInt) Some((num.toIntExact, den.toIntExact))
        else None
      } catch { case _: NumberFormatException => None }
  }

  private def requiredTransformerKey(typ: String): Seq[String] = typ match {
    case "filter" => Seq("condition")
    case "rename" | "cast" => Seq("columns")
    case "select" | "drop" => Seq("columns")
    case "expression" => Seq("expression")
    case "aggregate" | "group" => Seq("aggregations")
    case "sort" => Seq("by")
    case "hash_sample" => Seq("key", "fraction")
    case "stratified_sample" => Seq("key", "strata", "fractions")
    case "pii_redact" => Seq("column")
    case "quality_filter" => Seq("column", "min_score")
    case "exact_dedup" => Seq("content", "key")
    case "gopher_filter" => Seq("column")
    case "temperature_sample" => Seq("key", "strata", "target_fraction")
    case "token_budget" => Seq("strata", "tokens", "budget", "key")
    case "paragraph_dedup" => Seq("text", "key")
    case "normalize_text" => Seq("column")
    case "feature_hash" => Seq("column", "out_column", "dim")
    case "sigma_outlier_filter" => Seq("group_by", "value")
    case "mad_outlier_filter" => Seq("group_by", "value")
    case "top_p_select" => Seq("strata", "mass", "p_basis_points", "tie_break")
    case "winsorize" => Seq("group_by", "value")
    case "impute" => Seq("group_by", "value", "strategy")
    case "lm_surprise" => Seq("key", "column")
    case "contamination_filter" => Seq("key", "column", "benchmark_filepath", "max_permille")
    case "semantic_decontaminate" =>
      Seq("key", "column", "benchmark_filepath", "threshold", "dim")
    case "bpe_stats" => Seq("key", "column", "num_merges")
    case "squeeze_repeats" | "dedup_lines" => Seq("column")
    case "minhash_dedup" | "span_dedup" => Seq("text", "key")
    case "naive_bayes_filter" => Seq("label", "text", "key")
    case "dsir_select" => Seq("target_condition", "text", "key", "k")
    case "semdedup" => Seq("vec", "key")
    case "image_dhash_dedup" => Seq("content", "key")
    case "random_projection" => Seq("vec", "out_column", "dim_in", "dim_out")
    case "image_neardup_dedup" => Seq("content", "key")
    case "audio_hash_dedup" => Seq("content", "key")
    case "quantile_sketch" => Seq("value", "quantiles")
    case _ => Nil
  }

  // ------------------------------------------------------------ building
  private def str(o: Map[String, Any], k: String): String = o(k).toString
  /** `shards` option: ONLY the literal "auto" maps to the AutoShards
    * sentinel; numeric values must be >= 1 (mirrors the validator, so a
    * caller that skips validate — ADVICE r13 — gets a fail-fast instead of
    * `shards: 0` silently engaging auto derivation via the sentinel).
    */
  private def parseShards(o: Map[String, Any]): Int =
    o.get("shards").map(_.toString) match {
      case Some("auto") => minietl.ops.Ops.AutoShards
      case Some(v) =>
        val n = v.toDouble.toInt
        require(n >= 1, s"shards must be >= 1 or 'auto' (got $v)")
        n
      case None => 1
    }
  private def path(o: Map[String, Any]): String =
    o.get("filepath").orElse(o.get("path")).map(_.toString)
      .getOrElse(throw new IllegalArgumentException("needs filepath"))
  private def strSeq(v: Any): Seq[String] = v match {
    case l: List[Any] @unchecked => l.map(_.toString)
    case s => Seq(s.toString)
  }
  private def strMap(v: Any): Map[String, String] = v match {
    case m: Map[String, Any] @unchecked => m.map { case (k, vv) => k -> vv.toString }
  }

  /** Source-level reader schema: an ORDERED list of column mappings (the
    * same shape as the top-level `schema.columns` block). Order is
    * load-bearing — Spark's CSV reader matches an explicit schema to the
    * file positionally, not by header name.
    */
  private def readerSpecs(v: Any): Seq[ColumnSpec] = v match {
    case l: List[Any] @unchecked => l.map {
      case cm: Map[String, Any] @unchecked =>
        ColumnSpec(
          cm.getOrElse("name",
            throw new IllegalArgumentException("schema column needs 'name'")).toString,
          cm.getOrElse("dtype", "string").toString,
          cm.get("nullable").forall(_.toString.toBoolean))
      case other => throw new IllegalArgumentException(s"schema column must be a mapping: $other")
    }
    case other =>
      throw new IllegalArgumentException(s"schema must be a list of column mappings: $other")
  }

  private def readerSchema(v: Any): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(readerSpecs(v).map(_.field))

  /** `mode:` key → Spark reader option (validated upstream). */
  private def modeOpt(o: Map[String, Any]): Map[String, String] =
    o.get("mode").map(m => "mode" -> m.toString.toUpperCase).toMap

  /** Source component → reader function. Shared by the linear [[build]]
    * and the DAG [[buildDag]] so a source means the same thing in both
    * shapes. Assumes the component already passed validation.
    */
  private def sourceFn(cc: ComponentConfig): org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame = {
    import minietl.io.Readers
    val o = cc.options
    cc.typ match {
      case "csv" =>
        val userOpts = strMap(o.getOrElse("options", Map.empty[String, Any])) ++ modeOpt(o)
        val schema = o.get("schema").map(readerSchema)
        o.get("bad_records_path").map(_.toString) match {
          case Some(brp) =>
            // Malformed-line capture (the reference's skipped-chunk error
            // files, SURVEY §7.6): read PERMISSIVE with a corrupt-record
            // column appended to the declared schema, OVERWRITE `brp` with
            // the raw bad lines as JSONL, and flow clean rows on. Overwrite,
            // not append: each source materialization captures the same bad
            // lines, so append would duplicate them on every pipeline re-run
            // (or a DAG reading the source twice); the capture always
            // reflects the latest read of the file. Two scans of the source
            // (bad-write + downstream), NO cache — the scale-safe trade; the
            // corrupt column never escapes this function.
            s => {
              val corrupt = "_corrupt_record"
              val readSchema = schema.get.add(corrupt, org.apache.spark.sql.types.StringType)
              import org.apache.spark.sql.functions.col
              def read() = Readers.csv(s, path(o), schema = Some(readSchema),
                options = userOpts ++ Map(
                  "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt))
              // rename on the way out: a literal `_corrupt_record` field
              // would re-trigger Spark's corrupt-column-only restriction
              // for whoever reads the capture file back
              read().filter(col(corrupt).isNotNull)
                .withColumnRenamed(corrupt, "bad_record")
                .write.mode("overwrite").json(brp)
              read().filter(col(corrupt).isNull).drop(corrupt)
            }
          case None =>
            s => Readers.csv(s, path(o), schema = schema, options = userOpts)
        }
      case "json" => s => Readers.json(s, path(o), lines = false,
        schema = o.get("schema").map(readerSchema),
        options = strMap(o.getOrElse("options", Map.empty[String, Any])) ++ modeOpt(o))
      case "jsonl" => s => Readers.json(s, path(o), lines = true,
        schema = o.get("schema").map(readerSchema),
        options = strMap(o.getOrElse("options", Map.empty[String, Any])) ++ modeOpt(o))
      case "parquet" => s => Readers.parquet(s, path(o),
        o.get("columns").map(strSeq).getOrElse(Nil))
      case "orc" => s => Readers.orc(s, path(o),
        o.get("columns").map(strSeq).getOrElse(Nil))
      case "excel" =>
        // sheet_name: Union[str, int] like the reference (extractors.py:170)
        val sheet = o.get("sheet_name").map(_.toString)
        val byIndex = sheet.flatMap(_.toIntOption)
        s => minietl.io.Excel.read(s, path(o),
          name = if (byIndex.isEmpty) sheet else None,
          index = byIndex.getOrElse(0))
      case "sql" => s => Readers.jdbc(s, str(o, "connection_string"),
        o.get("table").map(_.toString), o.get("query").map(_.toString))
      case "api" =>
        val pagination = o.get("pagination") match {
          case Some(m: Map[String, Any] @unchecked) =>
            m.getOrElse("type", "").toString.toLowerCase match {
              case "page" => minietl.io.ApiSource.Pagination.Page(
                pageParam = m.getOrElse("page_param", "page").toString,
                limitParam = m.getOrElse("limit_param", "limit").toString,
                limit = m.getOrElse("limit", 100).toString.toDouble.toInt,
                startPage = m.getOrElse("start_page", 1).toString.toDouble.toInt)
              case "offset" => minietl.io.ApiSource.Pagination.Offset(
                offsetParam = m.getOrElse("offset_param", "offset").toString,
                limitParam = m.getOrElse("limit_param", "limit").toString,
                limit = m.getOrElse("limit", 100).toString.toDouble.toInt)
            }
          case _ => minietl.io.ApiSource.Pagination.None_
        }
        val auth = o.get("auth") match {
          case Some(m: Map[String, Any] @unchecked) =>
            m.getOrElse("type", "").toString.toLowerCase match {
              case "basic" => minietl.io.ApiSource.Auth.Basic(
                str(m, "username"), str(m, "password"))
              case "bearer" => minietl.io.ApiSource.Auth.Bearer(str(m, "token"))
            }
          case _ => minietl.io.ApiSource.Auth.None_
        }
        s => minietl.io.ApiSource.fetch(s,
          url = str(o, "url"),
          params = o.get("params").map(strMap).getOrElse(Map.empty),
          headers = o.get("headers").map(strMap).getOrElse(Map.empty),
          dataPath = o.get("data_path").map(_.toString).getOrElse(""),
          pagination = pagination,
          auth = auth,
          timeoutSec = o.get("timeout").map(_.toString.toDouble.toInt).getOrElse(30))
    }
  }

  /** Transformer component → frame function (same Ops mappings as the
    * [[PipelineBuilder]] methods). Shared by [[build]] and [[buildDag]].
    */
  private def transformFn(t: ComponentConfig): org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    t.typ match {
      case "filter" => Ops.filterExpr(str(t.options, "condition"))
      case "rename" => Ops.rename(strMap(t.options("columns")))
      case "select" => Ops.select(strSeq(t.options("columns")))
      case "drop" => Ops.drop(strSeq(t.options("columns")))
      case "cast" => Ops.castCoerce(strMap(t.options("columns")))
      case "fillna" => Ops.fillna(t.options.getOrElse("value", 0),
        t.options.get("columns").map(strSeq).getOrElse(Nil))
      case "expression" => Ops.expression(str(t.options, "expression"))
      case "aggregate" | "group" =>
        val aggs = t.options("aggregations") match {
          case m: Map[String, Any] @unchecked => m.map { case (k, v) => k -> strSeq(v) }
        }
        Ops.groupAgg(t.options.get("group_by").map(strSeq).getOrElse(Nil), aggs)
      case "dedupe" => Ops.dedupe(t.options.get("subset").map(strSeq).getOrElse(Nil))
      case "sort" =>
        val by = strSeq(t.options("by"))
        val asc = t.options.get("ascending") match {
          case Some(l: List[Any] @unchecked) => l.map(_.toString.toBoolean)
          case Some(s) => Seq.fill(by.size)(s.toString.toBoolean)
          case None => Nil
        }
        Ops.sort(by, asc)
      case "hash_sample" =>
        Ops.hashSample(str(t.options, "key"), str(t.options, "fraction").toDouble)
      case "stratified_sample" =>
        val fractions = t.options("fractions") match {
          case m: Map[String, Any] @unchecked => m.map { case (k, v) => k -> v.toString.toDouble }
          case other => throw new IllegalArgumentException(
            s"stratified_sample 'fractions' must be a mapping, got '$other'")
        }
        Ops.stratifiedHashSample(str(t.options, "key"), str(t.options, "strata"), fractions,
          t.options.get("default_fraction").map(_.toString.toDouble).getOrElse(0.0))
      case "pii_redact" => Ops.piiRedact(str(t.options, "column"))
      case "quality_filter" =>
        // toDouble.toLong: YAML may well say 50000.0 for a score threshold
        Ops.qualityFilter(str(t.options, "column"), str(t.options, "min_score").toDouble.toLong)
      case "exact_dedup" =>
        df => minietl.dedup.Dedup.exact(df, str(t.options, "content"), str(t.options, "key"))
      case "gopher_filter" =>
        Ops.gopherFilter(str(t.options, "column"),
          t.options.get("min_words").map(_.toString.toDouble.toLong).getOrElse(50L),
          t.options.get("max_words").map(_.toString.toDouble.toLong).getOrElse(100000L))
      case "temperature_sample" =>
        Ops.temperatureSample(str(t.options, "key"), str(t.options, "strata"),
          str(t.options, "target_fraction").toDouble,
          t.options.get("alpha").map(_.toString.toDouble).getOrElse(0.5))
      case "token_budget" =>
        // shards > 1 switches to the salted-shard path for hot strata:
        // exact per-shard sub-budgets summing to the stratum budget,
        // shards-way parallel per stratum (never overshoots the budget)
        val key = str(t.options, "key")
        val seed = t.options.get("seed").map(_.toString).getOrElse("0")
        // "auto" -> AutoShards sentinel (count derived from the stratum
        // census at run time); absent -> the plain exact operator
        val tbShards = parseShards(t.options)
        if (tbShards > 1 || tbShards == minietl.ops.Ops.AutoShards)
          Ops.tokenBudgetSalted(str(t.options, "strata"), str(t.options, "tokens"),
            str(t.options, "budget").toDouble.toLong,
            Ops.shuffleKey(key, seed),
            minietl.functions.PortableHash.md5Hash60(
              org.apache.spark.sql.functions.concat(
                org.apache.spark.sql.functions.lit(s"$seed-shard#"),
                org.apache.spark.sql.functions.col(key).cast("string"))),
            tbShards)
        else
          Ops.tokenBudget(str(t.options, "strata"), str(t.options, "tokens"),
            str(t.options, "budget").toDouble.toLong,
            Ops.shuffleKey(key, seed))
      case "paragraph_dedup" =>
        df => minietl.text.ParagraphDedup.dedupParagraphs(
          df, str(t.options, "text"), str(t.options, "key"),
          t.options.get("delim").map(_.toString).getOrElse("\n"),
          t.options.get("min_chars").map(_.toString.toDouble.toInt).getOrElse(0))
      case "normalize_text" =>
        val c = str(t.options, "column")
        df => df.withColumn(c, minietl.text.TextAnalysis.normalizeText(df(c)))
      case "squeeze_repeats" =>
        // collapse runs of consecutive identical tokens (stutter repair)
        val c = str(t.options, "column")
        val delim = t.options.get("delim").map(_.toString).getOrElse(" ")
        df => df.withColumn(c, minietl.text.TextAnalysis.squeezeRepeats(df(c), delim))
      case "dedup_lines" =>
        // C4 within-doc line dedup: keep first occurrence of each segment
        val c = str(t.options, "column")
        val delim = t.options.get("delim").map(_.toString).getOrElse("\n")
        df => df.withColumn(c, minietl.text.TextAnalysis.dedupSegmentsInDoc(df(c), delim))
      case "minhash_dedup" =>
        // corpus-wide near-dup removal; transitive: true walks clusters
        // (connected components) instead of the greedy pair drop
        val (text, key) = (str(t.options, "text"), str(t.options, "key"))
        val n = t.options.get("shingle_n").map(_.toString.toDouble.toInt).getOrElse(3)
        val k = t.options.get("k").map(_.toString.toDouble.toInt).getOrElse(128)
        val bands = t.options.get("bands").map(_.toString.toDouble.toInt).getOrElse(32)
        val thr = t.options.get("threshold").map(_.toString.toDouble).getOrElse(0.8)
        val transitive = t.options.get("transitive").exists(_.toString.toBoolean)
        df =>
          if (transitive)
            minietl.dedup.Dedup.minhashDedupClusters(df, text, key, n, k, bands, thr)
          else minietl.dedup.Dedup.minhashDedup(df, text, key, n, k, bands, thr)
      case "span_dedup" =>
        // substring-level dedup (Lee et al. '22): duplicated token spans
        // survive only in the lowest-key document; text column rewritten.
        // fixpoint: true re-runs detect-and-excise until no cross-doc span
        // remains (excision junctions can create new adjacencies) or
        // max_iter rounds.
        val (text, key) = (str(t.options, "text"), str(t.options, "key"))
        val k = t.options.get("k").map(_.toString.toDouble.toInt).getOrElse(4)
        val minSpan = t.options.get("min_span_tokens").map(_.toString.toDouble.toInt).getOrElse(8)
        val maxPost = t.options.get("max_postings").map(_.toString.toDouble.toInt)
          .getOrElse(minietl.dedup.Dedup.DefaultMaxBucket)
        val fixpoint = t.options.get("fixpoint").exists(_.toString.toBoolean)
        val maxIter = t.options.get("max_iter").map(_.toString.toDouble.toInt).getOrElse(10)
        df =>
          if (fixpoint)
            minietl.dedup.Winnow.spanDedupFixpoint(df, text, key, k, minSpan, maxPost, maxIter)
          else minietl.dedup.Winnow.spanDedup(df, text, key, k, minSpan, maxPost)
      case "feature_hash" =>
        val c = str(t.options, "column")
        val out = str(t.options, "out_column")
        val dim = str(t.options, "dim").toDouble.toInt
        df => df.withColumn(out, minietl.text.FeatureHash.tfVector(df(c), dim))
      case "naive_bayes_filter" =>
        // label-noise routing: train multinomial NB on the frame's own
        // (label, text) and keep rows whose self-prediction AGREES with the
        // recorded label — the cheap confident-learning pass a corpus
        // pipeline runs before trusting provenance labels
        val (label, text, key) =
          (str(t.options, "label"), str(t.options, "text"), str(t.options, "key"))
        val dim = t.options.get("dim").map(_.toString.toDouble.toInt).getOrElse(64)
        df => {
          import org.apache.spark.sql.functions.col
          // training sees the whole frame (priors reflect the recorded
          // label frequencies; all-null-text labels survive via train's
          // left-joined priors); the agreement check scores only rows the
          // model CAN score, and null-text rows PASS THROUGH — a routing
          // filter must never silently drop rows it cannot score (ADVICE
          // r14; same contract as image_dhash_dedup's undecodable rows)
          val model = minietl.text.NaiveBayes.train(df, label, text, dim)
          val scorable = df.where(col(text).isNotNull)
          val agree = minietl.text.NaiveBayes.classify(scorable, model, key, text, dim)
            .join(scorable.select(col(key), col(label)), key)
            .where(col("pred") === col(label))
            .select(key)
          df.join(agree, Seq(key), "left_semi")
            .unionByName(df.where(col(text).isNull))
        }
      case "dsir_select" =>
        // DSIR data selection: score against the target_condition domain's
        // hashed-feature distribution, keep the deterministic top-k rows.
        // Default dim 1024 (raised from 64 per the r15 nb_dsir_dim probe:
        // DSIR's top-k overlap vs dim=1024 is only ~20-36% at dims 64/256 —
        // the selection is strongly dim-sensitive, so the default spends
        // the ~2x wall for a stable ranking; see Dsir scaladoc + PLANS.md)
        val (cond, text, key) = (str(t.options, "target_condition"),
          str(t.options, "text"), str(t.options, "key"))
        val k = str(t.options, "k").toDouble.toInt
        val dim = t.options.get("dim").map(_.toString.toDouble.toInt)
          .getOrElse(DsirDefaultDim)
        df => {
          val ratio = minietl.text.Dsir.logRatio(df, text,
            org.apache.spark.sql.functions.expr(cond), dim)
          val top = minietl.text.Dsir.select(df, ratio, key, text, dim, k)
          df.join(top.select(key), Seq(key), "left_semi")
        }
      case "semdedup" =>
        // SemDeDup: k-means-bounded cosine components, keep canonicals
        val (vecCol, key) = (str(t.options, "vec"), str(t.options, "key"))
        val nlistOpt = t.options.get("nlist").map(_.toString)
        val iters = t.options.get("iters").map(_.toString.toDouble.toInt).getOrElse(3)
        val tau = t.options.get("tau").map(_.toString.toDouble).getOrElse(0.9)
        val maxCluster = t.options.get("max_cluster_size")
          .map(_.toString.toDouble.toInt)
          .getOrElse(minietl.dedup.Dedup.DefaultMaxBucket)
        // hot-cluster recovery rounds (VERDICT r15 Next #2): 0 restores the
        // isolate-only guard; default 1 splits over-cap clusters with a
        // second k-means round before isolating what still exceeds the cap.
        // DEFAULT CHANGE (r16): existing configs without the key moved from
        // the isolate-only guard (0) to one recovery round (1) — over-cap
        // clusters now dedup instead of passing through verbatim, so the
        // kept set can only SHRINK; pin `recluster_rounds: 0` to restore
        // r15 behavior.
        val reclusterRounds = t.options.get("recluster_rounds")
          .map(_.toString.toDouble.toInt).getOrElse(1)
        df => {
          import org.apache.spark.sql.functions.col
          // "auto" sizes nlist from the corpus so the per-cluster quadratic
          // stays executor-sized without a manual dial (VERDICT r14 Next
          // #5); the target is half the census cap, so auto-sized clusters
          // sit comfortably under the hot-cluster guard
          val nlist = nlistOpt match {
            case Some("auto") => minietl.sim.Ivf.autoNlist(df,
              targetClusterRows = math.max(1, maxCluster / 2))
            case Some(v) => v.toDouble.toInt
            case None => 8
          }
          val model = minietl.sim.Ivf.train(df, nlist, iters, key, vecCol)
          val keep = minietl.sim.SemDedup
            .semDedup(df, model, tau, key, vecCol, maxCluster, reclusterRounds)
            .where(col("keep") === 1L)
            .select(col("id").as(key))
          df.join(keep, Seq(key), "left_semi")
        }
      case "image_dhash_dedup" =>
        // perceptual exact-dup removal on a binary media column; rows the
        // decoder cannot read pass through
        val (content, key) = (str(t.options, "content"), str(t.options, "key"))
        df => minietl.multimodal.PerceptualHash.dedupExact(df, key, content)
      case "random_projection" =>
        // JL dimension reduction at ingest (Achlioptas ±1, hash-derived
        // signs — no stored model): adds `out_column` so downstream vector
        // stages (semdedup, minhash-style ANN) run on the narrow vectors
        val (vecCol, out) = (str(t.options, "vec"), str(t.options, "out_column"))
        val dimIn = str(t.options, "dim_in").toDouble.toInt
        val dimOut = str(t.options, "dim_out").toDouble.toInt
        val seed = t.options.get("seed").map(_.toString.toDouble.toInt).getOrElse(42)
        df => df.withColumn(out,
          minietl.sim.RandomProjection.project(df(vecCol), seed, dimIn, dimOut))
      case "image_neardup_dedup" =>
        // transitive perceptual near-dup removal (banded Hamming + CC);
        // undecodable rows pass through, same contract as image_dhash_dedup
        val (content, key) = (str(t.options, "content"), str(t.options, "key"))
        val maxDist = t.options.get("max_dist").map(_.toString.toDouble.toInt).getOrElse(3)
        val maxBucket = t.options.get("max_bucket_size")
          .map(_.toString.toDouble.toInt)
          .getOrElse(minietl.dedup.Dedup.DefaultMaxBucket)
        df => minietl.multimodal.PerceptualHash
          .dedupNear(df, key, content, maxDist, maxBucket)
      case "quantile_sketch" =>
        // the mergeable log-histogram quantile sketch as a stage — the
        // in-config twin the exact-percentile advisory (Config.warnings)
        // points at: one (keys, bucket) groupBy with map-side combine,
        // ~368 rows per key per partition on the exchange regardless of n
        // (Sketches.logHistQuantiles scaladoc; oracle q_quantile_sketch).
        // Output: (group_by..., q_num, q_den, est).
        val value = str(t.options, "value")
        val keys = t.options.get("group_by").map(strSeq).getOrElse(Nil)
        val qs = (t.options("quantiles") match {
          case l: Seq[Any] @unchecked => l
          case v => Seq(v)
        }).map(v => parseQuantile(v).getOrElse(
          throw new IllegalArgumentException(s"unparseable quantile '$v'")))
        val scale = t.options.get("scale")
          .map(_.toString.toDouble.toLong).getOrElse(1000L)
        df => minietl.sketch.Sketches.logHistQuantiles(df, keys, value, qs, scale)
      case "audio_hash_dedup" =>
        // perceptual audio dedup on a binary PCM column (energy-contour
        // hash): max_dist 0 keeps one clip per exact hash group; 1..3 folds
        // transitive banded-Hamming near-dups; undecodable rows pass
        val (content, key) = (str(t.options, "content"), str(t.options, "key"))
        val maxDist = t.options.get("max_dist").map(_.toString.toDouble.toInt).getOrElse(0)
        val maxBucket = t.options.get("max_bucket_size")
          .map(_.toString.toDouble.toInt)
          .getOrElse(minietl.dedup.Dedup.DefaultMaxBucket)
        df =>
          if (maxDist == 0)
            minietl.multimodal.PerceptualAudio.dedupExact(df, key, content)
          else minietl.multimodal.PerceptualAudio
            .dedupNear(df, key, content, maxDist, maxBucket)
      case "sigma_outlier_filter" =>
        val (g, v) = (strSeq(t.options("group_by")), str(t.options, "value"))
        val k = t.options.get("k").map(_.toString.toDouble.toInt).getOrElse(3)
        df => minietl.events.EventAnalytics.sigmaOutliers(df, g, v, k)
          .where(!org.apache.spark.sql.functions.col("is_outlier"))
          .drop("group_n", "is_outlier")
      case "mad_outlier_filter" =>
        val (g, v) = (strSeq(t.options("group_by")), str(t.options, "value"))
        val k = t.options.get("k").map(_.toString.toDouble.toInt).getOrElse(3)
        df => minietl.events.EventAnalytics.madOutliers(df, g, v, k)
          .where(!org.apache.spark.sql.functions.col("is_outlier"))
          .drop("group_n", "median_x2_cents", "mad_x4_cents", "is_outlier")
      case "top_p_select" =>
        import org.apache.spark.sql.functions.{col, concat, lit}
        val mass = str(t.options, "mass")
        val tie = str(t.options, "tie_break")
        val tpShards = parseShards(t.options)
        // shards > 1 (or auto): per-(stratum, shard) nucleus — the
        // documented approximation for strata too hot to sort on one task
        if (tpShards > 1 || tpShards == minietl.ops.Ops.AutoShards)
          Ops.topPSelectSalted(str(t.options, "strata"), mass,
            str(t.options, "p_basis_points").toDouble.toInt,
            Seq(col(mass).desc, col(tie).asc),
            minietl.functions.PortableHash.md5Hash60(
              concat(lit("tp-shard#"), col(tie).cast("string"))),
            tpShards)
        else
          Ops.topPSelect(str(t.options, "strata"), mass,
            str(t.options, "p_basis_points").toDouble.toInt,
            Seq(col(mass).desc, col(tie).asc))
      case "winsorize" =>
        Ops.winsorize(strSeq(t.options("group_by")), str(t.options, "value"),
          t.options.get("lo").map(_.toString.toDouble).getOrElse(0.01),
          t.options.get("hi").map(_.toString.toDouble).getOrElse(0.99))
      case "impute" =>
        Ops.imputeGroup(str(t.options, "value"), strSeq(t.options("group_by")),
          str(t.options, "strategy"))
      case "lm_surprise" =>
        // joins per-doc bigram-surprise scores back onto the frame (left:
        // docs without bigrams keep null scores) so a filter stage can
        // threshold avg_millibits next. The EAGER variant: a config-driven
        // run has no unpersist hook, so the lazy variant would leak the
        // cached occurrence frame for the session's lifetime.
        val key = str(t.options, "key")
        val c = str(t.options, "column")
        df => df.join(
          minietl.text.LmScore.bigramSurpriseEager(df, key, c)
            .withColumnRenamed("doc_id", key),
          Seq(key), "left")
      case "bpe_stats" =>
        // trains a BPE tokenizer on the frame's own text column (the
        // lm_surprise corpus-trained pattern) and joins per-doc subword
        // stats back on (left: docs with no tokens keep nulls) so a filter
        // stage can threshold compression ratio / vocab spread next.
        // TRAIN-ONCE: training (a full word-count groupBy + driver greedy
        // loop) is the most expensive stage in the pipeline, and a DAG
        // that materializes this node twice would silently run it twice —
        // so the trained model is memoized in this stage closure, keyed by
        // the input's canonicalized plan (one training per distinct input
        // per pipeline BUILD; deterministic either way, this is purely a
        // cost contract)
        val key = str(t.options, "key")
        val c = str(t.options, "column")
        val merges = str(t.options, "num_merges").toDouble.toInt
        val maxVocab = t.options.get("max_vocab").map(_.toString.toDouble.toInt).getOrElse(100000)
        val trained = new java.util.concurrent.ConcurrentHashMap[
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
          minietl.text.Bpe.BpeModel]()
        df => {
          val planKey = df.queryExecution.analyzed.canonicalized
          val model = trained.computeIfAbsent(planKey,
            _ => minietl.text.Bpe.train(df, c, merges, maxVocab))
          df.join(
            minietl.text.Bpe.encodeStats(df, key, c, model)
              .withColumnRenamed("doc_id", key),
            Seq(key), "left")
        }
      case "semantic_decontaminate" =>
        // drops rows whose `column` embedding is cosine-similar (>=
        // threshold) to ANY vector in the benchmark parquet — the
        // embedding-level sibling of contamination_filter (catches
        // paraphrased leakage). Benchmark side is eval-suite-sized and
        // broadcast; the frame shuffles only its LSH signature frame.
        val key = str(t.options, "key")
        val c = str(t.options, "column")
        val benchPath = str(t.options, "benchmark_filepath")
        val benchCol = t.options.get("benchmark_column").map(_.toString).getOrElse(c)
        val threshold = str(t.options, "threshold").toDouble
        val dim = str(t.options, "dim").toDouble.toInt
        val bpb = t.options.get("bits_per_band").map(_.toString.toDouble.toInt).getOrElse(8)
        val bands = t.options.get("bands").map(_.toString.toDouble.toInt).getOrElse(32)
        df => {
          import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
          val bench = minietl.io.Readers.parquet(df.sparkSession, benchPath)
            .select(col(benchCol).as(c))
            .withColumn(key, monotonically_increasing_id())
          // EAGER variant: a config-driven run has no unpersist hook, so
          // the lazy variant would pin the prepared-corpus cache for the
          // session lifetime (the lm_surprise precedent above)
          minietl.sim.Similarity.semanticDecontaminateEager(
            df, bench, threshold, bpb, bands, dim, idCol = key, vecCol = c)
        }
      case "contamination_filter" =>
        // drops docs whose distinct-shingle overlap with the benchmark file
        // exceeds max_permille; docs with no grams carry no signal and pass
        val key = str(t.options, "key")
        val c = str(t.options, "column")
        val benchPath = str(t.options, "benchmark_filepath")
        val benchCol = t.options.get("benchmark_column").map(_.toString).getOrElse(c)
        val n = t.options.get("n").map(_.toString.toDouble.toInt).getOrElse(5)
        val maxPermille = str(t.options, "max_permille").toDouble.toLong
        df => {
          import org.apache.spark.sql.functions.{coalesce, col, lit}
          val bench = minietl.io.Readers.parquet(df.sparkSession, benchPath)
            .select(col(benchCol).as(c)).withColumn(key, lit(0L))
          val frac = minietl.text.Decontaminate
            .contaminationFraction(df, bench, key, c, n)
            .select(col(key), col("permille"))
          df.join(frac, Seq(key), "left")
            .where(coalesce(col("permille"), lit(0L)) <= maxPermille)
            .drop("permille")
        }
    }

  /** The [[Pipeline]] stage label for a transformer type (kept identical to
    * the labels the fluent builder methods emit).
    */
  private def transformLabel(typ: String): String =
    if (typ == "aggregate" || typ == "group") "group_agg" else typ

  /** Sink component → writer function. Shared by [[build]] and [[buildDag]]. */
  private def sinkFn(cc: ComponentConfig): org.apache.spark.sql.DataFrame => Unit = {
    import minietl.io.Writers
    val o = cc.options
    val mode = o.get("mode").map(_.toString).getOrElse("overwrite")
    cc.typ match {
      case "csv" => df => Writers.csv(df, path(o), mode)
      case "json" | "jsonl" => df => Writers.json(df, path(o), mode)
      case "parquet" => df => Writers.parquet(df, path(o), mode,
        partitionBy = o.get("partition_cols").map(strSeq).getOrElse(Nil),
        maxRecordsPerFile = o.get("max_records_per_file")
          .map(_.toString.toDouble.toLong).getOrElse(0L))
      case "orc" => df => Writers.orc(df, path(o), mode,
        partitionBy = o.get("partition_cols").map(strSeq).getOrElse(Nil),
        maxRecordsPerFile = o.get("max_records_per_file")
          .map(_.toString.toDouble.toLong).getOrElse(0L))
      case "excel" => df => minietl.io.Excel.write(df, path(o),
        sheetName = o.get("sheet_name").map(_.toString).getOrElse("Sheet1"),
        mode = if (mode == "append") "append" else "overwrite")
      case "sql" => df => Writers.jdbc(df, str(o, "connection_string"),
        str(o, "table"), o.get("if_exists").map(_.toString).getOrElse("append"))
    }
  }

  /** Config → runnable [[Pipeline]] (mirrors build_pipeline,
    * config.py:231-378). Fails on validation errors.
    */
  def build(c: PipelineConfig): Pipeline = {
    val errs = validate(c)
    require(errs.isEmpty, s"invalid config: ${errs.mkString("; ")}")
    val b = new PipelineBuilder(c.name)
    b.fromSource(sourceFn(c.source))
    c.transformers.foreach(t => b.add(transformFn(t), transformLabel(t.typ)))
    c.schema.foreach(b.withSchema)
    b.toSink(sinkFn(c.sink))
    b.build()
  }

  /** One-call load: YAML text → runnable pipeline. */
  def load(text: String, env: Map[String, String] = sys.env): Pipeline =
    build(parse(text, env))

  // ------------------------------------------------------------- DAG form
  /** One interior node of a `dag:` config: exactly one of `transform`,
    * `merge`, `branch` is set; `inputs` are upstream node refs (a branch
    * output is addressed as `id.true` / `id.false`).
    */
  final case class DagNodeConfig(
      id: String,
      inputs: Seq[String],
      transform: Option[ComponentConfig],
      merge: Option[Map[String, Any]],
      branch: Option[String])

  final case class DagConfig(
      name: String,
      sources: Seq[(String, ComponentConfig)],
      nodes: Seq[DagNodeConfig],
      sinks: Seq[(String, String, ComponentConfig)]) // (id, input ref, sink)

  /** Parse the `dag:` YAML form:
    * {{{
    * name: my_dag
    * dag:
    *   sources:
    *     orders:   {type: parquet, path: /data/orders.parquet}
    *     customer: {type: parquet, path: /data/customer.parquet}
    *   nodes:
    *     - id: big
    *       input: orders
    *       transform: {type: filter, condition: "o_totalprice > 1000"}
    *     - id: joined
    *       inputs: [big, customer]
    *       merge: {strategy: join, keys: [o_custkey], how: inner}
    *     - id: split
    *       input: joined
    *       branch: {condition: "c_acctbal > 0"}
    *   sinks:
    *     rich: {input: split.true,  type: parquet, path: /out/rich}
    *     poor: {input: split.false, type: parquet, path: /out/poor}
    * }}}
    * Node order in the YAML is declaration order only — execution order is
    * the DAG's topological sort.
    */
  def parseDag(text: String, env: Map[String, String] = sys.env): DagConfig = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val raw = asScala(yaml.load[Any](substituteEnv(text, env))) match {
      case m: Map[String, Any] @unchecked => m
      case other => throw new IllegalArgumentException(s"config root must be a mapping, got $other")
    }
    val name = raw.getOrElse("name", "dag").toString
    val dag = raw.get("dag") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("dag config needs a 'dag' mapping")
    }
    def section(key: String): Seq[(String, Map[String, Any])] = dag.get(key) match {
      case Some(m: Map[String, Any] @unchecked) => m.toSeq.sortBy(_._1).map {
        case (id, mm: Map[String, Any] @unchecked) => id -> mm
        case (id, other) => throw new IllegalArgumentException(s"$key '$id' must be a mapping: $other")
      }
      case None => Nil
      case other => throw new IllegalArgumentException(s"'$key' must be a mapping: $other")
    }
    val sources = section("sources").map { case (id, m) => id -> component(m, s"source $id") }
    require(sources.nonEmpty, "dag config needs at least one source")
    val nodes = dag.get("nodes") match {
      case Some(l: List[Any] @unchecked) => l.map {
        case m: Map[String, Any] @unchecked =>
          val id = m.getOrElse("id",
            throw new IllegalArgumentException("dag node is missing 'id'")).toString
          val inputs = (m.get("inputs"), m.get("input")) match {
            case (Some(l2: List[Any] @unchecked), _) => l2.map(_.toString)
            case (_, Some(s)) => Seq(s.toString)
            case _ => Nil
          }
          val transform = m.get("transform").map {
            case tm: Map[String, Any] @unchecked => component(tm, s"node $id transform")
            case other => throw new IllegalArgumentException(s"node $id 'transform' must be a mapping: $other")
          }
          val merge = m.get("merge").map {
            case mm: Map[String, Any] @unchecked => mm
            case other => throw new IllegalArgumentException(s"node $id 'merge' must be a mapping: $other")
          }
          val branch = m.get("branch").map {
            case bm: Map[String, Any] @unchecked => bm.getOrElse("condition",
              throw new IllegalArgumentException(s"node $id branch needs 'condition'")).toString
            case other => other.toString // `branch: "cond"` shorthand
          }
          DagNodeConfig(id, inputs, transform, merge, branch)
        case other => throw new IllegalArgumentException(s"dag node must be a mapping: $other")
      }
      case None => Nil
      case other => throw new IllegalArgumentException(s"'nodes' must be a list: $other")
    }
    val sinks = section("sinks").map { case (id, m) =>
      val input = m.getOrElse("input",
        throw new IllegalArgumentException(s"sink $id needs 'input'")).toString
      (id, input, component(m - "input", s"sink $id"))
    }
    require(sinks.nonEmpty, "dag config needs at least one sink")
    DagConfig(name, sources, nodes, sinks)
  }

  /** Error list for the DAG form: component-level checks here (shared with
    * the linear validator), structural checks (ports, arity, cycles) by
    * [[minietl.dag.PipelineDAG.validate]] after assembly in [[buildDag]].
    */
  def validateDag(c: DagConfig): Seq[String] = {
    val ids = c.sources.map(_._1) ++ c.nodes.map(_.id) ++ c.sinks.map(_._1)
    val dupErrs = ids.groupBy(identity).collect {
      case (id, occ) if occ.size > 1 => s"duplicate dag node id: $id"
    }.toSeq
    // '.' is the input-ref port separator ("branchId.true"), so a dotted id
    // would be misparsed into (from, port) by connectRef — reject at parse
    val dotErrs = ids.collect {
      case id if id.contains('.') =>
        s"dag node id may not contain '.': '$id' ('.' separates a branch " +
          "port in input refs)"
    }
    val srcErrs = c.sources.flatMap { case (id, cc) => checkEndpoint(cc, s"source $id") }
    val nodeErrs = c.nodes.flatMap { n =>
      val kinds = Seq(n.transform.isDefined, n.merge.isDefined, n.branch.isDefined).count(identity)
      val shape =
        if (kinds != 1) Seq(s"node ${n.id}: exactly one of transform/merge/branch required")
        else Nil
      val tErrs = n.transform.toSeq.flatMap(t => checkTransformer(t, s"node ${n.id}"))
      val mErrs = n.merge.toSeq.flatMap { m =>
        m.getOrElse("strategy", "concat").toString.toLowerCase match {
          case "concat" | "union" => Nil
          case "join" =>
            if (m.get("keys").map(strSeq).exists(_.nonEmpty)) Nil
            else Seq(s"node ${n.id}: merge join needs 'keys'")
          case other => Seq(s"node ${n.id}: unknown merge strategy '$other'")
        }
      }
      val inErrs =
        if (n.merge.isDefined && n.inputs.size < 2)
          Seq(s"node ${n.id}: merge needs at least 2 inputs")
        else if (n.merge.isEmpty && n.inputs.size != 1)
          Seq(s"node ${n.id}: needs exactly one input")
        else Nil
      shape ++ tErrs ++ mErrs ++ inErrs
    }
    val sinkErrs = c.sinks.flatMap { case (id, _, cc) => checkEndpoint(cc, s"sink $id") }
    dupErrs ++ dotErrs ++ srcErrs ++ nodeErrs ++ sinkErrs
  }

  /** DagConfig → assembled [[minietl.dag.PipelineDAG]]. Component semantics
    * are identical to the linear build (same sourceFn/transformFn/sinkFn);
    * the DAG contributes topology: merges (concat / union / equi-join fold),
    * true/false branch ports, many sources, many sinks. Run with
    * `dag.run(spark)` or embed one node via `dag.frame(spark, "id")`.
    */
  def buildDag(c: DagConfig): minietl.dag.PipelineDAG = {
    val errs = validateDag(c)
    require(errs.isEmpty, s"invalid dag config: ${errs.mkString("; ")}")
    val dag = new minietl.dag.PipelineDAG
    c.sources.foreach { case (id, cc) => dag.addSource(id, sourceFn(cc)) }
    c.nodes.foreach { n =>
      n.transform.foreach(t => dag.addTransform(n.id, transformFn(t)))
      n.merge.foreach { m =>
        val strategy = m.getOrElse("strategy", "concat").toString.toLowerCase match {
          case "concat" => minietl.dag.MergeStrategy.Concat
          case "union" => minietl.dag.MergeStrategy.Union
          case "join" => minietl.dag.MergeStrategy.Join(strSeq(m("keys")),
            m.getOrElse("how", "full_outer").toString)
        }
        dag.addMerge(n.id, strategy)
      }
      n.branch.foreach(cond =>
        dag.addBranch(n.id, org.apache.spark.sql.functions.expr(
          minietl.ops.ExpressionDialect.translate(cond))))
    }
    c.sinks.foreach { case (id, _, cc) => dag.addSink(id, sinkFn(cc)) }
    def connectRef(ref: String, to: String): Unit = ref.split('.') match {
      case Array(from) => dag.connect(from, to); ()
      case Array(from, port) if port == "true" || port == "false" =>
        dag.connect(from, to, port); ()
      case Array(_, port) => throw new IllegalArgumentException(
        s"bad input ref '$ref': port must be 'true' or 'false', got '$port'")
      case _ => throw new IllegalArgumentException(s"bad input ref: $ref")
    }
    c.nodes.foreach(n => n.inputs.foreach(connectRef(_, n.id)))
    c.sinks.foreach { case (id, input, _) => connectRef(input, id) }
    val structural = dag.validate()
    require(structural.isEmpty, s"invalid dag structure: ${structural.mkString("; ")}")
    dag
  }

  /** One-call load of the `dag:` form: YAML text → assembled DAG. */
  def loadDag(text: String, env: Map[String, String] = sys.env): minietl.dag.PipelineDAG =
    buildDag(parseDag(text, env))

  // ---------------------------------------------------------- stream form
  /** The `stream:` YAML form — the config-level analog of the reference
    * Scheduler (SURVEY §2.9) done the Structured-Streaming way: instead of
    * a cron loop re-running a bounded pipeline, an unbounded file-stream
    * source with a trigger. Compiles onto the existing
    * [[minietl.streaming.Streaming]] helpers:
    * {{{
    * name: clicks
    * stream:
    *   source:
    *     type: parquet              # csv | json | jsonl | parquet | orc
    *                                #  | rate | socket (non-file: fixed
    *                                #  schema, no path/schema keys; rate
    *                                #  options e.g. {rowsPerSecond: 100},
    *                                #  socket needs {host, port})
    *     path: /data/incoming
    *     schema:                    # REQUIRED: readStream never infers
    *       - {name: ts, dtype: timestamp}
    *       - {name: event_type, dtype: string}
    *       - {name: value, dtype: float64}
    *   watermark: {column: ts, delay: 10 minutes}
    *   stages:
    *     - {type: filter, condition: "value > 0"}       # any scan-side stage
    *     - type: window_agg                             # tumbling (or + slide:)
    *       window: 5 minutes
    *       keys: [event_type]
    *       aggregations: {value: [sum, count]}
    *   sink:
    *     type: parquet              # csv | json | jsonl | parquet | orc | memory
    *     path: /data/out            # memory: query_name instead
    *     checkpoint: /chk/clicks    # optional (scratch default)
    *     output_mode: append        # append | complete | update
    *     trigger: available_now     # or an interval: "30s", "5m"
    * }}}
    * Streaming stage types: `window_agg` (tumbling; with `slide:` sliding),
    * `session_agg` (gap-merged), `dedup` (watermark-bounded exact dedup) —
    * each requires the `watermark:` block — and `dedup_history` /
    * `neardup_history` (the self-maintaining ingest-dedup loops over a
    * durable parquet digest: `history:` path plus `key:` XOR `columns:`
    * for exact, or `id:`/`column:`/`threshold:` for near-dup with an
    * optional `verify:` digest mode — false = band-collision drops,
    * true/estimate = k-lane-signature estimate re-check, exact = stored
    * shingle hashes re-checked with true Jaccard; must be the last stage,
    * file sinks only; optional `compact_after: true` rewrites the digest
    * as one deduplicated file set after each one-shot drain — see
    * [[minietl.streaming.Streaming.dedupAndRecordHistory]] /
    * [[minietl.streaming.Streaming.compactHistory]]) and
    * `media_hash_history` (`id:`/`content:`/`kind:` image|audio plus
    * `max_dist:` 0 = exact hash, 1..3 = hash-verified banded Hamming —
    * the perceptual-media twin, same structural rules; see
    * [[minietl.streaming.Streaming.mediaHashDedupAndRecordHistory]]).
    * History-stage sinks
    * are written idempotently per micro-batch as `path/batch=<id>`
    * subdirectories (exactly-once under crash/replay), so reading the
    * sink directory surfaces an extra `batch` partition column;
    * `output_mode` does not apply to them and is rejected at validation.
    * Stateless scan-side batch stages
    * ([[streamableStageTypes]]) apply verbatim — the `DataFrame =>
    * DataFrame` contract is source-agnostic by design.
    */
  final case class StreamConfig(
      name: String,
      source: ComponentConfig,
      watermark: Option[(String, String)], // (column, delay)
      stages: Seq[ComponentConfig],
      sink: ComponentConfig)

  /** An assembled streaming pipeline: `frame` is the unstarted transformed
    * stream (compose further, or test its plan); `start` launches the
    * writeStream; `runAvailableNow` drains everything currently staged and
    * blocks until done (the bounded-replay path the reference Scheduler's
    * one-shot runs map to).
    */
  final case class StreamPipeline(
      name: String,
      frame: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame,
      startWith: (org.apache.spark.sql.SparkSession,
        Option[org.apache.spark.sql.streaming.Trigger]) => org.apache.spark.sql.streaming.StreamingQuery,
      afterDrain: Option[org.apache.spark.sql.SparkSession => Unit] = None) {
    /** Launch the writeStream with the CONFIG's trigger. `afterDrain`
      * maintenance (digest compaction) does NOT run on this path — it is
      * only safe once the query has terminated.
      */
    def start(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.streaming.StreamingQuery =
      startWith(spark, None)
    /** Drain everything currently staged and block until done — the
      * bounded-replay path the reference Scheduler's one-shot runs map to.
      * OVERRIDES the config's trigger with AvailableNow: an interval
      * trigger would never terminate, so `minietl run` on an interval
      * config would block in awaitTermination forever. Runs `afterDrain`
      * (e.g. `dedup_history`'s `compact_after`) once the drain has
      * terminated — the single-writer window compaction requires.
      */
    def runAvailableNow(spark: org.apache.spark.sql.SparkSession): Unit = {
      val q = startWith(spark,
        Some(minietl.streaming.Streaming.availableNowTrigger))
      q.awaitTermination()
      afterDrain.foreach(f => f(spark))
    }
  }

  private val streamSourceTypes = Set("csv", "json", "jsonl", "parquet", "orc")
  private val streamSinkTypes = Set("csv", "json", "jsonl", "parquet", "orc", "memory")
  /** The self-maintaining ingest-dedup stages: each compiles to one of
    * the `Streaming` history loops, the stream's terminal sink.
    */
  private val HistoryStageTypes =
    Set("dedup_history", "neardup_history", "media_hash_history")
  private val streamStageTypes =
    Set("window_agg", "session_agg", "dedup") ++ HistoryStageTypes

  /** Batch transformer types that apply verbatim to an unbounded frame:
    * scan-side, stateless, no global sort/window/aggregate. (The stateful
    * ones have streaming-specific spellings above — e.g. `dedupe` →
    * `dedup`, `aggregate` → `window_agg` — because unbounded semantics
    * need a watermark contract, not silent adoption.)
    */
  val streamableStageTypes: Set[String] =
    Set("filter", "rename", "select", "drop", "cast", "fillna", "expression",
      "hash_sample", "pii_redact", "quality_filter", "gopher_filter",
      "normalize_text", "feature_hash", "squeeze_repeats", "dedup_lines")

  /** Parse the `stream:` YAML form (see [[StreamConfig]]). */
  def parseStream(text: String, env: Map[String, String] = sys.env): StreamConfig = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val raw = asScala(yaml.load[Any](substituteEnv(text, env))) match {
      case m: Map[String, Any] @unchecked => m
      case other => throw new IllegalArgumentException(s"config root must be a mapping, got $other")
    }
    val name = raw.getOrElse("name", "stream").toString
    val st = raw.get("stream") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("stream config needs a 'stream' mapping")
    }
    val source = component(st.get("source") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("stream config needs a 'source' mapping")
    }, "stream source")
    val sink = component(st.get("sink") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => throw new IllegalArgumentException("stream config needs a 'sink' mapping")
    }, "stream sink")
    val watermark = st.get("watermark").map {
      case m: Map[String, Any] @unchecked =>
        (m.getOrElse("column",
          throw new IllegalArgumentException("watermark needs 'column'")).toString,
          m.getOrElse("delay",
            throw new IllegalArgumentException("watermark needs 'delay'")).toString)
      case other => throw new IllegalArgumentException(s"'watermark' must be a mapping: $other")
    }
    val stages = st.get("stages") match {
      case Some(l: List[Any] @unchecked) => l.map {
        case m: Map[String, Any] @unchecked => component(m, "stream stage")
        case other => throw new IllegalArgumentException(s"stream stage must be a mapping: $other")
      }
      case None => Nil
      case other => throw new IllegalArgumentException(s"'stages' must be a list: $other")
    }
    StreamConfig(name, source, watermark, stages, sink)
  }

  /** Error list for the stream form (same contract as [[validate]]). */
  def validateStream(c: StreamConfig): Seq[String] = {
    val srcErrs = c.source.typ match {
      // non-file sources — the streaming surface is not file-format-bound:
      // `rate` is Spark's built-in generator (fixed schema: timestamp
      // TIMESTAMP, value LONG; rows_per_second etc. under `options:`) and
      // `socket` reads lines from a TCP endpoint (fixed schema: value
      // STRING; needs options.host/options.port). Both stand in for a
      // message-bus source in environments without a broker — the
      // readStream plumbing is identical, only the format string changes.
      case "rate" =>
        (if (c.source.options.contains("schema"))
           Seq("stream source rate has a fixed schema (timestamp TIMESTAMP, " +
             "value LONG) — remove 'schema'")
         else Nil) ++
          (if (c.source.options.contains("filepath") || c.source.options.contains("path"))
             Seq("stream source rate takes no path") else Nil)
      case "socket" =>
        val so = strMap(c.source.options.getOrElse("options", Map.empty[String, Any]))
        (if (c.source.options.contains("schema"))
           Seq("stream source socket has a fixed schema (value STRING) — " +
             "remove 'schema'")
         else Nil) ++
          Seq("host", "port").filterNot(so.contains)
            .map(k => s"stream source socket needs options.$k")
      case t if !streamSourceTypes.contains(t) =>
        Seq(s"stream source type '$t' is not a stream source " +
          s"(${(streamSourceTypes + "rate" + "socket").toSeq.sorted.mkString("/")})")
      case _ =>
        val pathErr =
          if (c.source.options.contains("filepath") || c.source.options.contains("path")) Nil
          else Seq("stream source needs filepath")
        val schemaErrs = c.source.options.get("schema") match {
          case None => Seq("stream source needs an explicit 'schema' " +
            "(readStream never infers; an ordered column list like the batch reader schema)")
          case Some(v) =>
            try readerSpecs(v).flatMap { cs =>
              try { cs.dataType; None }
              catch { case _: Exception =>
                Some(s"stream source schema: unknown dtype '${cs.dtype}' for column '${cs.name}'") }
            }
            catch { case e: IllegalArgumentException => Seq(s"stream source ${e.getMessage}") }
        }
        pathErr ++ schemaErrs
    }
    val aggSpec: Map[String, Any] => Seq[String] = o =>
      o.get("aggregations") match {
        case Some(_: Map[String, Any] @unchecked) => Nil
        case Some(other) => Seq(s"'aggregations' must be a mapping, got '$other'")
        case None => Seq("missing 'aggregations'")
      }
    val stageErrs = c.stages.zipWithIndex.flatMap { case (s, i) =>
      val at = s"stream stage[$i] ${s.typ}"
      s.typ match {
        case "window_agg" =>
          (if (s.options.contains("window")) Nil else Seq(s"$at: missing 'window'")) ++
            (if (s.options.contains("keys")) Nil else Seq(s"$at: missing 'keys'")) ++
            aggSpec(s.options).map(e => s"$at: $e") ++
            (if (c.watermark.isEmpty) Seq(s"$at: requires a 'watermark' block") else Nil)
        case "session_agg" =>
          (if (s.options.contains("gap")) Nil else Seq(s"$at: missing 'gap'")) ++
            (if (s.options.contains("keys")) Nil else Seq(s"$at: missing 'keys'")) ++
            aggSpec(s.options).map(e => s"$at: $e") ++
            (if (c.watermark.isEmpty) Seq(s"$at: requires a 'watermark' block") else Nil)
        case "dedup" =>
          (if (s.options.contains("keys")) Nil else Seq(s"$at: missing 'keys'")) ++
            (if (c.watermark.isEmpty) Seq(s"$at: requires a 'watermark' block") else Nil)
        case t if HistoryStageTypes(t) =>
          // the self-maintaining ingest-dedup loops (Streaming
          // .dedupAndRecordHistory / .nearDupDedupAndRecordHistory): drop
          // rows that duplicate the parquet digest at 'history' (or
          // earlier in the batch), write survivors to the file sink, then
          // append their fingerprints/bands — so the digest grows by
          // exactly what was admitted. foreachBatch under the hood, hence
          // the shared structural constraints.
          val shared =
            (if (s.options.contains("history")) Nil
             else Seq(s"$at: missing 'history' (parquet digest path)")) ++
              (if (c.stages.count(t => HistoryStageTypes(t.typ)) > 1)
                 Seq(s"$at: at most one history-dedup stage per stream")
               else if (!HistoryStageTypes(c.stages.last.typ))
                 Seq(s"$at: must be the LAST stage (it couples the sink write " +
                   "with recording the admitted digest rows per micro-batch)")
               else Nil) ++
              (if (c.sink.typ == "memory")
                 Seq(s"$at: requires a file sink (each micro-batch's survivors " +
                   "and their digest append are written together)")
               else Nil) ++
              // the loop writes through foreachBatch, which has no output
              // mode — accepting the option and ignoring it would let a
              // config run with different behavior than written
              (if (c.sink.options.contains("output_mode"))
                 Seq(s"$at: output_mode does not apply (the loop writes " +
                   "per-micro-batch through foreachBatch); remove it")
               else Nil)
          val specific = s.typ match {
            case "dedup_history" =>
              (s.options.contains("key"), s.options.contains("columns")) match {
                case (true, true) =>
                  Seq(s"$at: give exactly one of 'key'/'columns', not both")
                case (false, false) =>
                  Seq(s"$at: needs 'key' (an existing fingerprint column) or " +
                    "'columns' (columns to fingerprint with md5)")
                case _ => Nil
              }
            case "media_hash_history" =>
              // perceptual-hash media ingest-dedup
              // (Streaming.mediaHashDedupAndRecordHistory)
              (if (s.options.contains("id")) Nil
               else Seq(s"$at: missing 'id' (the media id column)")) ++
                (if (s.options.contains("content")) Nil
                 else Seq(s"$at: missing 'content' (the binary payload column)")) ++
                s.options.get("kind").toSeq.flatMap { k =>
                  if (Set("image", "audio")(k.toString.toLowerCase)) Nil
                  else Seq(s"$at: kind must be image or audio, got '$k'")
                } ++
                (if (s.options.contains("kind")) Nil
                 else Seq(s"$at: missing 'kind' (image | audio)")) ++
                s.options.get("max_dist").toSeq.flatMap { d =>
                  val v = scala.util.Try(d.toString.toDouble.toInt).getOrElse(-1)
                  if (v >= 0 && v <= 3) Nil
                  else Seq(s"$at: max_dist must be 0 (exact) or 1..3 " +
                    s"(banded Hamming), got '$d'")
                }
            case _ => // neardup_history
              (if (s.options.contains("column")) Nil
               else Seq(s"$at: missing 'column' (the text column to near-dup on)")) ++
                (if (s.options.contains("id")) Nil
                 else Seq(s"$at: missing 'id' (the document id column)")) ++
                s.options.get("threshold").toSeq.flatMap { t =>
                  val v = scala.util.Try(t.toString.toDouble).getOrElse(-1.0)
                  if (v > 0 && v <= 1) Nil
                  else Seq(s"$at: threshold must be in (0, 1], got '$t'")
                } ++
                s.options.get("verify").toSeq.flatMap { v =>
                  if (Set("true", "false", "estimate", "exact")(
                      v.toString.toLowerCase)) Nil
                  else Seq(s"$at: verify must be true/false/estimate/exact " +
                    s"(collision ← false; estimate ← true), got '$v'")
                } ++ {
                  // Dedup.lshBandKeys requires bands | num_hashes — make a
                  // misconfiguration a pre-run error, not a drain-time one
                  // (defaults 128/32 stand in for whichever is unset)
                  def intOpt(key: String, dflt: Int) = scala.util.Try(
                    s.options.get(key).map(_.toString.toDouble.toInt).getOrElse(dflt))
                    .getOrElse(-1)
                  val k = intOpt("num_hashes", 128)
                  val b = intOpt("bands", 32)
                  if (k > 0 && b > 0 && k % b == 0) Nil
                  else Seq(s"$at: num_hashes ($k) must be a positive multiple " +
                    s"of bands ($b)")
                }
          }
          shared ++ specific
        case t if streamableStageTypes.contains(t) => checkTransformer(s, s"stream stage[$i]")
        case t if transformerTypes.contains(t) =>
          Seq(s"$at: '$t' is not streamable (needs whole-input state; use the " +
            "watermarked streaming spelling if one exists, or a batch pipeline)")
        case t => Seq(s"$at: unknown type '$t'")
      }
    }
    val sinkErrs = c.sink.typ match {
      case "memory" =>
        if (c.sink.options.contains("query_name")) Nil
        else Seq("stream memory sink needs query_name")
      case t if !streamSinkTypes.contains(t) =>
        Seq(s"unknown stream sink type '$t'")
      case _ =>
        (if (c.sink.options.contains("filepath") || c.sink.options.contains("path")) Nil
         else Seq(s"stream sink ${c.sink.typ} needs filepath")) ++
          // without a durable checkpoint every run starts from a fresh
          // offset log and REPROCESSES all input — silent duplication into
          // a file sink. Memory sinks are per-session scratch, so only
          // they get a generated default.
          (if (c.sink.options.contains("checkpoint")) Nil
           else Seq(s"stream sink ${c.sink.typ} needs a 'checkpoint' path " +
             "(exactly-once progress tracking; without it every run " +
             "re-ingests all input and duplicates output)"))
    }
    val modeErrs = c.sink.options.get("output_mode").toSeq.flatMap { m =>
      if (Set("append", "complete", "update")(m.toString.toLowerCase)) Nil
      else Seq(s"stream sink output_mode must be append, complete or update, got '$m'")
    }
    val triggerErrs = c.sink.options.get("trigger").toSeq.flatMap { t =>
      val s = t.toString.toLowerCase
      if (s == "available_now") Nil
      else scala.util.Try(minietl.scheduler.IntervalParser.toMillis(s)).toOption match {
        case Some(_) => Nil
        case None => Seq(s"stream sink trigger must be available_now or an " +
          s"interval like 30s/5m/1h, got '$t'")
      }
    }
    srcErrs ++ stageErrs ++ sinkErrs ++ modeErrs ++ triggerErrs
  }

  /** The `verify:` option of a `neardup_history` stage, mapped to
    * [[minietl.streaming.Streaming.nearDupDedupAndRecordHistory]]'s
    * crossBatch mode: false (default) → collision, true/estimate →
    * estimate-verified, exact → exact-Jaccard-verified over stored
    * shingle hashes. Values validated by [[validateStream]].
    */
  private def crossBatchMode(dh: ComponentConfig): String =
    dh.options.get("verify").map(_.toString.toLowerCase) match {
      case None | Some("false") => "collision"
      case Some("true") | Some("estimate") => "estimate"
      case Some("exact") => "exact"
      case Some(other) => throw new IllegalArgumentException(
        s"neardup_history verify: unknown mode '$other'")
    }

  /** The `max_dist` of a `media_hash_history` stage (default 2). */
  private def mediaMaxDist(dh: ComponentConfig): Int =
    dh.options.get("max_dist").map(_.toString.toDouble.toInt).getOrElse(2)

  /** The digest column of a `dedup_history` stage: its `key`, or `__fp`
    * when the fingerprint is derived from `columns`.
    */
  private def historyFpCol(dh: ComponentConfig): String =
    dh.options.get("key").map(_.toString).getOrElse("__fp")

  /** StreamConfig → assembled [[StreamPipeline]]. Fails on validation
    * errors. The source is `readStream` over the declared schema; stages
    * fold left over the unbounded frame; the sink is `writeStream` with the
    * configured mode/trigger/checkpoint.
    */
  def buildStream(c: StreamConfig): StreamPipeline = {
    val errs = validateStream(c)
    require(errs.isEmpty, s"invalid stream config: ${errs.mkString("; ")}")
    import minietl.streaming.Streaming
    val o = c.source.options
    // generator/endpoint sources carry their own fixed schema and no path
    val generatorSource = c.source.typ == "rate" || c.source.typ == "socket"
    val schema = if (generatorSource) null else readerSchema(o("schema"))
    val fmt = c.source.typ match {
      case "jsonl" => "json"
      case t => t
    }
    val (wmCol, wmDelay) = c.watermark.getOrElse(("", ""))
    def aggs(opts: Map[String, Any]): Map[String, Seq[String]] =
      opts("aggregations") match {
        case m: Map[String, Any] @unchecked => m.map { case (k, v) => k -> strSeq(v) }
      }
    // the watermark is applied ONCE at the source: Spark rejects
    // redefining it mid-plan, so chaining two stateful stages (dedup →
    // window_agg) must share one definition — the stateful stage builders
    // therefore use the *Watermarked variants
    // dedup_history / neardup_history are not frame transforms — they
    // compile to the terminal foreachBatch sink below; everything before
    // them folds as usual
    val dedupHist = c.stages.find(t => HistoryStageTypes(t.typ))
    val stageFns: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] =
      c.stages.filterNot(t => HistoryStageTypes(t.typ)).map { s =>
        s.typ match {
          case "window_agg" => s.options.get("slide") match {
            case Some(slide) => df => Streaming.slidingAggWatermarked(df, wmCol,
              str(s.options, "window"), slide.toString,
              strSeq(s.options("keys")), aggs(s.options))
            case None => df => Streaming.tumblingAggWatermarked(df, wmCol,
              str(s.options, "window"), strSeq(s.options("keys")), aggs(s.options))
          }
          case "session_agg" => df => Streaming.sessionAggWatermarked(df, wmCol,
            str(s.options, "gap"), strSeq(s.options("keys")), aggs(s.options))
          case "dedup" => df => Streaming.dedupWatermarked(df, strSeq(s.options("keys")))
          case _ => transformFn(s)
        }
      }
    val frame = (spark: org.apache.spark.sql.SparkSession) => {
      val r0 = spark.readStream.format(fmt)
        .options(strMap(o.getOrElse("options", Map.empty[String, Any])))
      val src0 = if (generatorSource) r0.load() else r0.schema(schema).load(path(o))
      val src = c.watermark match {
        case Some((wc, delay)) => src0.withWatermark(wc, delay)
        case None => src0
      }
      stageFns.foldLeft(src)((df, f) => f(df))
    }
    val start = (spark: org.apache.spark.sql.SparkSession,
                 triggerOverride: Option[org.apache.spark.sql.streaming.Trigger]) => {
      val so = c.sink.options
      val trigger = triggerOverride.getOrElse(
        so.get("trigger").map(_.toString.toLowerCase) match {
          case None | Some("available_now") => Streaming.availableNowTrigger
          case Some(ivl) => Streaming.intervalTrigger(ivl)
        })
      val mode = so.get("output_mode").map(_.toString.toLowerCase).getOrElse("append")
      val checkpoint = so.get("checkpoint").map(_.toString).getOrElse(
        java.nio.file.Files.createTempDirectory(s"minietl_stream_${c.name}_").toString)
      dedupHist match {
        case Some(dh) =>
          import org.apache.spark.sql.functions.{col, md5}
          val historyDir = str(dh.options, "history")
          val base = frame(spark)
          // idempotent by batchId (Streaming.batchOutputPath + overwrite):
          // a replayed batch rewrites its own batch=<id> subdir instead of
          // appending duplicates — the sink half of the loop's exactly-once
          // contract (the digest half lives in dedupAndRecordHistory).
          // Readers of the sink directory see a `batch` partition column.
          def writeBatch(dropCol: Option[String])(
              fresh: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
            val out = dropCol.fold(fresh)(fresh.drop(_))
            val pcols = so.get("partition_cols").map(strSeq).getOrElse(Nil)
            val target = minietl.streaming.Streaming.batchOutputPath(path(so), batchId)
            val w0 = out.write.mode("overwrite")
            val w = if (pcols.nonEmpty) w0.partitionBy(pcols: _*) else w0
            c.sink.typ match {
              case "csv" => w.option("header", "true").csv(target)
              case "json" | "jsonl" => w.json(target)
              case "orc" => w.orc(target)
              case _ => w.parquet(target)
            }
          }
          dh.typ match {
            case "media_hash_history" =>
              minietl.streaming.Streaming.mediaHashDedupAndRecordHistory(
                base, str(dh.options, "id"), str(dh.options, "content"),
                kind = str(dh.options, "kind").toLowerCase,
                maxDist = mediaMaxDist(dh),
                historyDir, checkpoint,
                trigger = trigger) { (fresh, bid) => writeBatch(None)(fresh, bid) }
            case "neardup_history" =>
              minietl.streaming.Streaming.nearDupDedupAndRecordHistory(
                base, str(dh.options, "id"), str(dh.options, "column"),
                historyDir, checkpoint,
                shingleN = dh.options.get("shingle_n").map(_.toString.toDouble.toInt).getOrElse(3),
                k = dh.options.get("num_hashes").map(_.toString.toDouble.toInt).getOrElse(128),
                bands = dh.options.get("bands").map(_.toString.toDouble.toInt).getOrElse(32),
                threshold = dh.options.get("threshold").map(_.toString.toDouble).getOrElse(0.8),
                crossBatch = crossBatchMode(dh),
                trigger = trigger) { (fresh, bid) => writeBatch(None)(fresh, bid) }
            case _ =>
              // 'key' names an existing fingerprint column; 'columns'
              // derives one: md5 over the JSON encoding of the column
              // struct. JSON (with ignoreNullFields=false) is null-faithful
              // and boundary-faithful — a separator join would SKIP nulls,
              // so (null,"a") / ("a",null) would collide and a lone null
              // column would collapse with the empty string, silently
              // over-deduplicating. Dropped again before the sink write.
              val fpCol = historyFpCol(dh)
              val (prepared, derived) = dh.options.get("key") match {
                case Some(_) => (base, false)
                case None =>
                  val cols = strSeq(dh.options("columns"))
                  val json = org.apache.spark.sql.functions.to_json(
                    org.apache.spark.sql.functions.struct(cols.map(col): _*),
                    java.util.Collections.singletonMap("ignoreNullFields", "false"))
                  (base.withColumn(fpCol, md5(json.cast("binary"))), true)
              }
              minietl.streaming.Streaming.dedupAndRecordHistory(
                prepared, fpCol, historyDir, checkpoint, trigger) {
                (fresh, bid) => writeBatch(if (derived) Some(fpCol) else None)(fresh, bid)
              }
          }
        case None =>
          val w0 = frame(spark).writeStream
            .outputMode(mode)
            .trigger(trigger)
            .option("checkpointLocation", checkpoint)
          // partition_cols: same layout control as the batch parquet/orc sink
          val w = so.get("partition_cols").map(strSeq) match {
            case Some(cols) if cols.nonEmpty => w0.partitionBy(cols: _*)
            case _ => w0
          }
          c.sink.typ match {
            case "memory" =>
              w.format("memory").queryName(str(so, "query_name")).start()
            case "jsonl" => w.format("json").start(path(so))
            case t => w.format(t).start(path(so))
          }
      }
    }
    // compact_after on dedup_history/neardup_history: collapse the
    // digest's per-batch appends once a one-shot drain terminates (the
    // single-writer window)
    val afterDrain = dedupHist
      .filter(_.options.get("compact_after").exists(_.toString.toBoolean))
      .map { dh =>
        val historyDir = str(dh.options, "history")
        // every digest table the loop writes (the verified near-dup modes
        // write two), as the loop itself defines them
        val digests = dh.typ match {
          case "neardup_history" => Streaming.nearDupDigests(historyDir, crossBatchMode(dh))
          case "media_hash_history" => Streaming.mediaDigests(historyDir, mediaMaxDist(dh))
          case _ => Streaming.exactDigests(historyDir, historyFpCol(dh))
        }
        (spark: org.apache.spark.sql.SparkSession) => {
          digests.foreach(t => Streaming.compactHistoryCols(spark, t.dir, t.columns))
          ()
        }
      }
    StreamPipeline(c.name, frame, start, afterDrain)
  }

  /** One-call load of the `stream:` form. */
  def loadStream(text: String, env: Map[String, String] = sys.env): StreamPipeline =
    buildStream(parseStream(text, env))

  /** True when the YAML's root has a `stream:` mapping (the unbounded form). */
  def isStreamConfig(text: String, env: Map[String, String] = sys.env): Boolean =
    asScala(new org.yaml.snakeyaml.Yaml().load[Any](substituteEnv(text, env))) match {
      case m: Map[String, Any] @unchecked => m.contains("stream")
      case _ => false
    }

  /** True when the YAML's root has a `dag:` mapping (the multi-source form). */
  def isDagConfig(text: String, env: Map[String, String] = sys.env): Boolean =
    asScala(new org.yaml.snakeyaml.Yaml().load[Any](substituteEnv(text, env))) match {
      case m: Map[String, Any] @unchecked => m.contains("dag")
      case _ => false
    }

  /** Sample config (reference: config.py:381-416 generate_sample_config). */
  val sample: String =
    """name: sample_pipeline
      |source:
      |  type: csv
      |  filepath: input.csv
      |transformers:
      |  - type: filter
      |    condition: "value > 100"
      |  - type: rename
      |    columns: {old_name: new_name}
      |  - type: cast
      |    columns: {value: float64}
      |sink:
      |  type: parquet
      |  filepath: output.parquet
      |  mode: overwrite
      |""".stripMargin
}
