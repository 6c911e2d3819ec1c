package minietl.config

import org.scalatest.funsuite.AnyFunSuite

/** Pins validate's error lists, text and order, and the warnings list,
  * for at least one bad config per stage option check, per required key
  * of each stage type, and per stream stage rule. The expected lists were
  * captured from the per-type validation tables the stage registry
  * replaced, so a config that was reported before is reported the same.
  */
object ConfigErrorListSpec {
  sealed trait Form
  case object Batch extends Form // a transformers: list
  case object Warn extends Form // the same, through warnings
  case object Stream extends Form // a whole stream config
  case object Dag extends Form // a whole dag config
  final case class Case(form: Form, body: String, expected: Seq[String])
}

class ConfigErrorListSpec extends AnyFunSuite {
  import ConfigErrorListSpec._

  private def listOf(c: Case): Seq[String] = c.form match {
    case Batch | Warn =>
      val cfg = Config.parse(
        s"name: t\nsource: {type: parquet, filepath: in}\ntransformers:\n${c.body}\n" +
          "sink: {type: parquet, filepath: out}\n")
      if (c.form == Batch) Config.validate(cfg) else Config.warnings(cfg)
    case Stream => Config.validateStream(Config.parseStream(c.body))
    case Dag => Config.validateDag(Config.parseDag(c.body))
  }

  private val cases = Seq(
    Case(Batch,
      """|  - {type: filter}
        |  - {type: rename}
        |  - {type: select}
        |  - {type: drop}
        |  - {type: cast}
        |  - {type: fillna}
        |  - {type: expression}
        |  - {type: aggregate}
        |  - {type: group}
        |  - {type: dedupe}
        |  - {type: sort}
        |  - {type: hash_sample}
        |  - {type: stratified_sample}
        |  - {type: pii_redact}
        |  - {type: quality_filter}
        |  - {type: exact_dedup}
        |  - {type: gopher_filter}
        |  - {type: temperature_sample}
        |  - {type: token_budget}
        |  - {type: paragraph_dedup}
        |  - {type: normalize_text}
        |  - {type: feature_hash}
        |  - {type: sigma_outlier_filter}
        |  - {type: winsorize}
        |  - {type: impute}
        |  - {type: mad_outlier_filter}
        |  - {type: top_p_select}
        |  - {type: lm_surprise}
        |  - {type: contamination_filter}
        |  - {type: semantic_decontaminate}
        |  - {type: bpe_stats}
        |  - {type: squeeze_repeats}
        |  - {type: dedup_lines}
        |  - {type: minhash_dedup}
        |  - {type: span_dedup}
        |  - {type: naive_bayes_filter}
        |  - {type: dsir_select}
        |  - {type: semdedup}
        |  - {type: image_dhash_dedup}
        |  - {type: random_projection}
        |  - {type: image_neardup_dedup}
        |  - {type: audio_hash_dedup}
        |  - {type: quantile_sketch}
        |  - {type: frobnicate}
        |  - {type: window_agg}
        |  - {type: dedup_history}""".stripMargin,
      Seq(
        "transformer[0] filter: missing 'condition'",
        "transformer[1] rename: missing 'columns'",
        "transformer[2] select: missing 'columns'",
        "transformer[3] drop: missing 'columns'",
        "transformer[4] cast: missing 'columns'",
        "transformer[6] expression: missing 'expression'",
        "transformer[7] aggregate: missing 'aggregations'",
        "transformer[8] group: missing 'aggregations'",
        "transformer[10] sort: missing 'by'",
        "transformer[11] hash_sample: missing 'key'",
        "transformer[11] hash_sample: missing 'fraction'",
        "transformer[12] stratified_sample: missing 'key'",
        "transformer[12] stratified_sample: missing 'strata'",
        "transformer[12] stratified_sample: missing 'fractions'",
        "transformer[13] pii_redact: missing 'column'",
        "transformer[14] quality_filter: missing 'column'",
        "transformer[14] quality_filter: missing 'min_score'",
        "transformer[15] exact_dedup: missing 'content'",
        "transformer[15] exact_dedup: missing 'key'",
        "transformer[16] gopher_filter: missing 'column'",
        "transformer[17] temperature_sample: missing 'key'",
        "transformer[17] temperature_sample: missing 'strata'",
        "transformer[17] temperature_sample: missing 'target_fraction'",
        "transformer[18] token_budget: missing 'strata'",
        "transformer[18] token_budget: missing 'tokens'",
        "transformer[18] token_budget: missing 'budget'",
        "transformer[18] token_budget: missing 'key'",
        "transformer[19] paragraph_dedup: missing 'text'",
        "transformer[19] paragraph_dedup: missing 'key'",
        "transformer[20] normalize_text: missing 'column'",
        "transformer[21] feature_hash: missing 'column'",
        "transformer[21] feature_hash: missing 'out_column'",
        "transformer[21] feature_hash: missing 'dim'",
        "transformer[22] sigma_outlier_filter: missing 'group_by'",
        "transformer[22] sigma_outlier_filter: missing 'value'",
        "transformer[23] winsorize: missing 'group_by'",
        "transformer[23] winsorize: missing 'value'",
        "transformer[24] impute: missing 'group_by'",
        "transformer[24] impute: missing 'value'",
        "transformer[24] impute: missing 'strategy'",
        "transformer[25] mad_outlier_filter: missing 'group_by'",
        "transformer[25] mad_outlier_filter: missing 'value'",
        "transformer[26] top_p_select: missing 'strata'",
        "transformer[26] top_p_select: missing 'mass'",
        "transformer[26] top_p_select: missing 'p_basis_points'",
        "transformer[26] top_p_select: missing 'tie_break'",
        "transformer[27] lm_surprise: missing 'key'",
        "transformer[27] lm_surprise: missing 'column'",
        "transformer[28] contamination_filter: missing 'key'",
        "transformer[28] contamination_filter: missing 'column'",
        "transformer[28] contamination_filter: missing 'benchmark_filepath'",
        "transformer[28] contamination_filter: missing 'max_permille'",
        "transformer[29] semantic_decontaminate: missing 'key'",
        "transformer[29] semantic_decontaminate: missing 'column'",
        "transformer[29] semantic_decontaminate: missing 'benchmark_filepath'",
        "transformer[29] semantic_decontaminate: missing 'threshold'",
        "transformer[29] semantic_decontaminate: missing 'dim'",
        "transformer[30] bpe_stats: missing 'key'",
        "transformer[30] bpe_stats: missing 'column'",
        "transformer[30] bpe_stats: missing 'num_merges'",
        "transformer[31] squeeze_repeats: missing 'column'",
        "transformer[32] dedup_lines: missing 'column'",
        "transformer[33] minhash_dedup: missing 'text'",
        "transformer[33] minhash_dedup: missing 'key'",
        "transformer[34] span_dedup: missing 'text'",
        "transformer[34] span_dedup: missing 'key'",
        "transformer[35] naive_bayes_filter: missing 'label'",
        "transformer[35] naive_bayes_filter: missing 'text'",
        "transformer[35] naive_bayes_filter: missing 'key'",
        "transformer[36] dsir_select: missing 'target_condition'",
        "transformer[36] dsir_select: missing 'text'",
        "transformer[36] dsir_select: missing 'key'",
        "transformer[36] dsir_select: missing 'k'",
        "transformer[37] semdedup: missing 'vec'",
        "transformer[37] semdedup: missing 'key'",
        "transformer[38] image_dhash_dedup: missing 'content'",
        "transformer[38] image_dhash_dedup: missing 'key'",
        "transformer[39] random_projection: missing 'vec'",
        "transformer[39] random_projection: missing 'out_column'",
        "transformer[39] random_projection: missing 'dim_in'",
        "transformer[39] random_projection: missing 'dim_out'",
        "transformer[40] image_neardup_dedup: missing 'content'",
        "transformer[40] image_neardup_dedup: missing 'key'",
        "transformer[41] audio_hash_dedup: missing 'content'",
        "transformer[41] audio_hash_dedup: missing 'key'",
        "transformer[42] quantile_sketch: missing 'value'",
        "transformer[42] quantile_sketch: missing 'quantiles'",
        "transformer[43]: unknown type 'frobnicate'",
        "transformer[44]: unknown type 'window_agg'",
        "transformer[45]: unknown type 'dedup_history'")),
    Case(Batch,
      """|  - {type: hash_sample, key: id, fraction: 2}
        |  - {type: hash_sample, key: id, fraction: abc}
        |  - {type: hash_sample, key: id, fraction: .nan}
        |  - {type: hash_sample, key: id, fraction: }
        |  - {type: hash_sample, fraction: 5}
        |  - {type: quality_filter, column: t, min_score: -1}
        |  - {type: quality_filter, column: t, min_score: lots}
        |  - {type: stratified_sample, key: id, strata: s, fractions: {b: 2, a: x, c: .nan}, default_fraction: 3}
        |  - {type: stratified_sample, key: id, strata: s, fractions: 5, default_fraction: x}
        |  - {type: stratified_sample, key: id, strata: s, fractions: [a, b]}
        |  - {type: temperature_sample, key: id, strata: s, target_fraction: 2, alpha: 0}
        |  - {type: token_budget, strata: s, tokens: n, key: id, budget: -1, shards: 0}
        |  - {type: token_budget, strata: s, tokens: n, key: id, budget: x, shards: many}
        |  - {type: gopher_filter, column: t, min_words: -1, max_words: x}
        |  - {type: paragraph_dedup, text: t, key: id, min_chars: -1}
        |  - {type: feature_hash, column: t, out_column: f, dim: 0}
        |  - {type: sigma_outlier_filter, group_by: [g], value: v, k: 10}
        |  - {type: mad_outlier_filter, group_by: [g], value: v, k: 0}
        |  - {type: top_p_select, strata: s, mass: m, tie_break: id, p_basis_points: 10001, shards: 0}
        |  - {type: winsorize, group_by: [g], value: v, lo: 2, hi: x}
        |  - {type: contamination_filter, key: id, column: t, benchmark_filepath: b, max_permille: 1001, n: 1}
        |  - {type: semantic_decontaminate, key: id, column: t, benchmark_filepath: b, threshold: 2, dim: 0, bits_per_band: 31, bands: 0}
        |  - {type: bpe_stats, key: id, column: t, num_merges: 0, max_vocab: 0}
        |  - {type: minhash_dedup, text: t, key: id, shingle_n: 0, k: x, bands: 24, threshold: 2}
        |  - {type: minhash_dedup, text: t, key: id, bands: 24}
        |  - {type: minhash_dedup, text: t, key: id, k: 100}
        |  - {type: minhash_dedup, text: t, key: id, k: 5000, bands: 0}
        |  - {type: span_dedup, text: t, key: id, k: 0, min_span_tokens: 0, max_postings: 0, max_iter: 1001}
        |  - {type: span_dedup, text: t, key: id, min_span_tokens: 3}
        |  - {type: span_dedup, text: t, key: id, k: 9}
        |  - {type: span_dedup, text: t, key: id, k: x, min_span_tokens: 2}
        |  - {type: naive_bayes_filter, label: l, text: t, key: id, dim: 0}
        |  - {type: dsir_select, dim: 0, k: 0}
        |  - {type: dsir_select, target_condition: c, text: t, key: id, k: 3e9, dim: x}
        |  - {type: semdedup, vec: v, key: id, nlist: 0, iters: 0, tau: 2, max_cluster_size: 1, recluster_rounds: 17}
        |  - {type: semdedup, vec: v, key: id, nlist: many, recluster_rounds: -1}
        |  - {type: random_projection, vec: v, out_column: o, dim_in: 0, dim_out: 0, seed: 1e10}
        |  - {type: image_neardup_dedup, content: c, key: id, max_dist: 0, max_bucket_size: 1}
        |  - {type: audio_hash_dedup, content: c, key: id, max_dist: 4, max_bucket_size: 1}
        |  - {type: quantile_sketch, value: v, scale: 0, quantiles: []}
        |  - {type: quantile_sketch, value: v, quantiles: [x, "2/1", "0/0", "1/x", 0.5, "19/20"]}
        |  - {type: quantile_sketch, value: v, quantiles: }
        |  - {type: quantile_sketch, quantiles: 7}""".stripMargin,
      Seq(
        "transformer[0] hash_sample: 'fraction' out of [0.0, 1.0]: 2.0",
        "transformer[1] hash_sample: 'fraction' must be numeric, got 'abc'",
        "transformer[2] hash_sample: 'fraction' out of [0.0, 1.0]: NaN",
        "transformer[3] hash_sample: 'fraction' must be numeric, got 'null'",
        "transformer[4] hash_sample: missing 'key'",
        "transformer[4] hash_sample: 'fraction' out of [0.0, 1.0]: 5.0",
        "transformer[5] quality_filter: 'min_score' out of [0.0, 100000.0]: -1.0",
        "transformer[6] quality_filter: 'min_score' must be numeric, got 'lots'",
        "transformer[7] stratified_sample: fraction for 'a' must be numeric, got 'x'",
        "transformer[7] stratified_sample: fraction for 'b' out of [0, 1]: 2.0",
        "transformer[7] stratified_sample: fraction for 'c' out of [0, 1]: NaN",
        "transformer[7] stratified_sample: 'default_fraction' out of [0.0, 1.0]: 3.0",
        "transformer[8] stratified_sample: 'fractions' must be a mapping, got '5'",
        "transformer[8] stratified_sample: 'default_fraction' must be numeric, got 'x'",
        "transformer[9] stratified_sample: 'fractions' must be a mapping, got 'List(a, b)'",
        "transformer[10] temperature_sample: 'target_fraction' out of [0.0, 1.0]: 2.0",
        "transformer[10] temperature_sample: 'alpha' out of [4.9E-324, 1.0]: 0.0",
        "transformer[11] token_budget: 'budget' out of [0.0, 1.7976931348623157E308]: -1.0",
        "transformer[11] token_budget: 'shards' out of [1.0, 65536.0]: 0.0",
        "transformer[12] token_budget: 'budget' must be numeric, got 'x'",
        "transformer[12] token_budget: 'shards' must be numeric, got 'many'",
        "transformer[13] gopher_filter: 'min_words' out of [0.0, 1.7976931348623157E308]: -1.0",
        "transformer[13] gopher_filter: 'max_words' must be numeric, got 'x'",
        "transformer[14] paragraph_dedup: 'min_chars' out of [0.0, 2.147483647E9]: -1.0",
        "transformer[15] feature_hash: 'dim' out of [1.0, 1048576.0]: 0.0",
        "transformer[16] sigma_outlier_filter: 'k' out of [1.0, 9.0]: 10.0",
        "transformer[17] mad_outlier_filter: 'k' out of [1.0, 9.0]: 0.0",
        "transformer[18] top_p_select: 'p_basis_points' out of [0.0, 10000.0]: 10001.0",
        "transformer[18] top_p_select: 'shards' out of [1.0, 65536.0]: 0.0",
        "transformer[19] winsorize: 'lo' out of [0.0, 1.0]: 2.0",
        "transformer[19] winsorize: 'hi' must be numeric, got 'x'",
        "transformer[20] contamination_filter: 'max_permille' out of [0.0, 1000.0]: 1001.0",
        "transformer[20] contamination_filter: 'n' out of [2.0, 20.0]: 1.0",
        "transformer[21] semantic_decontaminate: 'threshold' out of [-1.0, 1.0]: 2.0",
        "transformer[21] semantic_decontaminate: 'dim' out of [1.0, 65536.0]: 0.0",
        "transformer[21] semantic_decontaminate: 'bits_per_band' out of [1.0, 30.0]: 31.0",
        "transformer[21] semantic_decontaminate: 'bands' out of [1.0, 1024.0]: 0.0",
        "transformer[22] bpe_stats: 'num_merges' out of [1.0, 100000.0]: 0.0",
        "transformer[22] bpe_stats: 'max_vocab' out of [1.0, 1.0E7]: 0.0",
        "transformer[23] minhash_dedup: 'shingle_n' out of [1.0, 64.0]: 0.0",
        "transformer[23] minhash_dedup: 'k' must be numeric, got 'x'",
        "transformer[23] minhash_dedup: 'threshold' out of [0.0, 1.0]: 2.0",
        "transformer[24] minhash_dedup: 'bands' (24) must divide 'k' (128)",
        "transformer[25] minhash_dedup: 'bands' (32) must divide 'k' (100)",
        "transformer[26] minhash_dedup: 'k' out of [1.0, 4096.0]: 5000.0",
        "transformer[26] minhash_dedup: 'bands' out of [1.0, 4096.0]: 0.0",
        "transformer[27] span_dedup: 'k' out of [1.0, 64.0]: 0.0",
        "transformer[27] span_dedup: 'min_span_tokens' out of [1.0, 1.0E9]: 0.0",
        "transformer[27] span_dedup: 'max_postings' out of [1.0, 1.0E9]: 0.0",
        "transformer[27] span_dedup: 'max_iter' out of [1.0, 1000.0]: 1001.0",
        "transformer[28] span_dedup: 'min_span_tokens' (3) must be >= 'k' (4)",
        "transformer[29] span_dedup: 'min_span_tokens' (8) must be >= 'k' (9)",
        "transformer[30] span_dedup: 'k' must be numeric, got 'x'",
        "transformer[31] naive_bayes_filter: 'dim' out of [1.0, 1048576.0]: 0.0",
        "transformer[32] dsir_select: missing 'target_condition'",
        "transformer[32] dsir_select: missing 'text'",
        "transformer[32] dsir_select: missing 'key'",
        "transformer[32] dsir_select: 'dim' out of [1.0, 1048576.0]: 0.0",
        "transformer[32] dsir_select: 'k' out of [1.0, 2.147483647E9]: 0.0",
        "transformer[33] dsir_select: 'dim' must be numeric, got 'x'",
        "transformer[33] dsir_select: 'k' out of [1.0, 2.147483647E9]: 3.0E9",
        "transformer[34] semdedup: 'nlist' out of [1.0, 65536.0]: 0.0",
        "transformer[34] semdedup: 'iters' out of [1.0, 100.0]: 0.0",
        "transformer[34] semdedup: 'tau' out of [-1.0, 1.0]: 2.0",
        "transformer[34] semdedup: 'max_cluster_size' out of [2.0, 1.0E9]: 1.0",
        "transformer[34] semdedup: 'recluster_rounds' out of [0.0, 16.0]: 17.0",
        "transformer[35] semdedup: 'nlist' must be numeric, got 'many'",
        "transformer[35] semdedup: 'recluster_rounds' out of [0.0, 16.0]: -1.0",
        "transformer[36] random_projection: 'dim_in' out of [1.0, 1048576.0]: 0.0",
        "transformer[36] random_projection: 'dim_out' out of [1.0, 65536.0]: 0.0",
        "transformer[36] random_projection: 'seed' out of [-2.147483648E9, 2.147483647E9]: 1.0E10",
        "transformer[37] image_neardup_dedup: 'max_dist' out of [1.0, 3.0]: 0.0",
        "transformer[37] image_neardup_dedup: 'max_bucket_size' out of [2.0, 1.0E9]: 1.0",
        "transformer[38] audio_hash_dedup: 'max_dist' out of [0.0, 3.0]: 4.0",
        "transformer[38] audio_hash_dedup: 'max_bucket_size' out of [2.0, 1.0E9]: 1.0",
        "transformer[39] quantile_sketch: 'scale' out of [1.0, 1.0E12]: 0.0",
        "transformer[39] quantile_sketch: 'quantiles' must be a non-empty list",
        "transformer[40] quantile_sketch: unparseable quantile 'x' (use a decimal like 0.95 or a rational like 19/20)",
        "transformer[40] quantile_sketch: quantile 2/1 out of [0, 1]",
        "transformer[40] quantile_sketch: quantile 0/0 out of [0, 1]",
        "transformer[40] quantile_sketch: unparseable quantile '1/x' (use a decimal like 0.95 or a rational like 19/20)",
        "transformer[41] quantile_sketch: unparseable quantile 'null' (use a decimal like 0.95 or a rational like 19/20)",
        "transformer[42] quantile_sketch: missing 'value'",
        "transformer[42] quantile_sketch: quantile 7/1 out of [0, 1]")),
    Case(Batch,
      """|  - {type: hash_sample, key: id, fraction: 0.5}
        |  - {type: token_budget, strata: s, tokens: n, key: id, budget: 10, shards: auto}
        |  - {type: top_p_select, strata: s, mass: m, tie_break: id, p_basis_points: 5000, shards: auto}
        |  - {type: semdedup, vec: v, key: id, nlist: auto}
        |  - {type: quality_filter, column: t, min_score: 50000.0}
        |  - {type: quantile_sketch, value: v, quantiles: 0.5}
        |  - {type: fillna}
        |  - {type: dedupe}""".stripMargin,
      Nil),
    Case(Warn,
      """|  - {type: dsir_select, target_condition: c, text: t, key: id, k: 5, dim: 256}
        |  - {type: dsir_select, target_condition: c, text: t, key: id, k: 5, dim: abc}
        |  - {type: dsir_select, target_condition: c, text: t, key: id, k: 5, dim: 512}
        |  - {type: winsorize, group_by: [g], value: v}
        |  - {type: mad_outlier_filter, group_by: [g], value: v}
        |  - {type: impute, group_by: [g], value: v, strategy: median}
        |  - {type: impute, group_by: [g], value: v, strategy: mode}
        |  - {type: aggregate, group_by: [g], aggregations: {v: [sum, median]}}
        |  - {type: group, aggregations: {v: median}}
        |  - {type: aggregate, aggregations: {v: [sum, approx_nunique]}}
        |  - {type: aggregate, aggregations: nope}
        |  - {type: sigma_outlier_filter, group_by: [g], value: v}""".stripMargin,
      Seq(
        "transformer[0] dsir_select dim=256: DSIR selection is strongly dim-sensitive (measured top-k overlap vs dim=1024: ~20-36% at dims 64/256); use dim >= 512 (default 1024) unless the ranking churn is acceptable",
        "transformer[3] winsorize: percentile clipping computes an EXACT per-group percentile (SQL `percentile` buffers O(distinct values) per group on a single reducer) — fine at moderate scale, but at 100 TB prefer the mergeable sketch twin (the quantile_sketch stage / approx_percentile, battery q_quantile_sketch)",
        "transformer[4] mad_outlier_filter: the median/MAD frame computes an EXACT per-group percentile (SQL `percentile` buffers O(distinct values) per group on a single reducer) — fine at moderate scale, but at 100 TB prefer the mergeable sketch twin (the quantile_sketch stage / approx_percentile, battery q_quantile_sketch)",
        "transformer[5] impute: strategy 'median' computes an EXACT per-group percentile (SQL `percentile` buffers O(distinct values) per group on a single reducer) — fine at moderate scale, but at 100 TB prefer the mergeable sketch twin (the quantile_sketch stage / approx_percentile, battery q_quantile_sketch)",
        "transformer[7] aggregate: aggregation fn 'median' computes an EXACT per-group percentile (SQL `percentile` buffers O(distinct values) per group on a single reducer) — fine at moderate scale, but at 100 TB prefer the mergeable sketch twin (the quantile_sketch stage / approx_percentile, battery q_quantile_sketch)",
        "transformer[8] group: aggregation fn 'median' computes an EXACT per-group percentile (SQL `percentile` buffers O(distinct values) per group on a single reducer) — fine at moderate scale, but at 100 TB prefer the mergeable sketch twin (the quantile_sketch stage / approx_percentile, battery q_quantile_sketch)")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: window_agg}
        |    - {type: session_agg}
        |    - {type: dedup}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] window_agg: missing 'window'",
        "stream stage[0] window_agg: missing 'keys'",
        "stream stage[0] window_agg: missing 'aggregations'",
        "stream stage[0] window_agg: requires a 'watermark' block",
        "stream stage[1] session_agg: missing 'gap'",
        "stream stage[1] session_agg: missing 'keys'",
        "stream stage[1] session_agg: missing 'aggregations'",
        "stream stage[1] session_agg: requires a 'watermark' block",
        "stream stage[2] dedup: missing 'keys'",
        "stream stage[2] dedup: requires a 'watermark' block")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  watermark: {column: ts, delay: 1 minute}
        |  stages:
        |    - {type: window_agg}
        |    - {type: session_agg}
        |    - {type: dedup}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] window_agg: missing 'window'",
        "stream stage[0] window_agg: missing 'keys'",
        "stream stage[0] window_agg: missing 'aggregations'",
        "stream stage[1] session_agg: missing 'gap'",
        "stream stage[1] session_agg: missing 'keys'",
        "stream stage[1] session_agg: missing 'aggregations'",
        "stream stage[2] dedup: missing 'keys'")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  watermark: {column: ts, delay: 1 minute}
        |  stages:
        |    - {type: window_agg, window: 5 minutes, keys: [id], aggregations: nope}
        |    - {type: session_agg, gap: 5 minutes, keys: [id], aggregations: [a, b]}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] window_agg: 'aggregations' must be a mapping, got 'nope'",
        "stream stage[1] session_agg: 'aggregations' must be a mapping, got 'List(a, b)'")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  watermark: {column: ts, delay: 1 minute}
        |  stages:
        |    - {type: filter}
        |    - {type: hash_sample, key: id, fraction: 2}
        |    - {type: feature_hash, column: t}
        |    - {type: aggregate, aggregations: {v: sum}}
        |    - {type: sort, by: [id]}
        |    - {type: minhash_dedup}
        |    - {type: frobnicate}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] filter: missing 'condition'",
        "stream stage[1] hash_sample: 'fraction' out of [0.0, 1.0]: 2.0",
        "stream stage[2] feature_hash: missing 'out_column'",
        "stream stage[2] feature_hash: missing 'dim'",
        "stream stage[3] aggregate: 'aggregate' is not streamable (needs whole-input state; use the watermarked streaming spelling if one exists, or a batch pipeline)",
        "stream stage[4] sort: 'sort' is not streamable (needs whole-input state; use the watermarked streaming spelling if one exists, or a batch pipeline)",
        "stream stage[5] minhash_dedup: 'minhash_dedup' is not streamable (needs whole-input state; use the watermarked streaming spelling if one exists, or a batch pipeline)",
        "stream stage[6] frobnicate: unknown type 'frobnicate'")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  watermark: {column: ts, delay: 1 minute}
        |  stages:
        |    - {type: dedup_history}
        |    - {type: filter, condition: x}
        |  sink: {type: memory, query_name: q, output_mode: append}""".stripMargin,
      Seq(
        "stream stage[0] dedup_history: missing 'history' (parquet digest path)",
        "stream stage[0] dedup_history: must be the LAST stage (it couples the sink write with recording the admitted digest rows per micro-batch)",
        "stream stage[0] dedup_history: requires a file sink (each micro-batch's survivors and their digest append are written together)",
        "stream stage[0] dedup_history: output_mode does not apply (the loop writes per-micro-batch through foreachBatch); remove it",
        "stream stage[0] dedup_history: needs 'key' (an existing fingerprint column) or 'columns' (columns to fingerprint with md5)")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: dedup_history, history: h, key: fp, columns: [a]}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] dedup_history: give exactly one of 'key'/'columns', not both")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: dedup_history, history: h}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] dedup_history: needs 'key' (an existing fingerprint column) or 'columns' (columns to fingerprint with md5)")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: dedup_history, history: h, key: fp}
        |    - {type: neardup_history, history: h2, id: id, column: t}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] dedup_history: at most one history-dedup stage per stream",
        "stream stage[1] neardup_history: at most one history-dedup stage per stream")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: media_hash_history}
        |  sink: {type: parquet, path: out, checkpoint: chk, output_mode: update}""".stripMargin,
      Seq(
        "stream stage[0] media_hash_history: missing 'history' (parquet digest path)",
        "stream stage[0] media_hash_history: output_mode does not apply (the loop writes per-micro-batch through foreachBatch); remove it",
        "stream stage[0] media_hash_history: missing 'id' (the media id column)",
        "stream stage[0] media_hash_history: missing 'content' (the binary payload column)",
        "stream stage[0] media_hash_history: missing 'kind' (image | audio)")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: media_hash_history, history: h, id: id, content: c, kind: video, max_dist: 5}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] media_hash_history: kind must be image or audio, got 'video'",
        "stream stage[0] media_hash_history: max_dist must be 0 (exact) or 1..3 (banded Hamming), got '5'")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: media_hash_history, history: h, id: id, content: c, kind: IMAGE, max_dist: x}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] media_hash_history: max_dist must be 0 (exact) or 1..3 (banded Hamming), got 'x'")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: media_hash_history, history: h, id: id, content: c, kind: audio, max_dist: 2.5}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Nil),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: neardup_history}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] neardup_history: missing 'history' (parquet digest path)",
        "stream stage[0] neardup_history: missing 'column' (the text column to near-dup on)",
        "stream stage[0] neardup_history: missing 'id' (the document id column)")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: neardup_history, history: h, id: id, column: t, threshold: 0, verify: maybe, num_hashes: 100}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] neardup_history: threshold must be in (0, 1], got '0'",
        "stream stage[0] neardup_history: verify must be true/false/estimate/exact (collision ← false; estimate ← true), got 'maybe'",
        "stream stage[0] neardup_history: num_hashes (100) must be a positive multiple of bands (32)")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: neardup_history, history: h, id: id, column: t, threshold: x, verify: EXACT, num_hashes: x, bands: 0}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] neardup_history: threshold must be in (0, 1], got 'x'",
        "stream stage[0] neardup_history: num_hashes (-1) must be a positive multiple of bands (0)")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: neardup_history, history: h, id: id, column: t, threshold: 2, bands: 24}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Seq(
        "stream stage[0] neardup_history: threshold must be in (0, 1], got '2'",
        "stream stage[0] neardup_history: num_hashes (128) must be a positive multiple of bands (24)")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: neardup_history, history: h, id: id, column: t, threshold: 1, verify: true, num_hashes: 64, bands: 16, shingle_n: 0}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Nil),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  stages:
        |    - {type: filter, condition: x}
        |    - {type: neardup_history, history: h, id: id, column: t}
        |    - {type: dedup, keys: [id]}
        |  sink: {type: memory, output_mode: sideways, trigger: whenever}""".stripMargin,
      Seq(
        "stream stage[1] neardup_history: must be the LAST stage (it couples the sink write with recording the admitted digest rows per micro-batch)",
        "stream stage[1] neardup_history: requires a file sink (each micro-batch's survivors and their digest append are written together)",
        "stream stage[1] neardup_history: output_mode does not apply (the loop writes per-micro-batch through foreachBatch); remove it",
        "stream stage[2] dedup: requires a 'watermark' block",
        "stream memory sink needs query_name",
        "stream sink output_mode must be append, complete or update, got 'sideways'",
        "stream sink trigger must be available_now or an interval like 30s/5m/1h, got 'whenever'")),
    Case(Stream,
      """|stream:
        |  source: {type: parquet, path: in, schema: [{name: id, dtype: string}, {name: ts, dtype: timestamp}]}
        |  watermark: {column: ts, delay: 1 minute}
        |  stages:
        |    - {type: dedup, keys: [id]}
        |    - {type: window_agg, window: 1 minute, slide: 30 seconds, keys: [id], aggregations: {v: [sum]}}
        |  sink: {type: parquet, path: out, checkpoint: chk}""".stripMargin,
      Nil),
    Case(Dag,
      """|name: d
        |dag:
        |  sources:
        |    a: {type: parquet, path: in}
        |  nodes:
        |    - {id: n1, input: a, transform: {type: hash_sample, fraction: 3}}
        |    - {id: n2, input: n1, transform: {type: window_agg}}
        |    - {id: n3, input: n2, transform: {type: minhash_dedup, text: t, key: id, bands: 24}}
        |  sinks:
        |    out: {input: n3, type: parquet, path: out}""".stripMargin,
      Seq(
        "node n1 hash_sample: missing 'key'",
        "node n1 hash_sample: 'fraction' out of [0.0, 1.0]: 3.0",
        "node n2: unknown type 'window_agg'",
        "node n3 minhash_dedup: 'bands' (24) must divide 'k' (128)"))
  )

  test("validate, validateStream, validateDag and warnings keep their error lists") {
    cases.zipWithIndex.foreach { case (c, i) =>
      val got = listOf(c)
      val diff = got.zipAll(c.expected, "<none>", "<none>").zipWithIndex.collect {
        case ((g, e), j) if g != e => s"  [$j] got: $g\n  [$j] expected: $e"
      }
      assert(diff.isEmpty, s"case $i (${c.form}):\n${diff.mkString("\n")}")
    }
  }
}
