package minietl.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import minietl.io.{Readers, Writers}
import minietl.ops.Ops
import minietl.schema.{SchemaValidator, TableSchema}

/** Fluent sugar over [[Pipeline]] (reference: mini_etl/core/pipeline.py:281-374
  * `PipelineBuilder` — from_csv/from_json/from_sql, filter/rename/select/drop/
  * transform, to_csv/to_parquet/to_sql, build).
  */
final class PipelineBuilder(name: String = "pipeline") {
  private var p = new Pipeline(name)

  // ------------------------------------------------------------- sources
  def fromCsv(path: String, options: Map[String, String] = Map.empty): PipelineBuilder =
    { p = p.setSource(s => Readers.csv(s, path, options = options)); this }
  def fromJson(path: String, lines: Boolean = true): PipelineBuilder =
    { p = p.setSource(s => Readers.json(s, path, lines = lines)); this }
  def fromParquet(path: String, columns: Seq[String] = Nil): PipelineBuilder =
    { p = p.setSource(s => Readers.parquet(s, path, columns)); this }
  def fromJdbc(url: String, table: Option[String] = None, query: Option[String] = None,
               options: Map[String, String] = Map.empty): PipelineBuilder =
    { p = p.setSource(s => Readers.jdbc(s, url, table, query, options)); this }
  def fromDataFrame(df: DataFrame): PipelineBuilder =
    { p = p.setSource(_ => df); this }
  def fromSource(f: SparkSession => DataFrame): PipelineBuilder =
    { p = p.setSource(f); this }

  // -------------------------------------------------------- transformers
  def filter(condition: String): PipelineBuilder = add(Ops.filterExpr(condition), "filter")
  def filter(condition: Column): PipelineBuilder = add(Ops.filter(condition), "filter")
  def rename(columns: Map[String, String]): PipelineBuilder = add(Ops.rename(columns), "rename")
  def select(columns: Seq[String], ignoreMissing: Boolean = true): PipelineBuilder =
    add(Ops.select(columns, ignoreMissing), "select")
  def drop(columns: Seq[String]): PipelineBuilder = add(Ops.drop(columns), "drop")
  def cast(columns: Map[String, String]): PipelineBuilder = add(Ops.castCoerce(columns), "cast")
  def fillna(value: Any, columns: Seq[String] = Nil): PipelineBuilder =
    add(Ops.fillna(value, columns), "fillna")
  def expression(e: String): PipelineBuilder = add(Ops.expression(e), "expression")
  def groupAgg(groupBy: Seq[String], agg: Map[String, Seq[String]]): PipelineBuilder =
    add(Ops.groupAgg(groupBy, agg), "group_agg")
  def dedupe(subset: Seq[String] = Nil, keep: Ops.Keep = Ops.Keep.Any): PipelineBuilder =
    add(Ops.dedupe(subset, keep), "dedupe")
  def sort(by: Seq[String], ascending: Seq[Boolean] = Nil): PipelineBuilder =
    add(Ops.sort(by, ascending), "sort")
  def transform(f: DataFrame => DataFrame): PipelineBuilder = add(f)
  def add(f: DataFrame => DataFrame): PipelineBuilder = { p = p.addTransformer(f); this }
  def add(f: DataFrame => DataFrame, label: String): PipelineBuilder =
    { p = p.addTransformer(f, label); this }

  // ------------------------------------------ training-data pipeline stages
  def hashSample(key: String, fraction: Double): PipelineBuilder =
    add(Ops.hashSample(key, fraction), "hash_sample")
  def stratifiedSample(key: String, strata: String, fractions: Map[String, Double],
                       defaultFraction: Double = 0.0): PipelineBuilder =
    add(Ops.stratifiedHashSample(key, strata, fractions, defaultFraction), "stratified_sample")
  def piiRedact(column: String): PipelineBuilder = add(Ops.piiRedact(column), "pii_redact")
  def qualityFilter(column: String, minScore: Long): PipelineBuilder =
    add(Ops.qualityFilter(column, minScore), "quality_filter")
  def exactDedup(contentCol: String, keyCol: String): PipelineBuilder =
    add(df => minietl.dedup.Dedup.exact(df, contentCol, keyCol), "exact_dedup")
  def gopherFilter(column: String, minWords: Long = 50,
                   maxWords: Long = 100000): PipelineBuilder =
    add(Ops.gopherFilter(column, minWords, maxWords), "gopher_filter")
  def temperatureSample(key: String, strata: String, targetFraction: Double,
                        alpha: Double = 0.5): PipelineBuilder =
    add(Ops.temperatureSample(key, strata, targetFraction, alpha), "temperature_sample")
  def tokenBudget(strata: String, tokenCol: String, budget: Long,
                  key: String, seed: String = "0"): PipelineBuilder =
    add(Ops.tokenBudget(strata, tokenCol, budget, Ops.shuffleKey(key, seed)),
      "token_budget")
  /** Best-mass-first nucleus per stratum ([[Ops.topPByMass]]). */
  def topPSelect(strata: String, massCol: String, pBasisPoints: Int,
                 tieBreakCol: String): PipelineBuilder =
    add(Ops.topPByMass(strata, massCol, pBasisPoints, tieBreakCol), "top_p_select")
  def paragraphDedup(textCol: String, idCol: String, delim: String = "\n",
                     minChars: Int = 0): PipelineBuilder =
    add(df => minietl.text.ParagraphDedup.dedupParagraphs(
      df, textCol, idCol, delim, minChars), "paragraph_dedup")
  def normalizeText(column: String): PipelineBuilder =
    add(df => df.withColumn(column,
      minietl.text.TextAnalysis.normalizeText(df(column))), "normalize_text")
  def featureHash(column: String, outColumn: String, dim: Int): PipelineBuilder =
    add(df => df.withColumn(outColumn,
      minietl.text.FeatureHash.tfVector(df(column), dim)), "feature_hash")
  def winsorize(groupBy: Seq[String], valueCol: String,
                lo: Double = 0.01, hi: Double = 0.99): PipelineBuilder =
    add(Ops.winsorize(groupBy, valueCol, lo, hi), "winsorize")
  def impute(groupBy: Seq[String], valueCol: String, strategy: String): PipelineBuilder =
    add(Ops.imputeGroup(valueCol, groupBy, strategy), "impute")
  /** Keeps rows within k sigma of their group mean (drops flagged outliers
    * and the helper columns — a pure corpus-cleaning filter stage).
    */
  def sigmaOutlierFilter(groupBy: Seq[String], valueCol: String,
                         k: Int = 3): PipelineBuilder =
    add(df => minietl.events.EventAnalytics.sigmaOutlierFilter(df, groupBy, valueCol, k),
      "sigma_outlier_filter")

  /** Keeps rows within k MADs of their group median (the robust twin). */
  def madOutlierFilter(groupBy: Seq[String], valueCol: String,
                       k: Int = 3): PipelineBuilder =
    add(df => minietl.events.EventAnalytics.madOutlierFilter(df, groupBy, valueCol, k),
      "mad_outlier_filter")

  def withSchema(schema: TableSchema): PipelineBuilder =
    { p = p.withValidator(new SchemaValidator(schema)); this }
  def withErrorMode(m: ErrorMode): PipelineBuilder = { p = p.withErrorMode(m); this }
  def withOnComplete(f: RunStats => Unit): PipelineBuilder = { p = p.withOnComplete(f); this }
  def withOnStage(f: Pipeline.StageContext => Unit): PipelineBuilder =
    { p = p.withOnStage(f); this }
  def withOnError(f: (Pipeline.StageContext, Throwable) => Unit): PipelineBuilder =
    { p = p.withOnError(f); this }
  def withOnExecMetrics(
      f: (org.apache.spark.sql.execution.QueryExecution, Long) => Unit): PipelineBuilder =
    { p = p.withOnExecMetrics(f); this }

  // --------------------------------------------------------------- sinks
  def toCsv(path: String, mode: String = "overwrite"): PipelineBuilder =
    { p = p.setSink(df => Writers.csv(df, path, mode)); this }
  def toJson(path: String, mode: String = "overwrite"): PipelineBuilder =
    { p = p.setSink(df => Writers.json(df, path, mode)); this }
  def toParquet(path: String, mode: String = "overwrite",
                partitionBy: Seq[String] = Nil): PipelineBuilder =
    { p = p.setSink(df => Writers.parquet(df, path, mode, partitionBy = partitionBy)); this }
  def toJdbc(url: String, table: String, ifExists: String = "append"): PipelineBuilder =
    { p = p.setSink(df => Writers.jdbc(df, url, table, ifExists)); this }
  def toNoop(): PipelineBuilder = { p = p.setSink(df => { Writers.noop(df); () }); this }
  def toSink(f: DataFrame => Unit): PipelineBuilder = { p = p.setSink(f); this }

  def build(): Pipeline = p
}
