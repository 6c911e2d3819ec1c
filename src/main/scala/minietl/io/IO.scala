package minietl.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources (reference: mini_etl/components/extractors.py) re-expressed as
  * Spark readers. The reference's chunked iteration exists only to bound
  * memory; Spark's partitioned scan subsumes it (SURVEY §1.1), and column
  * pruning / predicate pushdown that the reference requires the user to spell
  * out (`columns=`, hand-written WHERE in SQL) are automatic in Catalyst.
  */
object Readers {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** CSVExtractor (extractors.py:19-76). Header inferred like pandas; pass an
    * explicit schema to avoid the extra inference scan on big data (the
    * fallback warns, like the other scale traps — ffill, as-of, packing).
    */
  def csv(spark: SparkSession, path: String,
          schema: Option[StructType] = None,
          encoding: String = "UTF-8",
          options: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("encoding", encoding)
      .options(options)
    val withSchema = schema match {
      case Some(st) => base.schema(st)
      case None =>
        log.warn(s"csv($path): no schema passed — falling back to " +
          "inferSchema=true, which is a SECOND full scan of the input " +
          "before the real read; pass an explicit StructType for large data")
        base.option("inferSchema", "true")
    }
    withSchema.csv(path)
  }

  /** JSONExtractor (extractors.py:79-148): JSONL natively; whole-file JSON
    * arrays via multiLine.
    */
  def json(spark: SparkSession, path: String, lines: Boolean = true,
           schema: Option[StructType] = None,
           options: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read.options(options)
    val withSchema = schema.fold(base)(base.schema)
    if (lines) withSchema.json(path) else withSchema.option("multiLine", "true").json(path)
  }

  /** ParquetExtractor (extractors.py:223-282). `columns` kept for API parity;
    * Catalyst prunes to the read schema either way.
    */
  def parquet(spark: SparkSession, path: String, columns: Seq[String] = Nil): DataFrame = {
    val df = spark.read.parquet(path)
    if (columns.nonEmpty) df.select(columns.map(org.apache.spark.sql.functions.col): _*) else df
  }

  /** ORC scan — no reference counterpart (the reference's formats stop at
    * parquet, extractors.py); a Spark-native superset using the built-in
    * columnar reader with the same pushdown/pruning behavior as parquet
    * (same `columns` contract as [[parquet]]).
    */
  def orc(spark: SparkSession, path: String, columns: Seq[String] = Nil): DataFrame = {
    val df = spark.read.orc(path)
    if (columns.nonEmpty) df.select(columns.map(org.apache.spark.sql.functions.col): _*) else df
  }

  /** SQLExtractor (extractors.py:285-356): JDBC scan; `query` XOR `table`
    * validated like the reference (extractors.py:320-323). Partitioned-read
    * options (partitionColumn/lowerBound/upperBound/numPartitions) are the
    * scale path — a single-cursor read is one task no matter the cluster size.
    */
  def jdbc(spark: SparkSession, url: String,
           table: Option[String] = None, query: Option[String] = None,
           options: Map[String, String] = Map.empty): DataFrame = {
    require(table.isDefined ^ query.isDefined, "exactly one of table/query is required")
    val r = spark.read.format("jdbc").option("url", url).options(options)
    table.fold(r.option("query", query.get))(t => r.option("dbtable", t)).load()
  }

  /** InMemoryExtractor (extractors.py:526-560). */
  def inMemory(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toList), schema)
}

/** Sinks (reference: mini_etl/components/loaders.py). One Spark writer per
  * reference loader; none of the reference's buffering anti-patterns
  * (SURVEY §4) survive — Spark writers stream per-partition.
  */
object Writers {

  def saveMode(mode: String): SaveMode = mode.toLowerCase match {
    case "w" | "overwrite" | "replace" => SaveMode.Overwrite
    case "a" | "append" => SaveMode.Append
    case "fail" | "error" | "errorifexists" => SaveMode.ErrorIfExists
    case "ignore" => SaveMode.Ignore
    case other => throw new IllegalArgumentException(s"unknown write mode: $other")
  }

  /** CSVLoader (loaders.py:18-99). */
  def csv(df: DataFrame, path: String, mode: String = "overwrite",
          options: Map[String, String] = Map.empty): Unit =
    df.write.mode(saveMode(mode)).option("header", "true").options(options).csv(path)

  /** JSONLoader (loaders.py:102-194) — JSONL path only; the reference's
    * buffer-everything JSON-array mode is an anti-pattern it itself warns
    * about (loaders.py:129-133) and is intentionally not reproduced.
    */
  def json(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(saveMode(mode)).json(path)

  /** ParquetLoader (loaders.py:279-378): one primitive covers both the
    * single-dir and hive-partitioned paths, without the reference's
    * full-buffering.
    */
  def parquet(df: DataFrame, path: String, mode: String = "overwrite",
              compression: String = "snappy", partitionBy: Seq[String] = Nil,
              maxRecordsPerFile: Long = 0L): Unit = {
    // maxRecordsPerFile > 0 caps output file size by row count — the
    // standard Spark knob for the small-files/giant-files trade at scale
    // (0 = Spark default: one file per task)
    val w = df.write.mode(saveMode(mode)).option("compression", compression)
    val w2 = if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    (if (partitionBy.nonEmpty) w2.partitionBy(partitionBy: _*) else w2).parquet(path)
  }

  /** ORC sink — Spark-native superset (see [[Readers.orc]]); same
    * mode/partitioning contract as [[parquet]].
    */
  def orc(df: DataFrame, path: String, mode: String = "overwrite",
          compression: String = "snappy", partitionBy: Seq[String] = Nil,
          maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.write.mode(saveMode(mode)).option("compression", compression)
    val w2 = if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    (if (partitionBy.nonEmpty) w2.partitionBy(partitionBy: _*) else w2).orc(path)
  }

  /** SQLLoader (loaders.py:197-276). */
  def jdbc(df: DataFrame, url: String, table: String, ifExists: String = "append",
           batchSize: Int = 1000, options: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc").mode(saveMode(ifExists))
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize.toString).options(options).save()

  /** Bucketed managed table: pre-shuffles the data into `buckets` files per
    * partition clustered (and optionally sorted) by the join/group keys.
    * Two tables bucketed the same way join with NO exchange — the shuffle is
    * paid once at write time instead of on every query, which is the
    * standard layout investment for repeatedly-joined 100 TB fact tables.
    * (DataFrame API path; requires a session with a warehouse dir.)
    */
  def bucketedTable(df: DataFrame, table: String, buckets: Int, keys: Seq[String],
                    sortKeys: Seq[String] = Nil, mode: String = "overwrite"): Unit = {
    require(keys.nonEmpty, "bucketing needs at least one key")
    val w = df.write.mode(saveMode(mode))
      .bucketBy(buckets, keys.head, keys.tail: _*)
    val sorted = if (sortKeys.nonEmpty) w.sortBy(sortKeys.head, sortKeys.tail: _*) else w
    sorted.format("parquet").saveAsTable(table)
  }

  /** NullLoader (loaders.py:487-509): consume + count. */
  def noop(df: DataFrame): Long = df.count()

  /** MultiLoader (loaders.py:453-484): fan one frame out to several sinks.
    * The frame is checkpointed once so the lineage is not recomputed per
    * sink — the distributed analog of the reference's buffered replay —
    * and released when the sinks finish (a frame that already was a
    * checkpoint is the caller's, and is left alone).
    */
  def multi(df: DataFrame, sinks: Seq[DataFrame => Unit]): Unit = {
    val stored = minietl.pipeline.RunCaches.checkpoint(df)
    try sinks.foreach(s => s(stored))
    finally if (stored ne df) minietl.pipeline.RunCaches.releaseNow(stored)
  }

  /** CallbackLoader (loaders.py:512-545): executor-side per-partition hook. */
  def foreachPartition(df: DataFrame, f: Iterator[org.apache.spark.sql.Row] => Unit): Unit =
    df.foreachPartition(f)
}
