package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, to_json, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The harness every battery main shares (Verify, Bench, PlanDump,
  * QueryBench, ScaleProbe): the session settings, the checksum force that
  * materializes a query, and the scratch checkpoint base for the streaming
  * entries. Each main keeps its own CPU default and log level.
  */
object Battery {

  /** The session settings of a battery run on `cpus` local cores: one
    * shuffle partition per core, UTC, parquet TIMESTAMP(NANOS) read as LONG
    * (see [[SparkEntry.normalizeTs]]) and no UI.
    */
  def conf(cpus: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** A session with [[conf]] plus `extra`; with a checkpoint prefix the
    * streaming entries checkpoint under [[freshCheckpointBase]].
    */
  def session(cpus: String, checkpointPrefix: Option[String] = None,
              extra: Seq[(String, String)] = Nil): SparkSession = {
    val ckpt = checkpointPrefix.map(p =>
      "spark.sql.streaming.checkpointLocation" -> freshCheckpointBase(p))
    (conf(cpus) ++ ckpt ++ extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
  }

  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => containsMap(a.elementType)
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** Materialize the honest plan: checksum every column of every row with
    * `bit_xor(xxhash64(c0, …, cn))` and return the xor (0 for no rows; the
    * row count for a frame without columns). Under `count()` Catalyst may
    * eliminate count-preserving operators, so a count-timed query can run
    * a different plan from the one a sink write forces. Columns are
    * positionally renamed first (no quoting pitfalls), and map columns go
    * through to_json (xxhash64 rejects MapType — maps have no canonical
    * entry order). The xor is independent of row order and partitioning.
    */
  def force(df: DataFrame): Long = {
    val renamed = df.toDF(df.columns.indices.map("c" + _): _*)
    val cols = renamed.schema.fields.map { f =>
      if (containsMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    if (cols.isEmpty) renamed.count()
    else {
      val row = renamed.select(xxhash64(cols.toIndexedSeq: _*).as("__row_h"))
        .agg(expr("bit_xor(__row_h)")).collect()(0)
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
  }

  /** Per-run streaming checkpoint base: tmpfs when the machine has
    * /dev/shm, plain /tmp otherwise. The streaming entries are drained
    * with AvailableNow and re-created per run under UUID query names, so
    * their checkpoints are pure scratch — what costs time is the
    * per-micro-batch offset/commit/state fsyncs, which tmpfs makes
    * memory-speed. Production deployments point
    * `spark.sql.streaming.checkpointLocation` at durable shared storage;
    * nothing in the engine depends on this scratch base.
    *
    * The previous run's base (same prefix) is deleted on creation, so
    * repeated battery runs cannot accumulate in RAM.
    */
  def freshCheckpointBase(prefix: String): String = {
    import java.nio.file.{Files, Path, Paths}
    val root =
      if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm" else "/tmp"
    val base = Paths.get(s"$root/graft_ckpt_$prefix")
    if (Files.exists(base)) {
      Files.walk(base).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.delete(f); () })
    }
    Files.createDirectories(base)
    base.toString
  }
}
