package minietl.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The reference's parallel-execution operators (SURVEY §2.3;
  * mini_etl/core/parallel.py) re-expressed. Most are no-ops by design:
  * Spark already executes every narrow transformation in parallel per
  * partition, pipelines producer/consumer stages, and preserves
  * deterministic partition order — `ParallelTransformer`, `StreamBuffer`
  * and `parallel_map` have nothing left to do. What remains meaningful is
  * explicit control of the partition layout, which is what this object
  * provides.
  */
object Partitioning {

  /** ChunkBalancer (parallel.py:204-245): even out partition sizes. Spark
    * analog is a round-robin repartition; post-shuffle, AQE's partition
    * coalescing (`spark.sql.adaptive.coalescePartitions.enabled`, on by
    * default) does this automatically.
    */
  def rebalance(n: Int): Ops.Op = _.repartition(n)

  /** Narrow merge of small partitions without a shuffle — the cheap path
    * when reducing parallelism (e.g. before writing few output files).
    */
  def coalesce(n: Int): Ops.Op = _.coalesce(n)

  /** Hash-partition by key columns: co-locates equal keys so a following
    * groupBy/join on the same keys reuses the exchange instead of
    * re-shuffling — the building block for bucketed co-located joins.
    */
  def byKeys(n: Int, keys: Seq[String]): Ops.Op =
    df => df.repartition(n, keys.map(col): _*)

  /** Range-partition by sort keys: the layout a global sort needs; writing
    * with this layout gives min/max-clustered files that later range
    * predicates can skip.
    */
  def byRange(n: Int, keys: Seq[String]): Ops.Op =
    df => df.repartitionByRange(n, keys.map(col): _*)

  /** Current partition count (for tests / introspection). Under AQE this
    * runs the frame's shuffle stages; [[plannedPartitions]] does not.
    */
  def partitionCount(df: DataFrame): Int = df.rdd.getNumPartitions

  /** Partition count of `df`'s physical plan as planned before adaptive
    * execution starts, read off the plan without running a job. A stated
    * output partitioning gives its count directly (an exchange, a
    * repartition, a coalesce), a file scan its file splits, an RDD or cache
    * scan the partitions it reads, a union the sum of its children, and any
    * other operator the largest of its children. AQE may later coalesce an
    * exchange to fewer partitions, so for a shuffled frame this is an upper
    * bound on [[partitionCount]].
    */
  def plannedPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.execution._
    def of(p: SparkPlan): Int = p match {
      case a: adaptive.AdaptiveSparkPlanExec => of(a.executedPlan)
      case _ if p.outputPartitioning.numPartitions > 0 => p.outputPartitioning.numPartitions
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
      case s: RDDScanExec => s.rdd.getNumPartitions
      case s: columnar.InMemoryTableScanExec => of(s.relation.cachedPlan)
      case u: UnionExec => u.children.map(of).sum
      case _ => p.children.map(of).maxOption.getOrElse(1)
    }
    of(df.queryExecution.executedPlan)
  }
}
