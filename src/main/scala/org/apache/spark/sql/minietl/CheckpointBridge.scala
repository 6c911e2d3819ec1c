package org.apache.spark.sql.minietl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into the `private[sql]` `Dataset.ofRows`: re-declares the hash
  * partitioning of a checkpointed frame. A local checkpoint records the
  * partitioning its physical plan reports, and under adaptive execution
  * that plan (`AdaptiveSparkPlanExec`) reports none.
  */
object CheckpointBridge {
  /** `stored` (a frame whose plan is one `LogicalRDD`) declaring that its
    * rows are laid out by `p`; the caller guarantees they are.
    */
  def withPartitioning(stored: DataFrame, p: HashPartitioning): DataFrame =
    stored.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = stored.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          lr.copy(outputPartitioning = p)(session, Some(lr.computeStats()), None))
      case _ => stored
    }
}
