package org.apache.spark.minietl

import org.apache.spark.rdd.RDD

/** Bridge to the `private[spark]` `SparkContext.unpersistRDD`: drops a
  * stored RDD's blocks without the warning `RDD.unpersist` logs for a
  * locally checkpointed RDD (that its truncated lineage cannot be
  * recomputed), which is exactly what a caller releasing a finished
  * checkpoint intends.
  */
object RddRelease {
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
