package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Frees an RDD's blocks without blocking. A locally checkpointed
  * RDD goes through `SparkContext.unpersistRDD` (private[spark]):
  * `RDD.unpersist` would log a warning on every call that its lineage
  * is truncated, which a caller releasing a checkpoint on purpose
  * already knows. Any other RDD takes `RDD.unpersist`, so its storage
  * level resets.
  */
object Unpersist {
  def apply(rdd: RDD[_]): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist(blocking = false): Unit
}
