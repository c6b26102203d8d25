package org.apache.spark.graft

import org.apache.spark.rdd.RDD

/** Drops a local checkpoint's blocks without `RDD.unpersist`'s warning that
  * its lineage is truncated; `SparkContext.unpersistRDD` is private[spark]. */
object CheckpointRelease {
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
