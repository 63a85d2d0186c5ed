package org.apache.spark.rdd

/** Bridge into `RDD.isLocallyCheckpointed` and `SparkContext.unpersistRDD`
  * (package-private; the `GraftColumnBridge` trick). `RDD.unpersist` logs
  * a WARN for every locally checkpointed RDD, expected when a finished
  * checkpoint is released on purpose, so those skip it. */
object GraftRddBridge {
  def release(rdd: RDD[_], blocking: Boolean): Unit =
    if (rdd.isLocallyCheckpointed) rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    else rdd.unpersist(blocking)
}
