package org.apache.spark.rdd

import org.apache.spark.SparkContext

/** Bridge into the listener bus, which Spark keeps package-private (the
  * `GraftRddBridge` trick), so a listener's reader can wait until every
  * event posted so far has been delivered instead of sleeping. */
object GraftBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
