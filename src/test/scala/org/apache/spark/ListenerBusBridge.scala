package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so a spec
  * can wait until every event posted so far has been delivered instead
  * of sleeping. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
