package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait until
  * every event of its window has been delivered before it derives spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
