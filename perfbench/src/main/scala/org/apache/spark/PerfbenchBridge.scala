package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private. */
object PerfbenchBridge {
  /** Block until every queued listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
