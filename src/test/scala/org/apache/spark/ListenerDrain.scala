package org.apache.spark

/** Test access to the listener-bus drain, which Spark keeps package-private:
  * a count kept by a `SparkListener` is exact only once every queued event
  * has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
