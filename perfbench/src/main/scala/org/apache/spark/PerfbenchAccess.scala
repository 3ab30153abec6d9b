package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private. */
object PerfbenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
