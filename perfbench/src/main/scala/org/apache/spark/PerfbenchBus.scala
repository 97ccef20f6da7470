package org.apache.spark

/** Access to Spark-core's `private[spark]` listener bus: listener events
  * post asynchronously, so a measurement window is only complete once the
  * bus has been drained. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
