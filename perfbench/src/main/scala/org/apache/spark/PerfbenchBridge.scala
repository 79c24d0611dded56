package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for queued listener events before reading its counters.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
