package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private: the
  * benchmark reads job records only after every event was delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
