package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for it to drain before reading a recorder. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
