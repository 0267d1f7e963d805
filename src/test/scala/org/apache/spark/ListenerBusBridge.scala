package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * a spec drains it before reading what its listener recorded. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
