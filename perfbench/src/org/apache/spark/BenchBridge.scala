package org.apache.spark

/** Access to the one scheduler hook the benchmark needs that Spark keeps
  * package-private: draining the listener bus, so span charges are complete
  * before they are read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
