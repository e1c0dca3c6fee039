package org.apache.spark

/** Access to the listener bus, which is private to Spark: the benchmark
  * waits for it to drain before it reads the counters of a window. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
