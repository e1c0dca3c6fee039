package org.apache.spark

/** Access to the listener bus, which is private to Spark: `graft.BenchExtra`
  * waits for it to drain before it reads the query executions it has seen. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
