package org.apache.spark

/** Lets the benchmark wait until every posted scheduler event has
  * reached its listeners, so counters read after a request are complete
  * (the listener bus is asynchronous and package-private). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
