package org.apache.spark

/** Access to the package-private listener bus: the benchmark waits for it
  * to drain before it reads the counters its listener collected, so task
  * events that arrive after an action returns are never lost. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
