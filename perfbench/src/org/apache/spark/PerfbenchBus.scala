package org.apache.spark

/** The listener bus is package-private; the benchmark waits on it before
  * reading its own listener's counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
