package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before it
  * reads its span counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
