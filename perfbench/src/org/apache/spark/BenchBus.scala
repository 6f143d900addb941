package org.apache.spark

/** Access to the listener bus, which is private to Spark: the benchmark
  * waits for it to drain before reading its own listener's counters. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
