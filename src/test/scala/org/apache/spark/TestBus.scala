package org.apache.spark

/** Access to the listener bus, which is private to Spark: a spec that
  * counts jobs with its own listener waits for the bus to drain before
  * reading the count. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
