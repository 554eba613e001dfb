package org.apache.spark

/** Lets the benchmark read its listener counters only after every event
  * of a pass has been delivered: the listener bus is asynchronous and
  * its drain is package-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
