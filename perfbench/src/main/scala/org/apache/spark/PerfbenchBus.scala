package org.apache.spark

/** Access to Spark's listener bus for the benchmark: wait until every
  * queued event has reached the listeners before reading their state. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
