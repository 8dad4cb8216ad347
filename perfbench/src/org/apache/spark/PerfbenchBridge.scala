package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every
  * event of an operation before it reads the listener's counters. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
