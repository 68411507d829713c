package org.apache.spark

/** The listener bus is package-private: this is the one call the benchmark
  * needs from it, so that every task-end event has reached the trace
  * listener before the trace is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
