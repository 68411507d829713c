package org.apache.spark

/** The listener bus is package-private: tests that count jobs or shuffle
  * bytes with a listener drain it first, so every event of the measured
  * call has reached the listener before the counts are read. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
