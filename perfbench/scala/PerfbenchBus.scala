package org.apache.spark

/** Access to the scheduler's listener bus, which Spark keeps package
  * private: the traced run drains it after each operation so every
  * listener event is counted against the operation that caused it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
