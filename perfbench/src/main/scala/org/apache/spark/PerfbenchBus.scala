package org.apache.spark

/** The listener bus is private to Spark. The traced run drains it after
  * each op so that every listener event the op caused has been counted
  * before the op's counters are read; every run drains it before reading
  * the heap, so that queued events hold no memory. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
