package org.apache.spark

/** Test-side drain of the listener bus (private to Spark): once it
  * returns, every event posted so far has reached every listener. */
object ListenerBusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
