package org.apache.spark

/** Lets the traced run read its listener only after every event of the
  * op it just timed has been delivered (the listener bus is
  * asynchronous and its drain call is private to this package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
