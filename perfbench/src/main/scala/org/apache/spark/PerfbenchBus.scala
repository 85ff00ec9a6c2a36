package org.apache.spark

/** Same-package access to the listener-bus drain, so a counter snapshot
  * taken after an operation includes every event that operation posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
