package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * a counter read after an operation includes that operation. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
