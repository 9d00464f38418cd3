package org.apache.spark

/** Waits until every queue of the context's listener bus is empty, so
  * the events of a traced pass are all delivered before it is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
