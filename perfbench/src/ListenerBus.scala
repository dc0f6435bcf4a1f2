package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * stage metrics read after an operation are complete.
  */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
