package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * trace read after it is complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
