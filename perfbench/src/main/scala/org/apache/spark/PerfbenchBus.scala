package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait for
  * every posted event before it reads its listeners' totals. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
