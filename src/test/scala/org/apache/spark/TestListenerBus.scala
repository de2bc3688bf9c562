package org.apache.spark

/** The listener bus is private to Spark; a test that counts jobs with a
  * listener waits for every posted event before it reads the count. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
