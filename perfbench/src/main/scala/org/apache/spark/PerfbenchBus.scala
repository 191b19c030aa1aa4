package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait
  * for it to deliver every posted event before it reads its counts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
