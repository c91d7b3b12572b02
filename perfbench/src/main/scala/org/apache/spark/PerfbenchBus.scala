package org.apache.spark

/** Waits for Spark's listener bus to deliver every posted event. The bus
  * is package-private, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
