package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can read its listeners' totals only after every posted event
  * has been delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
