package org.apache.spark

/** Listener events arrive asynchronously; the traced pass waits for the
  * bus to drain before it reads what its listeners recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
