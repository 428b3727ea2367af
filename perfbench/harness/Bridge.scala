package org.apache.spark

/** The listener bus delivers events asynchronously; a traced request waits
  * for it to drain before reading its job records, so every job the
  * request started is attributed to it.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
