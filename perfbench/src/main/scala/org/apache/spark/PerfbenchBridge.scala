package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark needs it to read
  * its listeners' totals only after every event of a pass was delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
