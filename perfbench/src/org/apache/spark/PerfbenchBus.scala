package org.apache.spark

/** The listener bus is package-private; traced runs wait for it to drain
  * before reading job records, so no job of a pass is missed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
