package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counter snapshots taken right after an action include its tasks.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
