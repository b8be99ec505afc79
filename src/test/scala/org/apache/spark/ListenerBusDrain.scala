package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener read right after an action has seen all of the action's jobs.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
