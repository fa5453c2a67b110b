package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * listener figures read after an action are complete. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
