package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts read after an action are complete. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
