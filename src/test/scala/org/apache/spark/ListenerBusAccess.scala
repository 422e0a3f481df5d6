package org.apache.spark

/** Test access to the listener bus. Listener events are delivered
  * asynchronously, so a listener read right after an action can miss the
  * action's last jobs until the bus has drained. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
