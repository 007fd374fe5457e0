package org.apache.spark

/** The listener bus is `private[spark]`: specs that count listener events
  * drain it first, so the counts cover everything that already ran.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
