package org.apache.spark

/** The listener bus is `private[spark]`: `graft.Probe`'s job log drains it
  * first, so what it logged covers everything that already ran.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
