package org.apache.spark

/** Test access to the live listener bus: after an action returns, its
  * job events are posted but may not be delivered yet. Specs that count
  * jobs with a `SparkListener` drain the bus before reading the count.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
