package org.apache.spark

/** Test-only access to the listener bus: `waitUntilEmpty` is
  * `private[spark]`, and a spec that counts events must see every event
  * posted before it reads its counters. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
