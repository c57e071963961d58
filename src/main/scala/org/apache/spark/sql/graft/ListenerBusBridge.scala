package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Access bridge for `LiveListenerBus.waitUntilEmpty` (private[spark]):
  * listener events arrive asynchronously, so counters read after a drain.
  * Same placement rule as [[PredicateBridge]]. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
