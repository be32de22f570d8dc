package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * job/task ledger is complete before the harness reads it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
