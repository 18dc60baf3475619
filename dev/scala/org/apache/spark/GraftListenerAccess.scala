package org.apache.spark

/** Waits until every queued listener event has been delivered — the
  * listener bus is `private[spark]`. Listener counts (SQL executions,
  * jobs) are read after this, never while events are still in flight.
  * Used by `DevProfile`'s job count and by the specs that pin action
  * counts.
  */
object GraftListenerAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
