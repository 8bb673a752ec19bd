package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; graft.Tool's timing
  * loop needs to drain it so the per-query task-metric counters its
  * listeners maintain are complete before being read (listener events post asynchronously —
  * reading right after the action undercounts the last stages' spill).
  * Same introspection pattern as [[org.apache.spark.rdd.GraftRddIntrospect]].
  */
object ListenerBusDrain {
  /** Block until all queued listener events are dispatched (or timeout). */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
