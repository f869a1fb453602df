package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Deterministic listener flush. `SparkContext.listenerBus` is
  * `private[spark]`, so the call has to live under `org.apache.spark`.
  * `waitUntilEmpty` returns once every event posted before the call has
  * been delivered to every listener, which replaces polling for counters
  * to stop moving.
  */
object ListenerFlush {
  /** Longer than any queue of events one workload posts takes to drain. */
  val TimeoutMs = 60000L

  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(TimeoutMs)
}
