package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the dev tool's
  * stage log (`graft.Dev.StageLog`) needs to drain it so per-query
  * stage tallies aren't skewed by the bus's asynchronous delivery (a
  * stage-completed event can otherwise land after the sample that
  * should have included it). This shim is the minimal, harness-only
  * bridge — the same package-injection pattern Spark's own external
  * test utilities use. Nothing in the
  * scored query paths touches it.
  */
object ListenerBusAccess {
  /** Block until every queued listener event has been delivered. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
