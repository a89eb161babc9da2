package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** `SparkContext.listenerBus` and `RDDOperationScope` are
  * `private[spark]`; the dev tool's stage log (`graft.Dev.StageLog`)
  * drains the bus so per-query stage tallies aren't skewed by its
  * asynchronous delivery (a stage-completed event can otherwise land
  * after the sample that should have included it), and names stages
  * by operator scope. This shim is the minimal, harness-only bridge —
  * the same package-injection pattern Spark's own external test
  * utilities use. Nothing in the scored query paths touches it.
  */
object ListenerBusAccess {
  /** Block until every queued listener event has been delivered. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The operator scopes of the stage's RDDs in creation order — the
    * names `Dev explain` prints (`WholeStageCodegen (3)`, `Exchange`).
    * AQE submits stages from a CompletableFuture, so `StageInfo.name`
    * (a call site) names none of them. */
  def scopeNames(info: StageInfo): Seq[String] =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
