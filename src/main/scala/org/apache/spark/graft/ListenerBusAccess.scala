package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListenerInterface, StageInfo}
import scala.reflect.ClassTag

/** `SparkContext.listenerBus` and `RDDOperationScope` are
  * `private[spark]`; the query-record collector (`graft.QueryRecord`)
  * is installed once per context by looking for itself on the bus,
  * drains the bus so per-query counts aren't skewed by its
  * asynchronous delivery (a stage-completed event can otherwise land
  * after the record that should have included it), and names stages
  * by operator scope. This shim is the minimal bridge — the same
  * package-injection pattern Spark's own external test utilities use.
  * No query body touches it.
  */
object ListenerBusAccess {
  /** Block until every queued listener event has been delivered. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The listeners of class `T` registered on `sc`. */
  def listenersOf[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()

  /** The operator scopes of the stage's RDDs in creation order — the
    * names `Dev explain` prints (`WholeStageCodegen (3)`, `Exchange`).
    * AQE submits stages from a CompletableFuture, so `StageInfo.name`
    * (a call site) names none of them. */
  def scopeNames(info: StageInfo): Seq[String] =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
