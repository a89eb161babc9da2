package graft

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The dev tool's profile drains the listener bus between its warm-up
  * and timed runs, so no warm-up stage leaks into the timed tally and
  * no timed stage is missed. */
class DevSpec extends AnyFunSuite {
  private def s = SparkTestBase.spark

  test("profile: every timed stage comes after the warm-up's last stage") {
    // a slow listener ahead of the stage log on the same bus queue
    // delays its deliveries, the way a contended box does; it also
    // records every stage the two runs complete
    val seen = ArrayBuffer[Int]()
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        seen.synchronized(seen += e.stageInfo.stageId)
        Thread.sleep(200)
      }
    }
    s.sparkContext.addSparkListener(slow)
    val p =
      try Dev.profile(s, SparkTestBase.sfDir, "q_agg_hash")
      finally {
        ListenerBusAccess.waitUntilEmpty(s.sparkContext)
        s.sparkContext.removeSparkListener(slow)
      }
    // the same query twice runs the same stages, so the warm-up owns
    // the lower half of the ids and the timed run the upper half
    val (warmIds, timedIds) = seen.sorted.splitAt(seen.size / 2)
    assert(warmIds.nonEmpty && warmIds.size == timedIds.size)
    assert(p.warmup.map(_.id).sorted == warmIds)
    assert(p.timed.map(_.id).sorted == timedIds,
      s"warm-up ended at stage ${warmIds.last}; timed: ${p.timed.map(_.id)}")
  }
}
