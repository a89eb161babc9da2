package graft

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The dev tool's profile drains the listener bus between its warm-up
  * and timed runs, so no warm-up stage leaks into the timed tally and
  * no timed stage is missed; it names each stage after its SQL
  * operators and counts the final plan's exchanges the way the
  * executed plan it prints shows them. */
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
    assert(p.warmup.stages.map(_.id).sorted == warmIds)
    assert(p.timed.stages.map(_.id).sorted == timedIds,
      s"warm-up ended at stage ${warmIds.last}; timed: ${p.timed.stages.map(_.id)}")
    // and the same jobs: the timed tally counts its own, none of the warm-up's
    assert(p.timed.jobs > 0 && p.timed.jobs == p.warmup.jobs,
      s"jobs: warm-up ${p.warmup.jobs}, timed ${p.timed.jobs}")
  }

  test("profile: the jobs a query runs while it is built count apart") {
    // both read the embeddings once (a parquet read infers its schema
    // in a job); q_llm_sim_ann also trains its codebook at
    // construction: one job for the grid seed and one per Lloyd round
    def timed(q: String) = Dev.profile(s, SparkTestBase.sfDir, q).timed
    val exact = timed("q_llm_sim_search")
    val ann = timed("q_llm_sim_ann")
    assert(ann.constructJobs - exact.constructJobs == ops.LlmExt.AnnLloydIters + 1,
      s"construct jobs: q_llm_sim_ann ${ann.constructJobs}, " +
        s"q_llm_sim_search ${exact.constructJobs}")
    assert(ann.jobs > ann.constructJobs && exact.jobs > exact.constructJobs)
  }

  test("profile: stages carry operator names, exchange counts match explain's executed plan") {
    // a query whose final plan holds all three kinds at sf0.001
    val q = "q_llm_repetition"
    val p = Dev.profile(s, SparkTestBase.sfDir, q)
    val names = p.timed.stages.map(_.name)
    assert(!names.exists(_.contains("CompletableFuture")), names)
    assert(names.exists(_.contains("WholeStageCodegen")), names)
    // the executed plan's text, as profile prints it, counted
    // independently of the plan walk: exchange nodes of the final
    // adaptive plan section only
    val text = p.plan.toString
    val finalPlan = text.split("== Initial Plan ==").head
    def nodes(op: String) = finalPlan.linesIterator
      .count(l => l.replaceFirst("^[ :|+-]*", "").startsWith(op + " "))
    val fromText = Dev.Exchanges(nodes("Exchange"), nodes("BroadcastExchange"),
      nodes("ReusedExchange"))
    assert(p.exchanges == fromText, text)
    assert(p.exchanges.shuffle > 0 && p.exchanges.broadcast > 0 &&
      p.exchanges.reused > 0, p.exchanges)
  }
}
