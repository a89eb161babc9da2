package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** The iterative graph family (q_llm_dedup_cc, q_graph_pagerank,
  * q_graph_pagerank_conv, q_llm_keeper) picks its physical strategy
  * from the exact staged edge count: driver union-find/power-iteration
  * at or under the `graph` [[Gate]]'s edge ceiling, the distributed
  * star-contraction / checkpointed loops above it. This spec forces
  * BOTH paths on the same session-isolated data and asserts
  * row-for-row equality — the guarantee that the strategy pick is a
  * pure physical decision with zero semantic surface. */
class LocalGraphStrategySpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  /** Run `q` under a child session pinned to one strategy. newSession
    * shares the context but owns its SQLConf, so forcing a path here
    * can't race other suites on the shared session. */
  private def runWith(q: String, gate: String): Seq[String] = {
    val child: SparkSession = s.newSession()
    child.conf.set(Gate.Key, gate)
    SparkEntry.queries(q)(child, d)
      .collect().map(_.toString).toSeq
  }

  test("r6dMonitored: off-boundary values floor; boundary values trip " +
    "the typed fallback exception, not a bare failure") {
    // ordinary rank magnitudes, comfortably off-grid
    assert(ops.LlmPipe.r6dMonitored(0.0123453) == 0.012345)
    assert(ops.LlmPipe.r6dMonitored(1.0 / 37.0) ==
      math.floor((1.0 / 37.0) * 1e6 + 0.5) / 1e6)
    // structured data CAN land exactly on a bucket edge (advice r12:
    // a 1-regular class graph with n | 2e6) — that must raise the
    // typed R6BoundaryTrip the strategy dispatch converts into a
    // distributed-path fallback, not a generic require failure
    intercept[ops.LlmPipe.R6BoundaryTrip] {
      ops.LlmPipe.r6dMonitored(0.5e-6) // y = x*1e6 + 0.5 = 1.0 exactly
    }
    intercept[ops.LlmPipe.R6BoundaryTrip] {
      ops.LlmPipe.r6dMonitored(0.0000315) // y = 32.0 exactly
    }
  }

  for (q <- Seq("q_llm_dedup_cc", "q_graph_pagerank",
                "q_graph_pagerank_conv", "q_llm_keeper")) {
    test(s"$q: local and distributed strategies agree row-for-row") {
      val local = runWith(q, "small")
      val dist = runWith(q, "large")
      assert(local.nonEmpty, s"$q produced rows")
      assert(local == dist,
        s"$q strategy divergence: local=${local.take(3)}… " +
          s"dist=${dist.take(3)}…")
    }
  }
}
