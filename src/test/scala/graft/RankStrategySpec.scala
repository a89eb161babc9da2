package graft

import org.scalatest.funsuite.AnyFunSuite

/** The order-statistics family (q_agg_percentile, q_agg_trimmed,
  * q_agg_mad) picks per-group window rank vs two-phase range-split
  * ranking from the source size (the `rank` [[Gate]]).
  * Force both paths on the same data and assert row-for-row equality —
  * the rank strategies may permute ties, but every consumer selects
  * VALUES, which are tie-permutation-invariant, so the results must
  * be identical. */
class RankStrategySpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def runWith(q: String, gate: String,
                      reuse: Boolean = true): Seq[String] = {
    val child = s.newSession()
    child.conf.set(Gate.Key, gate)
    child.conf.set("spark.sql.exchange.reuse", reuse.toString)
    SparkEntry.queries(q)(child, d).collect().map(_.toString).toSeq
  }

  for (q <- Seq("q_agg_percentile", "q_agg_trimmed", "q_agg_mad")) {
    test(s"$q: simple and range-split rank strategies agree") {
      val simple = runWith(q, "small")
      val split = runWith(q, "large")
      assert(simple.nonEmpty, s"$q produced rows")
      assert(simple == split,
        s"$q strategy divergence: simple=$simple split=$split")
    }
  }

  test("range-split rank survives independent re-planning of its " +
      "consumers (exchange reuse off — r12 regression class)") {
    // same hazard class as the anomaly overlap-split: the ranged
    // frame is consumed twice and its bounds are sampled with an
    // rdd-id-derived seed — without the checkpointed slicing,
    // reuse=false would let offsets and the rank join see different
    // pid assignments and silently mis-rank
    val simple = runWith("q_agg_mad", "small")
    val split = runWith("q_agg_mad", "large", reuse = false)
    assert(simple == split,
      s"rank strategy diverged without exchange reuse")
  }
}
