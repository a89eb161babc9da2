package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stats-driven plain/salted join pick (verdict r10 #5): the
  * SCALE.md round-10 salted-join table records the crossover (~30%
  * hot-key share — salting wins 1.40-1.71× above it, loses below),
  * and q_join_skew_salted now ROUTES on a sampled key-histogram probe
  * instead of always salting. This suite pins (a) both branches
  * output-equal on the scored query, (b) the probe's estimates on
  * planted-skew vs uniform keys, and (c) the route each estimate
  * selects. */
class SaltRouteSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir
  import s.implicits._

  private def runForced(gate: String): Seq[String] = {
    s.conf.set(Gate.Key, gate)
    try SparkEntry.queries("q_join_skew_salted")(s, d)
      .collect().map(_.toString).toSeq
    finally s.conf.unset(Gate.Key)
  }

  test("forced plain and forced salted branches are output-equal") {
    val plain = runForced("small")
    val salted = runForced("large")
    assert(plain.nonEmpty && plain == salted,
      "salting changed join results — the rewrite is not semantics-free")
  }

  test("probe resolves planted skew vs uniform keys across the crossover") {
    // planted: 50% of rows on one key, rest spread over 1000 keys
    val skewed = (1L to 20000L)
      .map(i => if (i % 2 == 0) 1L else i % 1000L + 2L)
      .toDF("l_suppkey")
    val hotShare = ops.Lakehouse.hotKeyShare(skewed, "l_suppkey", 0.5)
    assert(hotShare > 0.40 && hotShare < 0.60,
      s"planted 50% hot key estimated at $hotShare")
    // uniform TPC-H suppkeys: no key comes near the 0.30 crossover
    val uniShare = ops.Lakehouse.hotKeyShare(
      Tables.lineitem(s, d).select("l_suppkey"), "l_suppkey")
    assert(uniShare < 0.30, s"uniform keys estimated at $uniShare")
  }

  test("route: salted at planted skew, plain on the uniform testdata") {
    // the scored query's fact side is uniform -> the probe must route
    // PLAIN (no force conf set)
    val li = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
    assert(!ops.Lakehouse.saltRoute(s, li),
      "uniform keys routed to the salted branch")
    // planted-skew frame with the same column contract -> salted
    val hot = li.withColumn("l_suppkey",
      when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")),
        lit(2L)) === 0L, lit(1L)).otherwise(col("l_suppkey")))
    assert(ops.Lakehouse.saltRoute(s, hot),
      "50% planted hot key routed to the plain branch")
    // the exact 0.30 crossover is pinned by GateSpec
  }
}
