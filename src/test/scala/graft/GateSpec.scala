package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The one size gate's decision: each call site's exact boundary, the
  * forced values skipping the probe, the named error for a bad value,
  * and the one `gate=` line per decision. */
class GateSpec extends AnyFunSuite {
  private def pick(probe: Double, threshold: Double): Boolean =
    Gate.decide(None, "spec", probe, threshold)

  private def noProbe: Double = throw new AssertionError("probe evaluated")

  test("byte gates: below the minimum stays small, at and above go large") {
    for (min <- Seq(ops.Relational.ParRangeMinBytes,
                    ops.TimeSeries.AnomalySplitMinBytes)) {
      assert(!pick(min - 1.0, min), s"$min - 1")
      assert(pick(min.toDouble, min), s"at $min")
      assert(pick(min + 1.0, min), s"$min + 1")
    }
  }

  test("graph gate: local up to and at 2,000,000 edges, distributed above") {
    val min = ops.LlmPipe.GraphDistributedMinEdges
    assert(min == 2000001L && ops.LlmPipe.LocalGraphMaxEdges == 2000000L)
    def local(edges: Long) = !pick(edges.toDouble, min)
    assert(local(1999999L))
    assert(local(2000000L))
    assert(!local(2000001L))
  }

  test("triangle gate: id order up to and at 4·√m, degree order above") {
    import ops.LlmPipe.{triangleSkew, TriangleMinSkew}
    def byDegree(maxDegree: Long, edges: Double) =
      pick(triangleSkew(maxDegree, edges), TriangleMinSkew)
    // m = 16 puts the bound exactly on 16
    assert(!byDegree(15L, 16.0))
    assert(!byDegree(16L, 16.0))
    assert(byDegree(17L, 16.0))
    // the planted star of GraftApiSpec: 4·√41 ≈ 25.6
    assert(!byDegree(25L, 41.0))
    assert(byDegree(26L, 41.0))
    // an empty graph probes 0: id order
    assert(!pick(0.0, TriangleMinSkew))
  }

  test("salt gate: plain below a 0.30 hot-key share, salted at and above") {
    val share = ops.Lakehouse.MinHotShare
    assert(share == 0.30)
    assert(!pick(0.2999, share))
    assert(pick(0.30, share))
    assert(pick(0.3001, share))
  }

  test("forced small and large never evaluate the probe") {
    assert(!Gate.decide(Some("small"), "spec", noProbe, 1.0))
    assert(Gate.decide(Some("large"), "spec", noProbe, 1.0))
    val child = SparkTestBase.spark.newSession()
    child.conf.set(Gate.Key, "small")
    assert(!Gate.large(child, "spec", noProbe, 0.0))
    child.conf.set(Gate.Key, "large")
    assert(Gate.large(child, "spec", noProbe, Double.MaxValue))
  }

  test("an unknown spark.graft.gate value is a named error") {
    val child = SparkTestBase.spark.newSession()
    child.conf.set(Gate.Key, "medium")
    val e = intercept[Gate.BadValue](Gate.large(child, "spec", 1.0, 1.0))
    assert(e.getMessage.contains("spark.graft.gate") &&
      e.getMessage.contains("medium"))
  }

  /** The `graft.queries` lines written while `body` runs. */
  private def gateLines(body: => Unit): Seq[String] = {
    val lines = ArrayBuffer[String]()
    val app = new AbstractAppender("GateSpec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.synchronized { lines += e.getMessage.getFormattedMessage }
    }
    app.start()
    val logger = LogManager.getLogger("graft.queries").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    try body
    finally { logger.removeAppender(app); logger.setLevel(level); app.stop() }
    lines.synchronized(lines.filter(_.startsWith("gate=")).toList)
  }

  test("each decision writes one gate= line with its probe and path") {
    assert(gateLines(pick(5.0, 8.0)) ==
      Seq("gate=spec probe=5 threshold=8 path=small forced=false"))
    assert(gateLines(Gate.decide(Some("large"), "salt", noProbe, 0.3)) ==
      Seq("gate=salt probe=- threshold=0.3 path=large forced=true"))
    // a scored query: one construction, one decision on the probed bytes
    val s = SparkTestBase.spark
    val d = SparkTestBase.sfDir
    val bytes = Tables.sourceBytes(s, d, "events")
    assert(gateLines(SparkEntry.queries("q_ts_anomaly")(s, d)) ==
      Seq(s"gate=anomaly probe=$bytes threshold=${ops.TimeSeries.AnomalySplitMinBytes} " +
        "path=small forced=false"))
  }

  test("the order-statistics queries rank on one path and decide no gate") {
    val s = SparkTestBase.spark
    val d = SparkTestBase.sfDir
    for (q <- Seq("q_agg_percentile", "q_agg_trimmed", "q_agg_mad"))
      assert(gateLines(SparkEntry.queries(q)(s, d)).isEmpty, q)
  }
}
