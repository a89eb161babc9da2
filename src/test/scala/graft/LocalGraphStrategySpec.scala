package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The iterative graph family (q_llm_dedup_cc, q_graph_pagerank,
  * q_graph_pagerank_conv, q_llm_keeper) picks its physical strategy
  * from one bounded collect of the class edges: driver
  * union-find/power-iteration at or under the `graph` [[Gate]]'s edge
  * ceiling, the distributed star-contraction / checkpointed loops
  * above it. Only the distributed side stages its pairs. This spec
  * forces BOTH paths on the same session-isolated data and asserts
  * row-for-row equality — the guarantee that the strategy pick is a
  * pure physical decision with zero semantic surface — and pins what
  * the collect feeds the local solve and the gate. */
class LocalGraphStrategySpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  /** A child session pinned to one strategy. newSession shares the
    * context but owns its SQLConf, so forcing a path here can't race
    * other suites on the shared session. */
  private def pinned(gate: String): SparkSession = {
    val child = s.newSession()
    child.conf.set(Gate.Key, gate)
    child
  }

  /** Persisted RDDs created since `before` that are not local
    * checkpoints: the [[ops.LlmPipe.stagePairs]] stagings
    * ([[ops.Staged.sweep]] owns the checkpoints). */
  private def stagedSince(before: collection.Set[Int]): Iterable[Int] =
    s.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !before(id) && !rdd.toDebugString.linesIterator
          .next().contains(" at localCheckpoint at ") => id
    }

  /** Run `q` pinned to one strategy, and check that it released every
    * staging it made once its result is collected. */
  private def runWith(q: String, gate: String): Seq[String] = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    val rows = SparkEntry.queries(q)(pinned(gate), d)
      .collect().map(_.toString).toSeq
    val leaked = stagedSince(before)
    assert(leaked.isEmpty, s"$q ($gate) left staged RDDs $leaked persisted")
    rows
  }

  private def simhashPairRows: Seq[String] =
    ops.LlmExt.dedupSimhash(s, d).select("da", "db")
      .collect().map(_.toString).sorted.toSeq

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

  test("graphQuery: an r6 trip stages and releases only the fallback pairs") {
    val before = s.sparkContext.getPersistentRDDs.keySet
    var tripped = false
    val got = ops.LlmPipe.graphQuery(pinned("small"), d, "spec",
        weighted = true)(
      { (_, _) => tripped = true; throw new ops.LlmPipe.R6BoundaryTrip("x") })(
      { (_, pairs) =>
        assert(stagedSince(before).size == 1, "one staging: the doc pairs")
        pairs.collect().map(_.toString).sorted.toSeq
      })
    assert(tripped, "the local solve ran first")
    assert(got.nonEmpty && got == simhashPairRows)
    assert(stagedSince(before).isEmpty)
  }

  test("graphQuery: the local solve runs with no staging persisted") {
    for (weighted <- Seq(false, true)) {
      val before = s.sparkContext.getPersistentRDDs.keySet
      val edges = ops.LlmPipe.graphQuery(pinned("small"), d, "spec",
          weighted)(
        { (_, g) =>
          assert(stagedSince(before).isEmpty,
            s"weighted=$weighted: a staging is persisted during the solve")
          g.ea.length
        })((_, _) => fail("the local path was forced"))
      assert(edges > 0)
    }
  }

  test("the weighted local graph's classes match the frame-side " +
    "participating-class query") {
    val g = ops.LlmPipe.graphQuery(pinned("small"), d, "spec",
      weighted = true)((_, g) => g)((_, _) => fail("the local path was forced"))
    // the participating set as a frame: classes with m > 1, plus the
    // classes an edge links, one row per rep
    val (classes, classEdges) = ops.LlmExt.simhashClassGraph(s, d)
    val linked = classEdges
      .select(explode(array(col("ra"), col("rb"))).as("rep")).distinct()
    val want = classes.select(col("rep"), col("m")).filter(col("m") > 1)
      .unionByName(classes.select(col("rep"), col("m"))
        .join(linked, Seq("rep"), "left_semi"))
      .dropDuplicates("rep")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // both kinds of member count occur, so the driver-side union is
    // exercised on each side
    assert(want.exists(_._2 == 1L) && want.exists(_._2 > 1L), want)
    assert(g.reps.toSeq == want.map(_._1))
    assert(g.m.toSeq == want.map(_._2))
  }

  test("graphQuery releases its stagings when the distributed body throws") {
    val before = s.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      ops.LlmPipe.graphQuery(pinned("large"), d, "spec", weighted = true)(
          (_, _) => ()) { (_, pairs) =>
        pairs.count()
        throw new IllegalStateException("x")
      }
    }
    assert(stagedSince(before).isEmpty)
  }

  private lazy val classEdgeCount =
    ops.LlmExt.simhashClassGraph(s, d)._2.count()

  for (q <- Seq("q_llm_dedup_cc", "q_graph_pagerank",
                "q_graph_pagerank_conv", "q_llm_keeper")) {
    test(s"$q: its record holds the graph gate's probed small decision") {
      val gates = Bench.materialize(s, d, q)(Bench.execute).gates
      assert(gates.map(g => (g.name, g.path, g.probe)) ==
        Seq(("graph", "small", Some(classEdgeCount.toDouble))), gates)
    }

    // runWith also checks that each side released its stagings
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
