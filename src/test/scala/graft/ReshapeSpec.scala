package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the round-5 reshaping / sampling / sessionization
  * operators (ops/Reshape.scala) and the LLM pipeline additions
  * (ops/LlmPipe.scala) — shape and invariant checks the DuckDB gate
  * can't express. */
class ReshapeSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  import s.implicits._

  test("pivot cells sum back to the plain groupBy totals") {
    val q = SparkEntry.queries("q_pivot")(s, SparkTestBase.sfDir)
      .withColumn("row_total", $"n_f" + $"n_o" + $"n_p")
    val byPrio = Tables.orders(s, SparkTestBase.sfDir)
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    val joined = q.join(byPrio, "o_orderpriority")
      .filter($"row_total" =!= $"n")
    assert(joined.isEmpty, "pivot must partition each priority's count")
  }

  test("unpivot emits exactly two metric rows per part, values intact") {
    val part = Tables.part(s, SparkTestBase.sfDir)
    val q = SparkEntry.queries("q_unpivot")(s, SparkTestBase.sfDir)
    assert(q.count() == 2 * part.count())
    // round-trip one metric back wide and compare to the source
    val back = q.filter($"metric" === "p_retailprice")
      .select($"p_partkey", $"val".as("p_retailprice"))
    val diff = back.except(part.select($"p_partkey", $"p_retailprice"))
    assert(diff.isEmpty, "unpivot must not alter values")
  }

  test("exact percentiles are ordered and bracket the median") {
    val r = SparkEntry.queries("q_agg_percentile")(s, SparkTestBase.sfDir)
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (p25, p50, p75) = (row.getAs[Double]("p25"),
        row.getAs[Double]("p50"), row.getAs[Double]("p75"))
      assert(p25 <= p50 && p50 <= p75, s"unordered percentiles: $row")
    }
  }

  test("order statistics rank on one path: no range exchange, fixed exchange count") {
    // shuffle + broadcast exchanges of the final adaptive plan, reused
    // ones excluded: MAD's one fact exchange (its second rank window
    // and both broadcast builds ride reused exchanges) and each
    // query's repartition(1) + sortWithinPartitions tail
    val expected = Seq("q_agg_percentile" -> 4, "q_agg_trimmed" -> 4,
      "q_agg_mad" -> 5)
    object H extends AdaptiveSparkPlanHelper
    for ((q, n) <- expected) {
      val df = SparkEntry.queries(q)(s, SparkTestBase.sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val shuffles = H.collectWithSubqueries(plan) {
        case e: ShuffleExchangeLike => e }
      val broadcasts = H.collectWithSubqueries(plan) {
        case e: BroadcastExchangeLike => e }
      assert(!shuffles.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
        s"$q plans a range exchange:\n$plan")
      assert(shuffles.size + broadcasts.size == n,
        s"$q: ${shuffles.size} shuffle + ${broadcasts.size} broadcast " +
          s"exchanges, expected $n:\n$plan")
    }
  }

  test("hash sample keeps a stable ~5% slice, reproducibly") {
    val orders = Tables.orders(s, SparkTestBase.sfDir)
    val q = SparkEntry.queries("q_sample_hash")(s, SparkTestBase.sfDir)
    val sampled = q.agg(sum($"n_sampled")).first().getLong(0).toDouble
    val total = orders.count().toDouble
    val rate = sampled / total
    assert(rate > 0.02 && rate < 0.10, s"sample rate $rate outside [2%,10%]")
    // determinism: a second run picks the identical rows
    val again = SparkEntry.queries("q_sample_hash")(s, SparkTestBase.sfDir)
    assert(q.except(again).isEmpty && again.except(q).isEmpty)
  }

  test("sessionize: session count and event conservation per user") {
    val q = SparkEntry.queries("q_win_sessionize")(s, SparkTestBase.sfDir)
    val events = Tables.events(s, SparkTestBase.sfDir)
    // every event lands in exactly one session
    assert(q.agg(sum($"n_events")).first().getLong(0) == events.count())
    // sessions are disjoint half-open intervals per user: within a
    // user, the next session starts > 30 min after the previous end
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"session_id")
    val overlaps = q
      .withColumn("prev_end", lag($"end_us", 1).over(w))
      .filter($"prev_end".isNotNull &&
        $"start_us" - $"prev_end" < 30L * 60 * 1000 * 1000)
    assert(overlaps.isEmpty, "session gap invariant violated")
  }

  test("agg_stats: corr bounded, variance non-negative") {
    val r = SparkEntry.queries("q_agg_stats")(s, SparkTestBase.sfDir).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(math.abs(row.getAs[Double]("corr_qty_price")) <= 1.0)
      assert(row.getAs[Double]("sd_discount") >= 0.0)
      assert(row.getAs[Double]("var_tax") >= 0.0)
    }
  }

  test("dedup_cc: components are consistent with the simhash edges") {
    val cc = SparkEntry.queries("q_llm_dedup_cc")(s, SparkTestBase.sfDir)
    val edges = SparkEntry.queries("q_llm_dedup_simhash")(s, SparkTestBase.sfDir)
      .select($"da", $"db")
    // every edge's endpoints share a component
    val lbl = cc.select($"doc_id", $"cluster")
    val split = edges
      .join(lbl.withColumnRenamed("doc_id", "da")
        .withColumnRenamed("cluster", "ca"), "da")
      .join(lbl.withColumnRenamed("doc_id", "db")
        .withColumnRenamed("cluster", "cb"), "db")
      .filter($"ca" =!= $"cb")
    assert(split.isEmpty, "an edge crosses two components")
    // the component id is the min doc_id of its members
    val badRoot = cc.groupBy($"cluster")
      .agg(min($"doc_id").as("lo"), count(lit(1)).as("n"))
      .filter($"cluster" =!= $"lo" || $"n" < 2)
    assert(badRoot.isEmpty,
      "component label must be its min member; singletons have no edges")
    // cluster_size agrees with the actual member count
    val badSize = cc.groupBy($"cluster", $"cluster_size")
      .agg(count(lit(1)).as("n")).filter($"cluster_size" =!= $"n")
    assert(badSize.isEmpty)
  }

  test("property: star contraction equals union-find on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      n <- Gen.chooseNum(2, 28)
      m <- Gen.chooseNum(1, 40)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1)
        b <- Gen.chooseNum(0, n - 1) if a != b
      } yield (a.toLong, b.toLong))
      if edges.nonEmpty
    } yield edges
    val prop = Prop.forAll(gen) { edges =>
      // reference: classic union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min id per component is the expected label
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = {
        val byRoot = nodes.groupBy(find)
        nodes.map(v => v -> byRoot(find(v)).min).toMap
      }
      val pairs = edges.toDF("da", "db")
      val got = graft.ops.LlmPipe.withStaged(pairs)(st =>
          graft.ops.LlmPipe.dedupCcLoop(st.df).collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12),
      prop)
    assert(res.passed, res.status.toString)
  }

  test("pii: every doc redacted, counts match planted addresses") {
    val q = SparkEntry.queries("q_llm_pii")(s, SparkTestBase.sfDir)
    val bad = q.filter(
      ($"n_emails" =!= when($"doc_id" % 3 === 0, 2L).otherwise(1L)) ||
        $"n_phones" =!= 1L || !$"tail".contains("[PHONE]"))
    assert(bad.isEmpty, "planted PII must be found and redacted")
  }

  test("centroid: 64 dims per label, components within [-1, 1]") {
    val q = SparkEntry.queries("q_llm_centroid")(s, SparkTestBase.sfDir)
    val dims = q.groupBy($"label").agg(count(lit(1)).as("nd"),
      min($"c").as("lo"), max($"c").as("hi"))
    val bad = dims.filter($"nd" =!= 64 || $"lo" < -1.0 || $"hi" > 1.0)
    assert(bad.isEmpty)
    // centroid count column matches the table's per-label cardinality
    val n = Tables.embeddings(s, SparkTestBase.sfDir)
      .groupBy($"label").agg(count(lit(1)).as("n_table"))
    val mismatch = q.select($"label", $"n_vecs").distinct()
      .join(n, "label").filter($"n_vecs" =!= $"n_table")
    assert(mismatch.isEmpty)
  }
}
