package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate: the scale-killer operators must never
  * appear in a scored batch plan. A CartesianProduct or a
  * BroadcastNestedLoopJoin over fact-sized inputs is the difference
  * between "works at sf0.1" and "melts at 100 TB" — and both can
  * sneak in silently when a join predicate stops being an equi-key
  * (e.g. a refactor drops the equality half of a theta join). The
  * correctness oracle cannot catch that (the answer stays right), so
  * the plan itself is the tested surface here.
  *
  * Streaming queries are excluded — building their frame RUNS the
  * stream to completion; their shapes are pinned by StreamingSpec.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val sf = SparkTestBase.sfDir

  private val banned = Seq("CartesianProduct", "BroadcastNestedLoopJoin")

  /** q_llm_sim_search is the DELIBERATE brute-force-exact baseline:
    * a bounded ≤50-row query set broadcast against one corpus scan —
    * the nested-loop there multiplies a constant, not a corpus, and
    * the declared scale path is q_llm_sim_ann's IVF cells.
    * q_llm_tfidf: the corpus-size scalar N rides in as a broadcast
    * 1-ROW aggregate frame (the alternative — a partition-less
    * window — serializes the whole frame onto one task); the nested
    * loop multiplies by exactly one row.
    * q_graph_pagerank: same 1-row-scalar pattern as tfidf — the node
    * count n broadcasts as a 1-row aggregate into the contribution
    * projection.
    * q_agg_sketch_merge: the exact total-distinct count attaches to
    * the 1-row merged-sketch aggregate the same way.
    * q_llm_keeper: composes pagerankOver, inheriting its 1-row
    * node-count broadcast.
    * q_llm_perplexity: the corpus total + UNK tail mass ride in as a
    * broadcast 1-ROW stats frame (replacing the round-6 partition-less
    * window over the vocab frame); the nested loop multiplies by
    * exactly one row.
    * q_llm_boilerplate / q_llm_colloc: the same 1-row-scalar pattern —
    * corpus doc count (boilerplate's df cut) and corpus token total
    * (colloc's PMI normalizer) each ride in as a broadcast 1-row
    * aggregate.
    * q_llm_dsir_weight: the two LM totals (raw + target gram counts)
    * ride one broadcast 1-row frame onto the ≤1024-row bucket table;
    * the nested loop multiplies by exactly one row.
    * Everything else must justify itself here before joining. */
  private val allowlisted =
    Set("q_llm_sim_search", "q_llm_tfidf",
      "q_graph_pagerank", "q_agg_sketch_merge", "q_llm_keeper",
      "q_llm_perplexity", "q_llm_boilerplate", "q_llm_colloc",
      "q_llm_dsir_weight")

  for (name <- SparkEntry.queries.keys.toSeq.sorted
       if name.startsWith("q_") && !allowlisted(name)) {
    test(s"$name plans without cartesian/nested-loop joins") {
      val plan = SparkEntry.queries(name)(s, sf)
        .queryExecution.executedPlan.toString
      for (b <- banned)
        assert(!plan.contains(b), s"$b in $name plan:\n$plan")
    }
  }

  /** Pushdown/pruning regression gate (round 7): the "unpruned scan"
    * scale-killer — a scan reading all columns for a 3-column
    * projection, or filtering after the read instead of inside it —
    * was previously only prose; these assertions make it executable.
    * The strings below are the FileSourceScan's own rendering of what
    * reached the parquet reader: if a refactor reorders projections or
    * wraps a filter column in an expression, the filter silently stops
    * pushing and these fail with the full plan printed. */
  // formatted mode: the plain executedPlan.toString truncates long
  // PushedFilters/ReadSchema lists with "...", which would hide the
  // very atoms under test
  private def scanPlan(name: String): String =
    SparkEntry.queries(name)(s, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q_scan_parquet pushes its filter and prunes to 3 columns") {
    val p = scanPlan("q_scan_parquet")
    assert(p.contains("LessThan(l_quantity,10.0)"), s"filter not pushed:\n$p")
    assert(p.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"scan not pruned to the projection:\n$p")
  }

  test("q_filter_pred pushes every predicate atom and prunes the scan") {
    val p = scanPlan("q_filter_pred")
    for (atom <- Seq(
      "Or(EqualTo(l_returnflag,R),EqualTo(l_linestatus,F))",
      "GreaterThanOrEqual(l_quantity,5.0)",
      "LessThanOrEqual(l_quantity,15.0)",
      "In(l_returnflag, [A,R])",
      "IsNotNull(l_shipdate)",
      "StringContains(l_returnflag,R)"))
      assert(p.contains(atom), s"predicate '$atom' not pushed:\n$p")
    // 5 projected + 1 filter-only column, nothing else
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string,l_linestatus:string," +
      "l_shipdate:timestamp_ntz>"),
      s"scan not pruned to projection+filter columns:\n$p")
  }

  /** q_llm_sim_search's row_number ≤ 10 shape must prune map-side
    * (round 8, verdict #4): at 100× with few queries, a window with no
    * partial limit serializes |corpus| rows per query onto one task.
    * The planned partial `WindowGroupLimit` below the exchange, not
    * eligibility, is the tested surface. */
  test("q_llm_sim_search top-k prunes to 10 rows per query below the exchange") {
    TopKPlan.assertShuffleBounded(SparkEntry.queries("q_llm_sim_search")(s, sf), 10)
  }

  /** q_llm_keeper's hub pick is `row_number === 1` per cluster (round
    * 10, verdict #1). Cluster membership is exactly what explodes at
    * 100 TB — a boilerplate near-dup cluster is millions of docs — and
    * a window with no partial limit sorts every member on ONE task.
    * Spark infers the limit from `rn = 1` as from `rn <= 1`. */
  test("q_llm_keeper hub pick prunes to 1 row per cluster below the exchange") {
    TopKPlan.assertShuffleBounded(SparkEntry.queries("q_llm_keeper")(s, sf), 1)
  }

  /** The other top-k windows run through `Relational.topKOver` and
    * keep its map-side partial limit below the exchange. q_llm_tfidf
    * and q_llm_sim_ann window over an explicit range exchange on their
    * group key, so their partial limit runs after it; the IVF top-k is
    * checked on the facade core `ivfTopKOver`, which has no such
    * exchange. */
  test("topKOver queries prune to k rows per group below the exchange") {
    val q = SparkEntry.queries
    for ((name, df, k) <- Seq(
        ("q_llm_text_stats", q("q_llm_text_stats")(s, sf), 10),
        ("q_agg_mode", q("q_agg_mode")(s, sf), 1),
        ("ivfTopKOver", ops.LlmExt.ivfTopKOver(ops.LlmExt.simAnnFrame(s, sf),
          5, ops.LlmExt.AnnNProbe), 5)))
      withClue(s"$name: ")(TopKPlan.assertShuffleBounded(df, k))
  }

  /** q_llm_sim_ann and q_llm_kmeans train their codebooks at
    * construction (`LlmExt.trainCodebook`) and read them as literals,
    * so no codebook is crossed with the corpus or broadcast: the
    * executed IVF plan keeps only the probe broadcast and the range
    * exchange of its top-k, and k-means broadcasts nothing. */
  test("codebook queries execute without a codebook join or broadcast") {
    def executed(q: String) = Bench.materialize(s, sf, q)(Bench.execute)._2._2
    val ann = executed("q_llm_sim_ann")
    assert(!ann.toString.contains("BroadcastNestedLoopJoin"), ann)
    assert(Dev.Exchanges.of(ann) == Dev.Exchanges(1, 1, 0), ann)
    val kmeans = executed("q_llm_kmeans")
    assert(Dev.Exchanges.of(kmeans).broadcast == 0, kmeans)
  }

  /** Unordered-window gate (round 10, verdict #1): a
    * `count/sum over (Window.partitionBy(key))` with no ORDER BY
    * cannot partially aggregate — every carrier row of a partition
    * key lands on ONE task. On a bounded key (rows-per-doc, a ≤50-row
    * rerank set) that is fine; on a Zipfian unbounded key (a term, a
    * line, a 20-token span hash) it is the single-reducer scale
    * killer that made tfidf/boilerplate/dedup_substr `weak` in round
    * 9. Those three now use map-side-combined groupBy+join-back; this
    * gate keeps the shape from coming back anywhere. Every unordered
    * Window node in a scored batch plan must justify its key's
    * boundedness below. */
  private val unorderedWindowAllowed: Map[String, String] = Map(
    // per-document size window: rows per key = shingles of ONE doc
    "q_llm_dedup_ngram" -> "partition doc_id — rows per key bounded by doc length",
    // partition-less grand-total windows over POST-AGGREGATION frames
    // whose row count is the group-key cardinality, not the corpus:
    // 21 histogram buckets / |langs| / |funnel stages|
    "q_agg_histogram" -> "partition-less total over the ≤21-bucket aggregate",
    "q_llm_mixture" -> "partition-less total over the |langs|-row aggregate",
    "q_win_funnel" -> "partition-less total over the |stages|-row aggregate")

  for (name <- SparkEntry.queries.keys.toSeq.sorted if name.startsWith("q_")) {
    test(s"$name has no unordered window on an unjustified key") {
      val plan = SparkEntry.queries(name)(s, sf)
        .queryExecution.executedPlan.toString
      val unordered = plan.linesIterator
        .filter(_.trim.matches("^[+\\-:*\\s]*Window .*"))
        .filterNot(l => l.contains(" ASC") || l.contains(" DESC"))
        .toList
      if (unordered.nonEmpty)
        assert(unorderedWindowAllowed.contains(name),
          s"unordered Window in $name (justify boundedness or rewrite " +
            s"as groupBy+join):\n${unordered.mkString("\n")}")
      else
        assert(!unorderedWindowAllowed.contains(name),
          s"$name is allowlisted for an unordered window its plan no " +
            "longer has — remove the stale entry so the gate stays exact")
    }
  }

  test("q_proj_rename prunes the orders scan to its 3 source columns") {
    val p = scanPlan("q_proj_rename")
    assert(p.contains(
      "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"),
      s"scan not pruned to the projection:\n$p")
  }
}
