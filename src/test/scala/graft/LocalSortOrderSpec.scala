package graft

import org.scalatest.funsuite.AnyFunSuite

/** The r14 optimization replaced trailing global orderBys with
  * range-partition-then-sortWithinPartitions in the queries below. The
  * rewrite's premise — partition order + local sort = the identical
  * global order — holds ONLY while no operator between the range
  * exchange and the final sort re-shuffles (a checkpoint surfacing as
  * UnknownPartitioning, or an un-hinted join planning sort-merge,
  * silently breaks it: Catalyst inserts a hash exchange and the local
  * sort orders hash partitions instead of the output — caught live on
  * q_llm_boilerplate/q_llm_dsir_weight during the rewrite, which is
  * why those two kept their orderBy). This spec pins the premise
  * end-to-end: each converted query's OUTPUT, concatenated in
  * partition order, must be globally non-decreasing on its leading
  * sort keys. Runs on the shared multi-core session so the final
  * stage really has >1 partition — the hazard is invisible at one. */
class LocalSortOrderSpec extends AnyFunSuite {
  // def, not lazy val: if an earlier test (or an external shutdown)
  // stopped the shared context, each test picks up the rebuilt session
  // instead of dying on the stale one
  private def s = SparkTestBase.spark
  private val sf = SparkTestBase.sfDir

  // query -> leading ORDER BY columns (the prefix is enough: cross-
  // partition disorder shows up in the leading key)
  private val converted: Seq[(String, Seq[String])] = Seq(
    "q_fn_url" -> Seq("o_orderkey"),
    "q_fn_date" -> Seq("o_orderkey"),
    "q_fn_json" -> Seq("event_id"),
    "q_fn_math" -> Seq("l_orderkey", "l_linenumber"),
    "q_fn_bitwise" -> Seq("l_orderkey", "l_linenumber", "k_xor"),
    "q_fn_map" -> Seq("o_orderkey"),
    "q_fn_array" -> Seq("o_orderkey", "pos"),
    "q_win_rank" -> Seq("c_mktsegment", "c_nationkey", "rn"),
    "q_win_analytic" -> Seq("o_custkey", "o_orderkey"),
    "q_win_frame" -> Seq("l_suppkey", "l_orderkey", "l_linenumber"),
    "q_win_sessionize" -> Seq("user_id", "session_id"),
    "q_ts_wma" -> Seq("event_type", "tus"),
    "q_llm_tfidf" -> Seq("doc_id", "rank"),
    "q_llm_quality" -> Seq("doc_id"),
    "q_llm_pii" -> Seq("doc_id"),
    "q_llm_entropy" -> Seq("doc_id"),
    "q_llm_tokenize" -> Seq("doc_id"),
    "q_llm_fingerprint" -> Seq("doc_id"),
    "q_llm_perplexity" -> Seq("doc_id"),
    "q_llm_decode" -> Seq("doc_id"),
    "q_llm_thumb" -> Seq("doc_id"),
    "q_llm_frames" -> Seq("doc_id"),
    "q_llm_multimodal" -> Seq("doc_id"),
    "q_lake_scd2" -> Seq("user_id", "version"),
    "q_llm_sim_ann" -> Seq("query_id", "rank"),
  )

  // null = nulls-first (Spark's ascending default); mixed-width
  // numerics compare by value so a future Int-vs-Long key pair can't
  // crash the harness instead of reporting an ordering failure
  private def cmp(x: Any, y: Any): Int = (x, y) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (i: Double, j: Double) => java.lang.Double.compare(i, j)
    case (i: String, j: String) => i.compareTo(j)
    case (i: java.lang.Number, j: java.lang.Number) =>
      new java.math.BigDecimal(i.toString)
        .compareTo(new java.math.BigDecimal(j.toString))
    case (i: Comparable[_], j) if i.getClass == j.getClass =>
      i.asInstanceOf[Comparable[Any]].compareTo(j)
    case other => sys.error(s"unsupported sort-key type: $other")
  }

  private def leq(a: Seq[Any], b: Seq[Any]): Boolean = {
    val it = a.zip(b).iterator
    while (it.hasNext) {
      val (x, y) = it.next()
      val c = cmp(x, y)
      if (c < 0) return true
      if (c > 0) return false
    }
    true
  }

  converted.foreach { case (name, keys) =>
    test(s"$name output is globally ordered on ${keys.mkString(", ")}") {
      val sp = s
      // force the converted (parRange + local sort) path for queries
      // that size-gate it (q_win_rank falls back to a global orderBy
      // below ParRangeMinBytes) — this spec exists to pin exactly the
      // converted path's ordering premise
      sp.conf.set(Gate.Key, "large")
      try {
      val df = SparkEntry.queries(name)(sp, sf)
      // collect() concatenates partitions in partition order — exactly
      // what Verify's coalesce(1) parquet dump serializes
      val rows = df.select(keys.head, keys.tail: _*).collect()
      assert(df.rdd.getNumPartitions > 1,
        s"$name collapsed to one partition — the ordering premise " +
          "isn't being exercised")
      val bad = rows.sliding(2).zipWithIndex.find { case (w, i) =>
        w.length == 2 && {
          try !leq(w(0).toSeq, w(1).toSeq)
          catch { case e: RuntimeException =>
            fail(s"$name row $i: ${e.getMessage}") }
        }
      }
      bad.foreach { case (w, i) =>
        fail(s"$name rows out of global order at $i: ${w(0)} then ${w(1)}")
      }
      } finally sp.conf.unset(Gate.Key)
    }
  }

  test("q_win_rank size-gated paths produce identical rows") {
    // below the gate the query keeps the classic global orderBy; above
    // it (or forced) it uses parRange + local sort. Same rows, same
    // order, regardless of which path the source size selects.
    val sp = s
    def run(side: String): Seq[String] = {
      sp.conf.set(Gate.Key, side)
      try SparkEntry.queries("q_win_rank")(sp, sf)
        .collect().map(_.toString).toSeq
      finally sp.conf.unset(Gate.Key)
    }
    val converted = run("large")
    val classic = run("small")
    assert(converted.nonEmpty && converted == classic)
  }
}
