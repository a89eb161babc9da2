package graft

import org.scalatest.funsuite.AnyFunSuite

/** Task-retry determinism (VERDICT r12 #1). At 100 TB, task retries
  * and speculative duplicates are routine; any stage whose output
  * depends on WHICH attempt computed it turns a retry into silent
  * corruption — the hazard class the r12 slice-consistency bug proved
  * live (a re-planned repartitionByRange re-sampled different bounds;
  * a RETRIED one is the same hazard from the scheduler side). This
  * suite injects a first-attempt kill into EVERY shuffle task (map and
  * reduce side — see [[RetryInjector]]) of the representative hazard
  * carriers and asserts the output is identical to the no-failure run:
  *
  *  - q_ts_anomaly / q_agg_trimmed — checkpointed repartitionByRange
  *    slicings (the r12 bug sites), forced onto their large-corpus
  *    split paths via `spark.graft.gate=large`;
  *  - q_sample_hash — hash-gated sampling (a seed- or attempt-varying
  *    sample would shift the kept set);
  *  - q_llm_dedup_fuzzy — MinHash LSH banding (hash-stable by design;
  *    retried band tasks must regenerate identical buckets);
  *  - q_llm_keeper / q_graph_pagerank_conv — iterative loops
  *    (star-contraction CC + PageRank power iteration), forced onto
  *    the DISTRIBUTED strategy so every loop round's shuffles retry;
  *    checkpoint lineage truncation must still reproduce each round.
  *
  * Each run rebuilds the DataFrame fresh so no stage is satisfied from
  * a previous job's shuffle files — every stage re-executes under
  * injection (a re-collected Dataset would reuse materialized map
  * outputs and dodge the kills). */
class RetryDeterminismSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  /** Set confs for the duration of `body`, restoring prior values. */
  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, d).collect().map(_.toString).sorted.toSeq

  private def assertRetryDeterministic(q: String,
      conf: Seq[(String, String)] = Nil): Unit =
    withConf(conf: _*) {
      val base = rows(q)
      assert(base.nonEmpty, s"$q produced no rows — carrier is inert")
      val (got, kills) = RetryInjector.run(spark)(rows(q))
      info(s"$q: ${base.size} rows, $kills first attempts killed, " +
        s"${RetryInjector.missed.get()} kill requests missed")
      assert(kills > 0, s"$q: no task was ever retried — injection inert")
      assert(got == base,
        s"$q: output differs under task retries (retry nondeterminism)")
    }

  test("mechanism: kills land, reschedule, and the job completes") {
    import spark.implicits._
    def df = spark.range(0, 10000).toDF("x")
      .groupBy(($"x" % 7).as("k"))
      .agg(org.apache.spark.sql.functions.sum($"x").as("s"))
      .orderBy($"k")
    val base = df.collect().map(_.toString).toSeq
    val (got, kills) = RetryInjector.run(spark) {
      df.collect().map(_.toString).toSeq
    }
    assert(kills > 0)
    assert(got == base)
  }

  test("q_ts_anomaly (checkpointed overlap-split) survives task retries") {
    assertRetryDeterministic("q_ts_anomaly",
      Seq(Gate.Key -> "large"))
  }

  test("q_agg_trimmed (checkpointed rank slicing) survives task retries") {
    assertRetryDeterministic("q_agg_trimmed",
      Seq(Gate.Key -> "large"))
  }

  test("q_sample_hash survives task retries") {
    assertRetryDeterministic("q_sample_hash")
  }

  test("q_llm_dedup_fuzzy (MinHash LSH) survives task retries") {
    assertRetryDeterministic("q_llm_dedup_fuzzy")
  }

  test("q_llm_keeper (distributed CC + PageRank) survives task retries") {
    assertRetryDeterministic("q_llm_keeper",
      Seq(Gate.Key -> "large"))
  }

  test("q_graph_pagerank_conv (distributed iteration) survives task retries") {
    assertRetryDeterministic("q_graph_pagerank_conv",
      Seq(Gate.Key -> "large"))
  }

  test("q_join_skew_salted (forced salted branch) survives task retries") {
    // the salt must be a pure function of row identity (xxhash64) —
    // a rand()-based salt would route a RETRIED task's rows to
    // different reducers than its first attempt and double/lose rows
    assertRetryDeterministic("q_join_skew_salted",
      Seq(Gate.Key -> "large"))
  }

  test("s_tumble (stateful streaming) survives task retries") {
    // a retried micro-batch task must reload its state-store version
    // and reproduce the same window aggregates — the streaming face of
    // the same hazard class
    assertRetryDeterministic("s_tumble")
  }

  // ------------------------------------------ stage-resubmission (FetchFailed)

  /** One level above a task retry: a FetchFailed unregisters a map
    * output and the DAGScheduler RE-EXECUTES the map stage before
    * re-running the failed reduce partitions — the lost-executor
    * recovery path, routine at 1000 executors. Any map stage whose
    * re-execution yields different rows (re-sampled bounds, an
    * order-dependent fold off its rounding grid) silently corrupts
    * every downstream consumer right here. */
  private def assertStageResubmitDeterministic(q: String,
      conf: Seq[(String, String)] = Nil): Unit =
    withConf(conf: _*) {
      val base = rows(q)
      assert(base.nonEmpty, s"$q produced no rows — carrier is inert")
      val (got, fails) = RetryInjector.runFetchFail(spark)(rows(q))
      info(s"$q: ${base.size} rows, $fails fetch failures injected")
      assert(fails > 0, s"$q: no FetchFailed was ever raised — injection inert")
      assert(got == base,
        s"$q: output differs under stage resubmission")
    }

  test("q_ts_anomaly survives map-stage resubmission (FetchFailed)") {
    assertStageResubmitDeterministic("q_ts_anomaly",
      Seq(Gate.Key -> "large"))
  }

  test("q_agg_trimmed survives map-stage resubmission (FetchFailed)") {
    assertStageResubmitDeterministic("q_agg_trimmed",
      Seq(Gate.Key -> "large"))
  }

  test("q_llm_keeper (distributed) survives map-stage resubmission") {
    assertStageResubmitDeterministic("q_llm_keeper",
      Seq(Gate.Key -> "large"))
  }
}
