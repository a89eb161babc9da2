package graft

import org.scalatest.BeforeAndAfterAll
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
  *  - q_ts_anomaly — the checkpointed repartitionByRange slicing (the
  *    r12 bug site), forced onto its large-corpus split path via
  *    `spark.graft.gate=large`;
  *  - q_agg_trimmed — the per-group window rank (row_number over an
  *    external sort; a retried sort must re-rank identically);
  *  - q_sample_hash — hash-gated sampling (a seed- or attempt-varying
  *    sample would shift the kept set);
  *  - q_llm_dedup_fuzzy — MinHash LSH banding (hash-stable by design;
  *    retried band tasks must regenerate identical buckets);
  *  - q_llm_sim_ann — the IVF codebook trained on the driver from
  *    per-task partial sums (a retried task must return the same
  *    partials, merged in the same partition order);
  *  - q_llm_keeper / q_graph_pagerank_conv — iterative loops
  *    (star-contraction CC + PageRank power iteration), forced onto
  *    the DISTRIBUTED strategy so every loop round's shuffles retry;
  *    checkpoint lineage truncation must still reproduce each round.
  *
  * Each run rebuilds the DataFrame fresh so no stage is satisfied from
  * a previous job's shuffle files — every stage re-executes under
  * injection (a re-collected Dataset would reuse materialized map
  * outputs and dodge the kills). */
class RetryDeterminismSpec extends AnyFunSuite with BeforeAndAfterAll {
  private def spark = SparkTestBase.spark
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
    val spark = this.spark
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

  test("q_agg_trimmed (per-group window rank) survives task retries") {
    assertRetryDeterministic("q_agg_trimmed")
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

  test("q_llm_sim_ann (driver-trained codebook) survives task retries") {
    assertRetryDeterministic("q_llm_sim_ann")
    // the scored frame's scan feeds the trainer's collect jobs without
    // a shuffle, so the kills above land after training; over a
    // hash-repartitioned frame every trainer task reads a shuffle and
    // its first attempt is killed while the query is built
    def frame = ops.LlmExt.simAnnFrame(spark, d)
      .repartition(4, org.apache.spark.sql.functions.col("vec_id"))
    def ann = ops.LlmExt.ivfTopKOver(frame, 5, ops.LlmExt.AnnNProbe)
    val base = ann.collect().map(_.toString).sorted.toSeq
    val (built, kills) = RetryInjector.run(spark)(ann)
    info(s"ivfTopKOver: $kills first attempts killed in the trainer's jobs")
    assert(kills > 0, "no trainer task was ever retried — injection inert")
    assert(built.collect().map(_.toString).sorted.toSeq == base,
      "ivfTopKOver output differs under trainer task retries")
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
    assertStageResubmitDeterministic("q_agg_trimmed")
  }

  test("q_llm_keeper (distributed) survives map-stage resubmission") {
    assertStageResubmitDeterministic("q_llm_keeper",
      Seq(Gate.Key -> "large"))
  }

  /** A FetchFailed removes the driver's block manager from the block
    * manager master, and a local-mode block manager does not register
    * again: cached blocks become invisible to the master, so every
    * later lazy checkpoint would run one more job to cache its
    * partitions again. Stop the context; the next suite's
    * `SparkTestBase.spark` builds a fresh session. Staged checkpoints
    * are released first, while their context still runs. */
  override def afterAll(): Unit =
    try {
      ops.Staged.sweep()
      spark.stop()
    } finally super.afterAll()
}
