package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant tests for the round-6 additions: the binary/digest
  * function family, deterministic mode, cohort retention, SCD2
  * history build, TF-IDF keywords and the stratified language
  * sample — properties the DuckDB hash gate can't express (internal
  * consistency, conservation, monotonicity).
  */
class Round6OpsSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  import s.implicits._

  test("fn_binary: digests well-formed, round-trip holds, buckets in range") {
    val q = SparkEntry.queries("q_fn_binary")(s, SparkTestBase.sfDir)
    val bad = q.filter(
      length($"name_md5") =!= 32 || length($"name_sha256") =!= 64 ||
        !$"roundtrip_ok" || $"md5_bucket" < 0 || $"md5_bucket" > 255)
    assert(bad.isEmpty, "digest lengths, base64 round-trip, bucket range")
    // bucket must equal the md5's real first byte
    val mismatch = q.filter(
      conv(substring($"name_md5", 1, 2), 16, 10).cast("long") =!= $"md5_bucket")
    assert(mismatch.isEmpty)
  }

  test("agg_mode: winner's count is the max count for that user") {
    val mode = SparkEntry.queries("q_agg_mode")(s, SparkTestBase.sfDir)
    val counts = Tables.events(s, SparkTestBase.sfDir)
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("cnt"))
      .groupBy($"user_id").agg(max($"cnt").as("max_cnt"))
    val bad = mode.join(counts, "user_id").filter($"mode_cnt" =!= $"max_cnt")
    assert(bad.isEmpty, "mode_cnt must be the per-user maximum")
    assert(mode.groupBy($"user_id").count().filter($"count" > 1).isEmpty,
      "exactly one mode row per user")
  }

  test("win_retention: week 0 retains everyone, rates never exceed 1") {
    val r = SparkEntry.queries("q_win_retention")(s, SparkTestBase.sfDir)
    val w0 = r.filter($"week_offset" === 0 && $"retention" =!= 1.0)
    assert(w0.isEmpty, "cohort week 0 must have retention exactly 1")
    assert(r.filter($"retention" > 1.0 || $"week_offset" < 0).isEmpty)
  }

  test("lake_scd2: intervals chain per user and exactly one current row") {
    val v = SparkEntry.queries("q_lake_scd2")(s, SparkTestBase.sfDir)
    // each user's versions: valid_to of version k = valid_from of k+1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"version")
    val chained = v.withColumn("next_from", lead($"valid_from_us", 1).over(w))
      .filter($"next_from".isNotNull && $"valid_to_us" =!= $"next_from")
    assert(chained.isEmpty, "valid_to must equal the next version's valid_from")
    val curr = v.groupBy($"user_id")
      .agg(sum(when($"is_current", 1L).otherwise(0L)).as("n_curr"))
      .filter($"n_curr" =!= 1L)
    assert(curr.isEmpty, "exactly one open (current) version per user")
    // no zero-length or negative intervals
    assert(v.filter($"valid_to_us".isNotNull &&
      $"valid_to_us" <= $"valid_from_us").isEmpty)
  }

  test("llm_tfidf: ranks dense 1..k, scores non-increasing within a doc") {
    val t = SparkEntry.queries("q_llm_tfidf")(s, SparkTestBase.sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"rank")
    val bad = t
      .withColumn("prev_rank", lag($"rank", 1).over(w))
      .withColumn("prev_score", lag($"tfidf", 1).over(w))
      .filter(
        ($"prev_rank".isNull && $"rank" =!= 1L) ||
          ($"prev_rank".isNotNull && $"rank" =!= $"prev_rank" + 1L) ||
          ($"prev_score".isNotNull && $"tfidf" > $"prev_score"))
    assert(bad.isEmpty, "ranks 1..k dense, discretized scores monotone")
    assert(t.filter($"rank" > 3L || $"df" < 1L || $"tf" < 1L).isEmpty)
  }

  test("fn_regex: captures well-formed, counts consistent with replace") {
    val q = SparkEntry.queries("q_fn_regex")(s, SparkTestBase.sfDir)
    val part = Tables.part(s, SparkTestBase.sfDir)
      .select($"p_partkey", $"p_name")
    // n_vowels must equal the length drop from stripping vowels
    val bad = q.join(part, "p_partkey").filter(
      $"n_vowels" =!= length($"p_name") - length($"no_vowels"))
    assert(bad.isEmpty, "vowel count vs replace-all length delta")
    assert(q.filter($"first_word" === "" || $"brand_num".isNull).isEmpty,
      "p_name starts with a word; p_brand ends with digits")
  }

  test("agg_histogram: buckets partition the table, cum_frac ends at 1") {
    val h = SparkEntry.queries("q_agg_histogram")(s, SparkTestBase.sfDir)
      .orderBy($"bucket_lo").collect()
    val total = Tables.lineitem(s, SparkTestBase.sfDir).count()
    assert(h.map(_.getAs[Long]("n_items")).sum == total,
      "every row lands in exactly one bucket")
    assert(h.last.getAs[Double]("cum_frac") == 1.0)
    h.foreach { r =>
      assert(r.getAs[Double]("lo") >= r.getAs[Long]("bucket_lo").toDouble)
      assert(r.getAs[Double]("hi") < r.getAs[Long]("bucket_lo") + 5000.0)
    }
    // cumulative counts strictly increase
    val cums = h.map(_.getAs[Long]("cum_items"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a < b })
  }

  test("win_funnel: reach is monotone and matches ordered-sequence recount") {
    val f = SparkEntry.queries("q_win_funnel")(s, SparkTestBase.sfDir)
      .orderBy($"depth").collect()
    assert(f.nonEmpty && f.head.getAs[Long]("depth") >= 1L)
    // n_reached non-increasing with depth; conversion starts at 1
    val reach = f.map(_.getAs[Long]("n_reached"))
    assert(reach.zip(reach.tail).forall { case (s1, s2) => s1 >= s2 },
      "users can only drop out as the funnel deepens")
    assert(f.head.getAs[Double]("conversion") == 1.0)
    // independent recount of step-1 users
    val nView = Tables.events(s, SparkTestBase.sfDir)
      .filter($"event_type" === "view")
      .select($"user_id").distinct().count()
    assert(reach.head == nView, "step 1 = users with any view event")
  }

  test("approx percentile lands within rank tolerance of the exact answer") {
    val approx = SparkEntry.queries("q_agg_approx_pct")(s, SparkTestBase.sfDir)
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("p50_approx"), r.getAs[Double]("p95_approx"))).toMap
    val vals = Tables.lineitem(s, SparkTestBase.sfDir)
      .select($"l_returnflag", $"l_extendedprice").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getDouble(1)).sorted).toMap
    for ((flag, (p50, p95)) <- approx; xs = vals(flag); n = xs.length) {
      // GK with accuracy 10000: rank error <= n/10000 (< 1 here), but
      // allow a generous +-2% + 2 ranks so the test isn't brittle
      def rankOf(v: Double) = xs.count(_ <= v)
      val tol = n * 0.02 + 2
      assert(math.abs(rankOf(p50) - 0.5 * n) <= tol, s"$flag p50")
      assert(math.abs(rankOf(p95) - 0.95 * n) <= tol, s"$flag p95")
    }
  }

  test("stratified sample caps languages and stays a subset per stratum") {
    val r = SparkEntry.queries("q_sample_stratified")(s, SparkTestBase.sfDir)
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (sampled, total) =
        (row.getAs[Long]("n_sampled"), row.getAs[Long]("n_total"))
      assert(sampled <= total, "sample is a subset")
      // binomial around cap=50: generous 4σ bound, deterministic data
      assert(sampled <= 50 + 4 * math.sqrt(50).toLong + 1,
        s"language capped near 50, got $sampled of $total")
      val ratio = row.getAs[Double]("kept_ratio")
      assert(ratio > 0.0 && ratio <= 1.0)
    }
  }

  test("agg_trimmed: trim geometry exact, mean inside kept bounds") {
    val t = SparkEntry.queries("q_agg_trimmed")(s, SparkTestBase.sfDir)
      .collect()
    val counts = Tables.lineitem(s, SparkTestBase.sfDir)
      .groupBy($"l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t.nonEmpty)
    t.foreach { r =>
      val n = counts(r.getAs[String]("l_returnflag"))
      val cut = math.floor(n * 0.1).toLong
      assert(r.getAs[Long]("n_kept") == n - 2 * cut,
        "exactly floor(0.1 n) dropped from each tail")
      val (m, lo, hi) = (r.getAs[Double]("trimmed_mean"),
        r.getAs[Double]("lo_bound"), r.getAs[Double]("hi_bound"))
      assert(m >= lo && m <= hi, "mean inside the kept interval")
    }
  }

  test("agg_mad: MAD bounded by range, median inside it, half-mass check") {
    val rows = SparkEntry.queries("q_agg_mad")(s, SparkTestBase.sfDir)
      .collect()
    assert(rows.nonEmpty)
    val li = Tables.lineitem(s, SparkTestBase.sfDir)
      .select($"l_returnflag", $"l_extendedprice").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1))).toMap
    rows.foreach { r =>
      val xs = li(r.getAs[String]("l_returnflag"))
      val (med, mad) = (r.getAs[Double]("median_price"),
        r.getAs[Double]("mad"))
      assert(med >= xs.min && med <= xs.max)
      assert(mad >= 0 && mad <= (xs.max - xs.min) / 2 + 1e-4)
      // definitional: at least half the values lie within [med±mad]
      val within = xs.count(x => math.abs(x - med) <= mad + 1e-4)
      assert(within * 2 >= xs.length,
        s"only $within of ${xs.length} within med±mad")
    }
  }

  test("dq_audit: expected check set, row_count matches, counts sane") {
    val a = SparkEntry.queries("q_dq_audit")(s, SparkTestBase.sfDir).collect()
    val byKey = a.map(r => (r.getAs[String]("table_name"),
      r.getAs[String]("check_name")) -> r.getAs[Long]("n")).toMap
    assert(byKey.keySet == Set(
      ("lineitem", "row_count"), ("lineitem", "nonpositive_qty"),
      ("lineitem", "orphan_orderkey"), ("lineitem", "ship_before_order"),
      ("events", "null_props"), ("events", "value_out_of_range"),
      ("documents", "empty_text"), ("orders", "orphan_custkey"),
      ("customer", "dup_custkey"), ("orders", "dup_orderkey")))
    assert(byKey(("lineitem", "row_count")) ==
      Tables.lineitem(s, SparkTestBase.sfDir).count())
    assert(byKey.values.forall(_ >= 0L))
    // o_orderkey is unique in the generated data: the lineitem checks'
    // 1:1 join premise holds
    assert(byKey(("orders", "dup_orderkey")) == 0L)
    // violation counts can never exceed the audited table's size
    assert(byKey(("lineitem", "ship_before_order")) <=
      byKey(("lineitem", "row_count")))
  }

  test("fn_url: parsed components round-trip the synthesized URL") {
    val u = SparkEntry.queries("q_fn_url")(s, SparkTestBase.sfDir)
    val bad = u.filter(
      $"scheme" =!= "https" || $"host" =!= "shop.example.com" ||
        $"path" =!= concat(lit("/o/"), $"o_orderkey".cast("string")) ||
        $"q_cust".cast("long").isNull)
    assert(bad.isEmpty, "scheme/host/path/query parse back to the inputs")
  }

  test("llm_perplexity: ppl consistent with xent, tokens conserved") {
    val p = SparkEntry.queries("q_llm_perplexity")(s, SparkTestBase.sfDir)
      .collect()
    assert(p.nonEmpty)
    p.foreach { r =>
      val (xent, ppl) = (r.getAs[Double]("xent"), r.getAs[Double]("ppl"))
      assert(xent > 0.0 && ppl > 1.0)
      // both are r4-rounded from the same raw average
      assert(math.abs(ppl - math.exp(xent)) < math.exp(xent) * 1e-3,
        s"ppl $ppl vs exp(xent) ${math.exp(xent)}")
    }
    val totalWords = p.map(_.getAs[Long]("n_words")).sum
    val recount = Tables.documents(s, SparkTestBase.sfDir)
      .select(explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") > 0).count()
    assert(totalWords == recount, "every token scored exactly once")
    // the vocab cap (24 < the corpus's 31-word vocabulary) must BIND:
    // some tokens score through the UNK backoff, and no doc's OOV
    // count exceeds its token count
    val totalOov = p.map(_.getAs[Long]("n_oov")).sum
    assert(totalOov > 0, "vocab cap binds — UNK path exercised")
    assert(totalOov < totalWords, "in-vocab tokens remain")
    p.foreach(r => assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_words")))
  }
}
