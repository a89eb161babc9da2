package graft.ops

import graft.{QueryModule, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Reshaping / sampling / ordered-analytics operators that round out
  * the relational surface (SURVEY §2B): pivot / unpivot, exact
  * percentiles, deterministic hash sampling, and batch sessionization
  * (the batch twin of the streaming session_window in Streams.scala —
  * a training-data pipeline runs this shape over historical logs).
  */
object Reshape extends QueryModule {

  // ---------------------------------------------------------------- q_pivot

  /** Long→wide: order counts per priority pivoted over the three order
    * statuses. `groupBy(...).pivot(col, values)` with EXPLICIT pivot
    * values — at 100 TB the values list keeps Catalyst from running a
    * distinct-scan planning pass over the fact table just to discover
    * column names; the pivot itself is then one hash aggregation, no
    * extra shuffle vs a plain groupBy. Missing cells surface as NULL
    * counts → coalesced to 0 to match the oracle's FILTER counts. */
  private def pivot(s: SparkSession, d: String): DataFrame =
    T.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))

  private val pivotSql =
    """SELECT o_orderpriority,
      |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
      |       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------- q_unpivot

  /** Wide→long: part measures melted to (metric, val) rows via the
    * DataFrame `unpivot` (UNPIVOT/MELT). Value columns are pre-cast to
    * one type (unpivot requires it); output is 2× the scan with no
    * shuffle — at scale this is a pure map-side Expand, the same
    * operator rollup/cube use. */
  private def unpivot(s: SparkSession, d: String): DataFrame =
    T.part(s, d)
      .select(col("p_partkey"), col("p_brand"),
        col("p_size").cast("double").as("p_size"), col("p_retailprice"))
      .unpivot(
        Array(col("p_partkey"), col("p_brand")),
        Array(col("p_size"), col("p_retailprice")),
        "metric", "val")
      .orderBy(col("p_partkey"), col("metric"))

  private val unpivotSql =
    """SELECT p_partkey, p_brand, 'p_size' AS metric, p_size::DOUBLE AS val
      |FROM part
      |UNION ALL
      |SELECT p_partkey, p_brand, 'p_retailprice', p_retailprice FROM part
      |ORDER BY p_partkey, metric""".stripMargin

  // ------------------------------------------------------- q_agg_percentile

  /** EXACT percentiles (p25/p50/p75 + a second column's median) per
    * group, vs DuckDB's `quantile_cont` (both linearly interpolate at
    * rank (n−1)·p, verified at the gate).
    *
    * Formulated as ORDER STATISTICS, not `percentile()`: Spark's
    * exact-percentile aggregate is an ObjectHashAggregate whose buffer
    * holds EVERY group value in memory (an OpenHashMap of counts) —
    * the slowest query-vs-DuckDB ratio in the round-5 bench (~2 s) and
    * an OOM risk for a billion-row group at 100 TB. Instead: one
    * shuffle on the group key, per-column `row_number` windows over
    * Tungsten's EXTERNAL (spilling) sort, then a single codegen hash
    * aggregation that picks the two bracketing ranks per cut point and
    * interpolates. Same exchange count, constant aggregation state,
    * measured ~2.5× faster here. Parallelism is |groups| either way —
    * per-group exact is the right tool at TPC-H group cardinalities;
    * corpus-wide quantiles at 100 TB go through q_agg_approx's
    * sketch. */
  private def percentile(s: SparkSession, d: String): DataFrame = {
    val rf = col("l_returnflag")
    val li = T.lineitem(s, d)
      .select(rf, col("l_extendedprice"), col("l_quantity"))
    val cnt = groupCounts(li, rf)
    // bracketing order statistics of cut point p: zero-based ranks
    // floor((n-1)p) and ceil((n-1)p), read from rank column `r`
    def loR(p: Double, r: Column, v: Column) =
      max(when(r === floor((col("n") - 1) * lit(p)), v))
    def hiR(p: Double, r: Column, v: Column) =
      max(when(r === ceil((col("n") - 1) * lit(p)), v))
    // BOTH rank columns over ONE hash exchange — two in-partition
    // sorts under two Window operators — and one combined aggregation,
    // instead of two independent scan + shuffle + window + aggregate +
    // join pipelines (the r14 sampler lesson: every removed subtree is
    // also removed from any downstream re-execution). Ranks are
    // zero-based, ties arbitrary; value-selecting consumers are
    // tie-permutation-invariant.
    val we = Window.partitionBy(rf).orderBy(col("l_extendedprice"))
    val wq = Window.partitionBy(rf).orderBy(col("l_quantity"))
    val agg = li
      .withColumn("re", row_number().over(we).cast("long") - 1L)
      .withColumn("rq", row_number().over(wq).cast("long") - 1L)
      .join(broadcast(cnt), "l_returnflag")
      .groupBy(rf).agg(
        max(col("n")).as("nn"),
        loR(0.25, col("re"), col("l_extendedprice")).as("e25l"),
        hiR(0.25, col("re"), col("l_extendedprice")).as("e25h"),
        loR(0.50, col("re"), col("l_extendedprice")).as("e50l"),
        hiR(0.50, col("re"), col("l_extendedprice")).as("e50h"),
        loR(0.75, col("re"), col("l_extendedprice")).as("e75l"),
        hiR(0.75, col("re"), col("l_extendedprice")).as("e75h"),
        loR(0.50, col("rq"), col("l_quantity")).as("q50l"),
        hiR(0.50, col("rq"), col("l_quantity")).as("q50h"))
    // v_lo + (k − ⌊k⌋)·(v_hi − v_lo), the quantile_cont interpolation
    def interp(p: Double, l: Column, h: Column) = {
      val k = (col("nn") - 1) * lit(p)
      Det.r4(l + (k - floor(k)) * (h - l))
    }
    agg.select(rf,
      interp(0.25, col("e25l"), col("e25h")).as("p25"),
      interp(0.50, col("e50l"), col("e50h")).as("p50"),
      interp(0.75, col("e75l"), col("e75h")).as("p75"),
      interp(0.50, col("q50l"), col("q50h")).as("median_qty"))
      // |groups|-row result: an explicit single-partition exchange +
      // local sort replaces the trailing orderBy, whose range sampler
      // re-executed the whole rank-window segment above the last
      // shuffle (the r14 sampler lesson applied to tiny outputs)
      .repartition(1)
      .sortWithinPartitions(rf)
  }

  private val percentileSql =
    s"""SELECT l_returnflag,
       |  ${Det.sql4("quantile_cont(l_extendedprice, 0.25)")} AS p25,
       |  ${Det.sql4("quantile_cont(l_extendedprice, 0.5)")} AS p50,
       |  ${Det.sql4("quantile_cont(l_extendedprice, 0.75)")} AS p75,
       |  ${Det.sql4("quantile_cont(l_quantity, 0.5)")} AS median_qty
       |FROM lineitem GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** Per-group row counts as a |groups|-row frame for broadcast-join
    * back onto ranked rows. The order-statistics family previously
    * fetched n via `count(*) OVER (PARTITION BY g)` — an UNORDERED
    * entire-partition window, which makes WindowExec buffer (and at
    * scale spill) every partition's full row set just to stamp one
    * number on each row. A map-side-partial aggregate + broadcast
    * hash join produces the identical column with constant state and
    * no buffering pass; the extra one-column scan is far cheaper than
    * the removed materialization at any SF. */
  private def groupCounts(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("n"))

  // ------------------------------------------------------------ q_agg_trimmed

  /** 10%-trimmed mean per group — the robust-statistics aggregate
    * (outlier-resistant central tendency, the fix when q_agg_stats'
    * moments are poisoned by heavy tails). Rank-based: drop the
    * ⌊0.1·n⌋ lowest and highest rows by value rank, average the rest.
    * Ties at the cut are safe without a tie-break key: trimming by
    * row_number drops SOME k equal values, and any choice keeps the
    * same multiset, so the kept sum is identical in both engines.
    * Shape: one shuffle on the group key, one external (spilling)
    * Tungsten sort under the rank window, then a codegen hash
    * aggregation with constant state — same scale argument as
    * q_agg_percentile's order statistics, no value-buffering
    * aggregate. */
  private def aggTrimmed(s: SparkSession, d: String): DataFrame = {
    val rf = col("l_returnflag")
    val li = T.lineitem(s, d).select(rf, col("l_extendedprice"))
    // 1-based rank, as the trim predicate below states it
    li.withColumn("r", row_number()
        .over(Window.partitionBy(rf).orderBy(col("l_extendedprice")))
        .cast("long"))
      .join(broadcast(groupCounts(li, rf)), "l_returnflag")
      .filter(col("r") > floor(col("n") * 0.1) &&
        col("r") <= col("n") - floor(col("n") * 0.1))
      .groupBy(rf)
      .agg(count(lit(1)).as("n_kept"),
        // exact cents-grid mean (tsGapfill convention): avg(double)
        // over binary-inexact 2-decimal prices is summation-order-
        // dependent and the mean lands off-grid, so an r4-boundary
        // value would flip between runs with the partial-merge order
        Det.r4(sum(TimeSeries.gridN(col("l_extendedprice"), 1e9, 1e2,
            "trimmed")).cast("double") / 100 / count(lit(1)))
          .as("trimmed_mean"),
        min(col("l_extendedprice")).as("lo_bound"),
        max(col("l_extendedprice")).as("hi_bound"))
      // |groups|-row result: single-partition exchange + local sort,
      // not a range-sampled orderBy re-executing the rank segment
      .repartition(1)
      .sortWithinPartitions(rf)
  }

  private val aggTrimmedSql =
    s"""WITH r AS (
       |  SELECT l_returnflag, l_extendedprice,
       |         row_number() OVER (PARTITION BY l_returnflag
       |                            ORDER BY l_extendedprice) AS r,
       |         count(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM lineitem)
       |SELECT l_returnflag, count(*) AS n_kept,
       |       ${Det.sql4("sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)" +
      "::DOUBLE / 100 / count(*)")} AS trimmed_mean,
       |       min(l_extendedprice) AS lo_bound,
       |       max(l_extendedprice) AS hi_bound
       |FROM r
       |WHERE r > floor(n * 0.1) AND r <= n - floor(n * 0.1)
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q_agg_mad

  /** Median absolute deviation per group — THE robust dispersion
    * measure (breakdown point 50%, vs 0% for q_agg_stats' variance).
    * Two phases of the same order-statistics machinery as
    * q_agg_percentile: (1) exact interpolated median per group,
    * (2) the deviations |x − med| joined back (a |groups|-row
    * broadcast) and their median by a second rank pass. Both phases
    * are external-sort + constant-state aggregation — never a
    * value-buffering percentile aggregate — so the shape holds at any
    * group size. The oracle deliberately uses DuckDB's buffering
    * quantile_cont for both levels: same answer, opposite memory
    * contract. Deviations are bit-identical cross-engine (same
    * subtraction on the same interpolated median), so rank order
    * agrees exactly. */
  private def aggMad(s: SparkSession, d: String): DataFrame = {
    val rf = col("l_returnflag")
    val li = T.lineitem(s, d).select(rf, col("l_extendedprice"))
    // ONE fact exchange end to end, and no driver collect (r14 verdict
    // item: pre-partitioning above a driver collect left nothing to
    // share). Hash-partition the fact once on the group key: the
    // first median is a rank window over that layout, the deviation
    // frame is a broadcast join away (1:1, partition-preserving), so
    // the second median's window ALSO rides the same exchange —
    // Catalyst plans the med/cnt broadcast builds over ReusedExchange.
    // The fact's external sorter spills rather than fails when a group
    // outgrows memory (SCALE.md "One order-statistics path": sf10
    // under a 2 GB heap). The median value is carried THROUGH the
    // deviation rows (constant per group, reduced with max) so the
    // result needs no third reference to the median subtree, and the
    // 3-row result is sorted after an explicit single-partition
    // exchange instead of a trailing orderBy whose range sampler
    // would re-execute the whole window segment.
    val liP = T.par(s, li, rf)
    val cnt = groupCounts(liP, rf)
    def rankedOver(df: DataFrame, v: String): DataFrame =
      df.withColumn("r", row_number()
          .over(Window.partitionBy(rf).orderBy(col(v)))
          .cast("long") - 1L)
        .join(broadcast(cnt), "l_returnflag")
    def interp(lo: Column, hi: Column) = {
      val k = (col("nn") - 1) * lit(0.5)
      lo + (k - floor(k)) * (hi - lo)
    }
    val med = rankedOver(liP, "l_extendedprice")
      .groupBy(rf).agg(
        max(col("n")).as("nn"),
        max(when(col("r") === floor((col("n") - 1) * 0.5),
          col("l_extendedprice"))).as("lo"),
        max(when(col("r") === ceil((col("n") - 1) * 0.5),
          col("l_extendedprice"))).as("hi"))
      .select(rf, interp(col("lo"), col("hi")).as("med"))
    val dev = liP.join(broadcast(med), "l_returnflag")
      .select(rf, col("med"),
        abs(col("l_extendedprice") - col("med")).as("adev"))
    rankedOver(dev, "adev")
      .groupBy(rf).agg(
        max(col("med")).as("med"),
        max(col("n")).as("nn"),
        max(when(col("r") === floor((col("n") - 1) * 0.5), col("adev")))
          .as("lo"),
        max(when(col("r") === ceil((col("n") - 1) * 0.5), col("adev")))
          .as("hi"))
      .select(rf, Det.r4(col("med")).as("median_price"),
        Det.r4(interp(col("lo"), col("hi"))).as("mad"))
      .repartition(1)
      .sortWithinPartitions(rf)
  }

  private val aggMadSql =
    s"""WITH med AS (
       |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
       |  FROM lineitem GROUP BY l_returnflag),
       |d AS (
       |  SELECT l.l_returnflag, m.med,
       |         abs(l.l_extendedprice - m.med) AS adev
       |  FROM lineitem l JOIN med m USING (l_returnflag))
       |SELECT l_returnflag,
       |       ${Det.sql4("any_value(med)")} AS median_price,
       |       ${Det.sql4("quantile_cont(adev, 0.5)")} AS mad
       |FROM d GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------- q_agg_stats

  /** Second-moment statistical aggregates — `corr`, `covar_samp`,
    * `stddev_samp`, `var_samp` — per group. Both engines use the
    * standard single-pass co-moment recurrences with SAMPLE (n−1)
    * normalization, agreeing to ~1e-12 relative; discretized like the
    * libm family. (Higher moments — skewness/kurtosis — are excluded:
    * Spark computes population form, DuckDB sample form, a definition
    * mismatch, not a numeric one.) Map-side partial aggregation makes
    * this a constant-size-per-group shuffle at any corpus size. */
  private def aggStats(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .agg(
        Det.r6(corr(col("l_quantity"), col("l_extendedprice")))
          .as("corr_qty_price"),
        Det.r4(covar_samp(col("l_quantity"), col("l_extendedprice")))
          .as("covar_qty_price"),
        Det.r6(stddev_samp(col("l_discount"))).as("sd_discount"),
        Det.r6(var_samp(col("l_tax"))).as("var_tax"))
      .orderBy(col("l_linestatus"))

  private val aggStatsSql =
    s"""SELECT l_linestatus,
       |  ${Det.sql6("corr(l_quantity, l_extendedprice)")} AS corr_qty_price,
       |  ${Det.sql4("covar_samp(l_quantity, l_extendedprice)")}
       |    AS covar_qty_price,
       |  ${Det.sql6("stddev_samp(l_discount)")} AS sd_discount,
       |  ${Det.sql6("var_samp(l_tax)")} AS var_tax
       |FROM lineitem GROUP BY l_linestatus
       |ORDER BY l_linestatus""".stripMargin

  // ------------------------------------------------------------ q_sample_hash

  /** Deterministic ~5% Bernoulli sample: keep rows whose portable
    * 60-bit md5 key-hash ≡ 0 (mod 20), then summarize the sample per
    * priority. Unlike `df.sample()` (seeded per-partition RNG — NOT
    * reproducible across engines, partitionings or retries), a
    * key-hash filter is a pure projection: re-runs, both engines, and
    * any partitioning agree row-for-row. This is how a training
    * pipeline carves held-out slices at 100 TB — embarrassingly
    * parallel, pushdown-friendly, no coordination. */
  private def sampleHash(s: SparkSession, d: String): DataFrame = {
    // native graft_hash60 == conv(substring(md5(x),1,15),16,10); the
    // oracle keeps the string formulation (independent implementations)
    val h = expr("graft_hash60(cast(o_orderkey as string))")
    T.orders(s, d)
      .filter(h % 20 === 0)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sampled"),
        Det.r2(sum(col("o_totalprice"))).as("sampled_total"),
        // exact cents-grid mean (tsGapfill convention; see aggHash)
        Det.r2(sum(TimeSeries.gridN(col("o_totalprice"), 1e9, 1e2, "sample_hash"))
          .cast("double") / 100 / count(lit(1))).as("sampled_avg"))
      .orderBy(col("o_orderpriority"))
  }

  private val sampleHashSql =
    s"""SELECT o_orderpriority, count(*) AS n_sampled,
       |  ${Det.sql2("sum(o_totalprice)")} AS sampled_total,
       |  ${Det.sql2("sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::DOUBLE" +
      " / 100 / count(*)")} AS sampled_avg
       |FROM orders
       |WHERE ('0x' || substring(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT
       |      % 20 = 0
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------- q_win_sessionize

  /** Batch sessionization over the events log: a session breaks after
    * ≥30 min of inactivity per user (lag + running sum of breaks — the
    * classic gaps-and-islands shape), then per-session aggregates.
    * Timestamps are compared in exact epoch MICROseconds (both engines
    * hold identical µs after the ns→µs truncation, see Tables.events).
    * One shuffle on user_id serves both the window pass and the
    * session aggregation (same partitioning); at 100 TB user_id is a
    * high-cardinality key, so partitions stay balanced — the same
    * argument as q_win_frame's r1 fix. */
  /** The gaps-and-islands core over any keyed event frame: appends a
    * per-`user` `session_id` (1-based) that increments wherever the
    * gap between consecutive `timeUs` values reaches `gapUs`.
    * `timeUs` (+ `tiebreak`) must totally order a user's events —
    * real logs collide on timestamps constantly, pass the event id.
    * One shuffle on the user key; package-visible as the
    * [[graft.Graft.sessionize]] facade core. */
  private[graft] def sessionIdsOver(ev: DataFrame, user: String,
      timeUs: String, tiebreak: Seq[String], gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col(user))
      .orderBy((timeUs +: tiebreak).map(col): _*)
    // break flag first (windows can't nest inside an aggregate)
    ev.withColumn("brk", when(lag(col(timeUs), 1).over(w).isNull ||
        col(timeUs) - lag(col(timeUs), 1).over(w) >= gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .drop("brk")
  }

  private def sessionize(s: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    // parRange(user_id): ONE exchange serves the session windows'
    // clustering, the (user_id, session_id) aggregation (range on the
    // leading key clusters it), and the final order — the trailing
    // orderBy becomes a local sort instead of a second exchange whose
    // sampler re-ran the window + aggregation subtree.
    sessionIdsOver(
      T.parRange(s, T.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("tus")), col("user_id")),
      "user_id", "tus", Seq("event_id"), gapUs)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tus")).as("start_us"),
        max(col("tus")).as("end_us"),
        (max(col("tus")) - min(col("tus"))).as("duration_us"),
        Det.r2(sum(col("value"))).as("total"))
      .sortWithinPartitions(col("user_id"), col("session_id"))
  }

  private val sessionizeSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value,
       |         epoch_us(make_timestamp(epoch_us(ts))) AS tus
       |  FROM events),
       |o AS (
       |  SELECT user_id, event_id, value, tus,
       |         CASE WHEN lag(tus) OVER w IS NULL
       |                OR tus - lag(tus) OVER w >= 1800000000
       |              THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
       |s AS (
       |  SELECT user_id, tus, value,
       |         sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
       |                        ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
       |  FROM o)
       |SELECT user_id, session_id, count(*) AS n_events,
       |       min(tus) AS start_us, max(tus) AS end_us,
       |       (max(tus) - min(tus)) AS duration_us,
       |       ${Det.sql2("sum(value)")} AS total
       |FROM s GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  // ------------------------------------------------------------- q_win_dist

  /** Distribution window functions — `percent_rank`, `cume_dist`,
    * `ntile` — per brand over retail price. The ORDER BY carries a
    * unique tie-break (p_partkey): ntile assigns by ROW position, so
    * a tie in the sort key alone would make bucket membership
    * nondeterministic across engines/partitionings; with a total
    * order all three functions are pure functions of the data. Same
    * single-shuffle shape as the other window families (partition
    * key is ~25-value p_brand at bounded per-group size; the 100×
    * scale path re-keys like q_win_frame if groups grow unbounded). */
  private def winDist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice"), col("p_partkey"))
    T.part(s, d)
      .select(col("p_partkey"), col("p_brand"),
        col("p_retailprice"),
        Det.r6(percent_rank().over(w)).as("pct_rank"),
        Det.r6(cume_dist().over(w)).as("cume"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy(col("p_partkey"))
  }

  private val winDistSql =
    s"""SELECT p_partkey, p_brand, p_retailprice,
       |  ${Det.sql6("percent_rank() OVER w")} AS pct_rank,
       |  ${Det.sql6("cume_dist() OVER w")} AS cume,
       |  ntile(4) OVER w AS quartile
       |FROM part
       |WINDOW w AS (PARTITION BY p_brand
       |             ORDER BY p_retailprice, p_partkey)
       |ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------- q_agg_mode

  /** Per-group mode with a SPECIFIED tie-break: each user's most
    * frequent event_type, ties resolved to the lexicographically
    * smallest type. Built-in `mode()` (both engines) leaves ties
    * unspecified — nondeterministic across partitionings, useless
    * under a hash gate — so both sides compute it as count-then-rank
    * with a total order (cnt DESC, type ASC). Two keyed shuffles:
    * (user, type) count, then a user-partitioned row_number over the
    * ≤|event types| rows per user; both keys are high-cardinality /
    * bounded-group, the q_win_frame scale shape. */
  private def aggMode(s: SparkSession, d: String): DataFrame =
    T.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Relational.topKOver(_, Seq(col("user_id")),
        Seq(col("cnt").desc, col("event_type")), 1, "rn"))
      .select(col("user_id"), col("event_type").as("mode_type"),
        col("cnt").as("mode_cnt"))
      .orderBy(col("user_id"))

  private val aggModeSql =
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS cnt
      |  FROM events GROUP BY user_id, event_type),
      |r AS (
      |  SELECT user_id, event_type, cnt,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY cnt DESC, event_type) AS rn
      |  FROM c)
      |SELECT user_id, event_type AS mode_type, cnt AS mode_cnt
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // -------------------------------------------------------- q_win_retention

  /** Weekly cohort retention — the product-analytics matrix every
    * event warehouse computes: cohort = a user's first active ISO
    * week, cell = distinct users from that cohort active k weeks
    * later, rate = cell / cohort size. Shapes: one distinct over
    * (user, week) — map-side combined, the raw log never reshuffles —
    * then min-per-user, a user-keyed join (both sides already hashed
    * on user_id, no extra exchange), a (cohort, offset) aggregate
    * over the tiny weeks×cohorts grid, and a broadcast of the
    * |cohorts|-row size dimension. At 100 TB only the first distinct
    * touches full data; everything after is per-user rows. */
  private def winRetention(s: SparkSession, d: String): DataFrame = {
    val weeks = T.events(s, d)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    val coh = weeks.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort"))
    val sizes = coh.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_users"))
    weeks.join(coh, "user_id")
      .select(col("cohort"),
        (datediff(col("wk"), col("cohort")) / 7).cast("long")
          .as("week_offset"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("week_offset"), col("n_users"),
        Det.r6(col("n_users").cast("double") / col("cohort_users"))
          .as("retention"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  private val winRetentionSql =
    s"""WITH weeks AS (
       |  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS wk
       |  FROM events),
       |coh AS (
       |  SELECT user_id, min(wk) AS cohort FROM weeks GROUP BY user_id),
       |sizes AS (
       |  SELECT cohort, count(*) AS cohort_users FROM coh GROUP BY cohort),
       |cells AS (
       |  SELECT c.cohort,
       |         (date_diff('day', c.cohort, w.wk) // 7)::BIGINT AS week_offset,
       |         count(*) AS n_users
       |  FROM weeks w JOIN coh c USING (user_id)
       |  GROUP BY 1, 2)
       |SELECT cohort, week_offset, n_users,
       |       ${Det.sql6("n_users::DOUBLE / cohort_users")} AS retention
       |FROM cells JOIN sizes USING (cohort)
       |ORDER BY cohort, week_offset""".stripMargin

  // -------------------------------------------------------- q_agg_histogram

  /** Equi-width numeric histogram + cumulative distribution over
    * extended price: bucket = floor(x / 5000)·5000 (every step an
    * exact IEEE-754 double op, so both engines bucket identically —
    * the same argument as Det.rN), per-bucket count/min/max/mean,
    * then a running total and cumulative fraction via a window over
    * the |buckets|-row aggregate. The full scan collapses to ≤ a few
    * dozen rows at the FIRST hash aggregation (map-side combined);
    * the unpartitioned window is fine because it runs on the bucket
    * frame, never the fact table. This is the profiling primitive
    * behind quantile sketches and skew diagnosis at 100 TB — one
    * pass, no sort of the data itself. */
  private def aggHistogram(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("bucket_lo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    T.lineitem(s, d)
      .groupBy((floor(col("l_extendedprice") / 5000.0) * 5000.0)
        .cast("long").as("bucket_lo"))
      .agg(count(lit(1)).as("n_items"),
        Det.r2(min(col("l_extendedprice"))).as("lo"),
        Det.r2(max(col("l_extendedprice"))).as("hi"),
        // exact cents-grid mean (tsGapfill convention; see aggHash)
        Det.r2(sum(TimeSeries.gridN(col("l_extendedprice"), 1e9, 1e2,
            "histogram")).cast("double") / 100 / count(lit(1)))
          .as("mean"))
      .withColumn("cum_items", sum(col("n_items")).over(w))
      .withColumn("cum_frac",
        Det.r6(col("cum_items").cast("double") /
          sum(col("n_items")).over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))))
      .orderBy(col("bucket_lo"))
  }

  private val aggHistogramSql =
    s"""WITH b AS (
       |  SELECT (floor(l_extendedprice / 5000.0) * 5000.0)::BIGINT
       |           AS bucket_lo,
       |         count(*) AS n_items,
       |         ${Det.sql2("min(l_extendedprice)")} AS lo,
       |         ${Det.sql2("max(l_extendedprice)")} AS hi,
       |         ${Det.sql2("sum(floor(l_extendedprice * 100 + 0.5)" +
      "::BIGINT)::DOUBLE / 100 / count(*)")} AS mean
       |  FROM lineitem GROUP BY 1)
       |SELECT bucket_lo, n_items, lo, hi, mean,
       |       sum(n_items) OVER (ORDER BY bucket_lo
       |         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_items,
       |       ${Det.sql6(
            "(sum(n_items) OVER (ORDER BY bucket_lo ROWS UNBOUNDED " +
            "PRECEDING))::DOUBLE / (sum(n_items) OVER ())")} AS cum_frac
       |FROM b ORDER BY bucket_lo""".stripMargin

  // ------------------------------------------------------------ q_win_funnel

  /** Ordered-sequence funnel (view → click → purchase): a user counts
    * at step k only if step k's FIRST qualifying event comes strictly
    * after their step-(k-1) anchor — the event-analytics operator
    * behind conversion dashboards, and a genuinely different semantic
    * from plain conditional counts (order matters). Each stage is a
    * user-keyed min-aggregate joined to the previous anchor — all
    * hash joins on the same high-cardinality user_id key, each stage's
    * frame no bigger than |users at that step|; the final depth
    * classification and cumulative reach run on a ≤3-row aggregate.
    * At 100 TB the per-stage filter (event_type pushdown) prunes each
    * scan before any shuffle. */
  /** The chained-anchor funnel over an arbitrary (user_id, event_type,
    * tus) frame and ordered step list. Package-visible so the property
    * test can drive it over random event streams against a per-user
    * sequential scan — the strictly-after chaining is the part worth
    * proving. */
  private[graft] def funnelOver(ev: DataFrame, steps: Seq[String]): DataFrame = {
    // anchor k = each user's first step-k event strictly after their
    // step-(k-1) anchor
    val anchors = steps.foldLeft(List.empty[DataFrame]) { (acc, step) =>
      val mine = ev.filter(col("event_type") === step)
      val gated = acc.headOption match {
        case None => mine
        case Some(p) =>
          mine.join(p.select(col("user_id"), col("t").as("t_prev")),
              "user_id")
            .filter(col("tus") > col("t_prev"))
      }
      gated.groupBy(col("user_id")).agg(min(col("tus")).as("t")) :: acc
    }.reverse
    val joined = anchors.zipWithIndex.tail.foldLeft(
      anchors.head.select(col("user_id"))) { case (acc, (a, i)) =>
        acc.join(a.select(col("user_id"), col("t").as(s"t$i")),
          Seq("user_id"), "left")
    }
    val depthExpr = anchors.indices.tail.reverse
      .foldLeft(when(lit(false), 0L)) { (w, i) =>
        w.when(col(s"t$i").isNotNull, (i + 1).toLong)
      }.otherwise(1L)
    val depths = joined.select(depthExpr.as("depth"))
      .groupBy(col("depth")).agg(count(lit(1)).as("n_users"))
    val wReach = Window.orderBy(col("depth").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    depths
      .withColumn("n_reached", sum(col("n_users")).over(wReach))
      .withColumn("conversion",
        Det.r6(col("n_reached").cast("double") /
          sum(col("n_users")).over(wAll)))
      .orderBy(col("depth"))
  }

  private def winFunnel(s: SparkSession, d: String): DataFrame =
    funnelOver(
      T.events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus")),
      Seq("view", "click", "purchase"))

  private val winFunnelSql =
    s"""WITH e AS (
       |  SELECT user_id, event_type,
       |         epoch_us(make_timestamp(epoch_us(ts))) AS tus
       |  FROM events),
       |a AS (SELECT user_id, min(tus) AS ta FROM e
       |      WHERE event_type = 'view' GROUP BY user_id),
       |b AS (SELECT e.user_id, min(tus) AS tb FROM e JOIN a USING (user_id)
       |      WHERE event_type = 'click' AND tus > ta GROUP BY e.user_id),
       |c AS (SELECT e.user_id, min(tus) AS tc FROM e JOIN b USING (user_id)
       |      WHERE event_type = 'purchase' AND tus > tb GROUP BY e.user_id),
       |d AS (
       |  SELECT CASE WHEN c.user_id IS NOT NULL THEN 3::BIGINT
       |              WHEN b.user_id IS NOT NULL THEN 2::BIGINT
       |              ELSE 1::BIGINT END AS depth
       |  FROM a LEFT JOIN b USING (user_id) LEFT JOIN c USING (user_id)),
       |g AS (SELECT depth, count(*) AS n_users FROM d GROUP BY depth)
       |SELECT depth, n_users,
       |       sum(n_users) OVER (ORDER BY depth DESC
       |         ROWS UNBOUNDED PRECEDING)::BIGINT AS n_reached,
       |       ${Det.sql6(
            "(sum(n_users) OVER (ORDER BY depth DESC ROWS UNBOUNDED " +
            "PRECEDING))::DOUBLE / (sum(n_users) OVER ())")} AS conversion
       |FROM g ORDER BY depth""".stripMargin

  // --------------------------------------------------------- q_agg_approx_pct

  /** Approximate percentiles via `approx_percentile` (GK sketch) —
    * the mergeable-sketch path for quantiles at 100 TB, where the
    * exact order-statistics pass (q_agg_percentile) needs a sort and
    * the sketch needs one map-side-combined aggregation. No DuckDB
    * oracle (sketch internals are engine-specific); the spec asserts
    * each approximate value brackets within the accuracy bound of the
    * exact q_agg_percentile answer — the same verification pattern as
    * q_agg_approx. */
  private def aggApproxPct(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("p50_approx"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000))
          .as("p95_approx"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  // -------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pivot" -> (pivot _),
    "q_unpivot" -> (unpivot _),
    "q_agg_percentile" -> (percentile _),
    "q_agg_stats" -> (aggStats _),
    "q_sample_hash" -> (sampleHash _),
    "q_win_sessionize" -> (sessionize _),
    "q_win_dist" -> (winDist _),
    "q_agg_mode" -> (aggMode _),
    "q_win_retention" -> (winRetention _),
    "q_agg_histogram" -> (aggHistogram _),
    "q_agg_trimmed" -> (aggTrimmed _),
    "q_agg_mad" -> (aggMad _),
    "q_win_funnel" -> (winFunnel _),
    "q_agg_approx_pct" -> (aggApproxPct _),
  )

  val oracles: Map[String, String] = Map(
    "q_pivot" -> pivotSql,
    "q_unpivot" -> unpivotSql,
    "q_agg_percentile" -> percentileSql,
    "q_agg_stats" -> aggStatsSql,
    "q_sample_hash" -> sampleHashSql,
    "q_win_sessionize" -> sessionizeSql,
    "q_win_dist" -> winDistSql,
    "q_agg_mode" -> aggModeSql,
    "q_win_retention" -> winRetentionSql,
    "q_agg_histogram" -> aggHistogramSql,
    "q_agg_trimmed" -> aggTrimmedSql,
    "q_agg_mad" -> aggMadSql,
    "q_win_funnel" -> winFunnelSql,
    // q_agg_approx_pct: no oracle by design — sketch internals are
    // engine-specific; bounds vs q_agg_percentile asserted in spec
  )
}
