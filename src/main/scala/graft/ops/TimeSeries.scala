package graft.ops

import graft.{Gate, Query, QueryModule, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-series operators over the events log: OHLC downsampling (the
  * bar/candle aggregation every metrics store runs) and rolling
  * z-score anomaly detection. Both are reference A28/A29-adjacent
  * (count/sort over time) pushed to the shapes a 100 TB telemetry
  * pipeline actually needs: downsampling collapses the raw log at the
  * FIRST aggregation and anomaly scoring is a single sort-window pass
  * per series.
  */
object TimeSeries extends QueryModule {

  /** 1e-4 integer grid with a fail-fast domain guard. The exact frame
    * sums below are only exact while every partial stays inside Long:
    * Spark multiplies BIGINTs with silent wraparound under non-ANSI
    * semantics while DuckDB errors (or widens to HUGEINT), so outside
    * the guarded domain the engines would silently diverge. `maxAbs`
    * is derived per call site from the worst-case sum the grid value
    * feeds; a row outside it raises instead of wrapping. NULLs pass
    * through as NULL (they are absent from every sum, not
    * out-of-domain): without the explicit branch, `abs(NULL) <= max`
    * is NULL, the otherwise-branch fires, and the facade would crash
    * on any null value with a NULL-message raise_error. */
  private[graft] def gridN(v: Column, maxAbs: Double, scale: Double,
      ctx: String): Column =
    when(v.isNull, lit(null).cast("long"))
      .when(abs(v) <= lit(maxAbs),
        floor(v * lit(scale) + lit(0.5)).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"graft $ctx: |value| exceeds the exact-arithmetic domain " +
          s"(±$maxAbs) of the ${1 / scale} integer grid: "),
        v.cast("string"))))

  private def grid4(v: Column, maxAbs: Double, ctx: String): Column =
    gridN(v, maxAbs, 1e4, ctx)

  // --------------------------------------------------------- q_ts_downsample

  /** OHLC downsampling: per (event_type, hour) emit open / high /
    * low / close / count / sum. open and close are `min_by`/`max_by`
    * keyed on the raw timestamp (unique in this data — asserted in
    * TimeSeriesSpec — so the pick is deterministic without a
    * tie-break column). The whole query is ONE map-side-combined hash
    * aggregation: min_by/max_by carry (value, key) partials, so 100 TB
    * of raw events collapses to |types × hours| rows before the only
    * shuffle — no sort, no window. Contrast the window formulation
    * (row_number = 1 per bucket), which would sort every partition of
    * the full log. */
  private def tsDownsample(s: SparkSession, d: String): DataFrame =
    T.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
        col("ts"), col("value"),
        // exact 1e-6-grid sum (tsGapfill convention): a double sum is
        // order-dependent to the last ulp; at 1e9-events-per-cell
        // scale the accumulated noise crosses the r4 half-boundary
        // margin of an exact-cents value. The long sum is exact and
        // order-independent (domain: ±9.2e12 value-sum per cell).
        // gridN: out-of-domain values RAISE instead of silently
        // wrapping the long sum (review r13 — DuckDB widens to
        // HUGEINT, Spark would wrap; the guard keeps each term
        // <= 1e12 so a cell needs >9.2e6 max-domain rows to wrap)
        gridN(col("value"), 1e6, 1e6, "downsample").as("v6"))
      .groupBy(col("event_type"), col("hr"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n_events"),
        Det.r4(sum(col("v6")).cast("double") / 1e6).as("sum_val"))
      .select(col("event_type"), unix_micros(col("hr")).as("hour_us"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("sum_val"))
      .orderBy(col("event_type"), col("hour_us"))

  private val tsDownsampleSql =
    s"""WITH e AS (
       |  SELECT event_type,
       |         date_trunc('hour', make_timestamp(epoch_us(ts))) AS hr,
       |         make_timestamp(epoch_us(ts)) AS tsu, value
       |  FROM events)
       |SELECT event_type, epoch_us(hr) AS hour_us,
       |       arg_min(value, tsu) AS open,
       |       max(value) AS high,
       |       min(value) AS low,
       |       arg_max(value, tsu) AS close,
       |       count(*) AS n_events,
       |       ${Det.sql4("sum(floor(value * 1000000 + 0.5)::BIGINT)" +
      "::DOUBLE / 1000000")} AS sum_val
       |FROM e GROUP BY event_type, hr
       |ORDER BY event_type, hour_us""".stripMargin

  // ----------------------------------------------------------- q_ts_anomaly

  /** Rolling z-score anomaly detection: per event_type, each point is
    * scored against the mean/stddev of the PRECEDING 100 points (frame
    * excludes the current row — the point under test must not shift
    * its own baseline), flagged when |z| > 3 with a 30-point warm-up
    * and a degenerate-variance guard. One shuffle on event_type + one
    * in-partition sort; the frame is bounded (101 rows of state per
    * series position), so a 10⁹-point series streams through the
    * window operator without materializing anything frame-squared.
    * Series count is the parallelism floor at 100 TB — five types
    * means five tasks, so a real deployment keys the window by
    * (series, day) to re-widen; the per-frame math is unchanged. */
  /** Cutover for the overlap-split strategy below, read through the
    * `anomaly` [[Gate]] (see the plan-choice comment in tsAnomaly for
    * the reasoning). SCALE.md ("One size gate") has the paired A/B:
    * the simple plan wins at sf0.1 (2 MB) on local[4] and local[32];
    * at sf1 (12 MB) the split wins on local[32] and ties on local[4].
    * [[Gate.Key]] `= large` forces the split path on tiny corpora —
    * RetryDeterminismSpec exercises the checkpointed slicing under
    * injected task retries at sf0.001. */
  private[graft] val AnomalySplitMinBytes: Long = 8L << 20

  private def tsAnomaly(s: SparkSession, d: String): DataFrame = {
    // ts alone is NOT a key within a series: at corpus scale multiple
    // events share a timestamp, and a ROWS frame over a non-total
    // order is engine-dependent at the ties. event_id makes the sort
    // total, so the preceding-100 baseline is identical on any engine
    // at any SF (the sf1 harness gates with verbatim ts collisions).
    //
    // Parallelism is DECOUPLED from series count (5 event_types would
    // otherwise mean 5 tasks streaming the whole corpus through the
    // window — the 100 TB ceiling the round-7 scaladoc could only
    // document). Overlap-split evaluation instead:
    //
    // ADAPTIVE cutover: the split costs ~4 extra tiny jobs (range
    // sampling, per-cell counts, carry broadcast, union) — pure
    // overhead when the corpus fits comfortably in a handful of
    // tasks (SCALE.md "One size gate", cold medians simple vs split:
    // sf0.1 2.43 vs 3.23 s on local[4], 2.01 vs 3.43 s on local[32];
    // sf1 7.15 vs 7.52 s on local[4], a tie, and 9.69 vs 8.58 s on
    // local[32], where the split wins). Pick
    // the plan from the source size the way a cost-based optimizer
    // would from table stats: below ~8 MB of parquet the per-series
    // window is already sub-second per task, so run the simple plan;
    // above it, slice. Both plans produce BIT-identical output (the
    // split's per-cell frames replay the same values in the same
    // order — see below), so the cutover can never change results,
    // only the physical strategy. AnomalySplitSpec pins both paths
    // to the same rows.
    //  1. range-split the corpus on the window's own sort key
    //     (type, ts, id) into defaultParallelism ordered slices;
    //  2. every slice re-emits its trailing `frameLen` rows per
    //     series to the NEXT slice as carried baseline-only rows
    //     (flagged, later dropped), so each kept row finds its exact
    //     preceding-100 frame inside its own (slice, series) cell —
    //     a slice's carried prefix IS the global predecessor set of
    //     its first rows, and the first slice correctly carries
    //     nothing (the warm-up filter starts the series cold);
    //  3. the unchanged frame aggs run per (slice, series) cell —
    //     every core busy, frame iteration order identical to the
    //     single-partition plan, so mu/sd are BIT-identical (same
    //     values folded in the same order) and the z>3 cut cannot
    //     flip. Cost: one duplicated frameLen-row fringe per slice.
    val frameLen = 100
    val key = Seq(col("ts"), col("event_id"))
    val base = T.events(s, d)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
    val score = scoreAnomalies(frameLen, key) _
    if (!Gate.large(s, "anomaly", T.sourceBytes(s, d, "events").toDouble,
        AnomalySplitMinBytes)) {
      // small corpus: one shuffle on the series key, window streams
      // per series. The explicit-count repartition keeps AQE from
      // coalescing the KB-sized series groups onto one task.
      score(base
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("event_type"))
        .withColumn("slice", lit(0)).withColumn("carried", lit(false)))
    } else overlapSplit(s, base, frameLen, key, score)
  }

  /** The large-corpus physical strategy for [[tsAnomaly]]: range-split
    * on the window's own sort key + exact trailing-frame carry. See
    * the plan-choice comment in tsAnomaly for when this wins. */
  private[graft] def overlapSplit(s: SparkSession, base: DataFrame, frameLen: Int,
      key: Seq[Column], score: DataFrame => DataFrame): DataFrame = {
    val nSlices = s.sparkContext.defaultParallelism
    // The slicing is consumed THREE times (cell counts, carried-row
    // extraction, scoring) and must be one consistent assignment:
    // repartitionByRange samples its bounds with an rdd-id-derived
    // seed, so without the checkpoint the correctness of the carry
    // rested on Catalyst planning all three subtrees as ONE
    // ReusedExchange — which the optimizer does not guarantee (r12:
    // a full-session run planned them apart, re-sampled different
    // bounds per consumer, and the inconsistent slice ids silently
    // dropped 5 boundary rows at sf3; spark.sql.exchange.reuse=false
    // reproduces it deterministically). The checkpoint freezes the
    // sampled bounds and slice ids once; every consumer reads the
    // same rows. Output stays bit-identical to the simple plan for
    // ANY bound placement — the property AnomalySplitSpec pins —
    // but that theorem needs a single consistent slicing as its
    // premise, which is now enforced rather than hoped for.
    // Staged.checkpoint registers the blocks for deterministic
    // release at the owner's query boundary (advice r12: a bare
    // localCheckpoint parks them until driver GC).
    val sliced = Staged.checkpoint(base
      .repartitionByRange(nSlices, col("event_type") +: key: _*)
      .withColumn("slice", spark_partition_id()))
    // A slice can hold FEWER than frameLen rows of a series (thin
    // cells near type boundaries, or small SFs), so carrying only to
    // the next slice would under-fill that slice's successors'
    // frames. Exact general carry from the per-cell counts frame
    // (nSlices×|types| rows): a row at reverse-rank rev in slice q
    // belongs in slice p's baseline iff rev ≤ frameLen − (rows of the
    // series in slices strictly between q and p) — i.e. the assembled
    // carried set of p is exactly the series' last frameLen rows
    // before p, wherever they live. In the common fat-cell case this
    // degenerates to q = p−1 and the pairs frame is one row per cell.
    val counts = sliced.groupBy(col("slice"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("slice"))
    val cum = counts.withColumn("cum", sum(col("c")).over(wCum))
    val pairs = cum
      .select(col("event_type").as("qtype"), col("slice").as("q"),
        col("cum").as("cumq"))
      .join(cum.select(col("event_type").as("ptype"),
        col("slice").as("p"), (col("cum") - col("c")).as("cump_excl")),
        col("qtype") === col("ptype"))
      .filter(col("p") > col("q") &&
        col("cump_excl") - col("cumq") < frameLen)
      .select(col("qtype"), col("q"),
        (lit(frameLen) - (col("cump_excl") - col("cumq"))).as("need"),
        col("p"))
    val wTail = Window.partitionBy(col("slice"), col("event_type"))
      .orderBy(key.map(_.desc): _*)
    val carried = sliced
      .withColumn("rev", row_number().over(wTail))
      .filter(col("rev") <= frameLen)
      .join(broadcast(pairs),
        col("slice") === col("q") && col("event_type") === col("qtype"))
      .filter(col("rev") <= col("need"))
      .select(col("event_id"), col("event_type"), col("ts"),
        col("value"), col("p").as("slice"))
      .withColumn("carried", lit(true))
    score(sliced.withColumn("carried", lit(false)).unionByName(carried))
  }

  /** Shared z-score tail over per-(slice, series) cells: frame aggs,
    * warm-up + degenerate-variance guards, the z>3 cut, output shape.
    * Both physical strategies feed this with identical per-cell row
    * sequences, so the scored rows are bit-identical.
    *
    * The frame statistics run on EXACT integer sums of a 1e-4 grid,
    * not avg/stddev over doubles: windowed double aggregation is
    * association-dependent (Spark folds the frame sequentially,
    * DuckDB folds a segment tree), so identical frames still disagree
    * in the last ulp — and at a 30-way-duplicated SF seven z-scores
    * sat close enough to the 3.0 cut to flip between engines. With
    * S1 = Σv4 and S2 = Σv4² exact (order-independent) longs, every
    * derived double (mu, var, sd, z) is one fixed IEEE op sequence
    * over identical inputs — identical on any engine and under any
    * partitioning, within the guarded value domain below. The 1e-4 input grid changes a z-score by
    * ≤1e-4/sd, far inside the cut's meaning; the degenerate-variance
    * guard becomes var > 0 (deterministic for the same reason).
    * Exactness holds on the GUARDED domain: S2 = Σv4² must fit Long,
    * so |value| is capped at √(Long.Max/frameLen)/1e4 (≈3.0e4 for the
    * 100-row frame) and an out-of-domain row raises instead of
    * silently wrapping (grid4). */
  private[graft] def scoreAnomalies(frameLen: Int, key: Seq[Column])
                            (cells: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("slice"), col("event_type"))
      .orderBy(key: _*)
      .rowsBetween(-frameLen, -1)
    val z = (col("v4") - col("mu4")) / col("sd4")
    // 0.99 safety factor keeps frameLen·v4² strictly inside Long after
    // the grid's own +0.5 rounding slack
    val maxAbs = math.floor(
      0.99 * math.sqrt(Long.MaxValue.toDouble / frameLen)) / 1e4
    cells
      .withColumn("v4", grid4(col("value"), maxAbs, "anomaly"))
      .withColumn("s1", sum(col("v4")).over(w))
      .withColumn("s2", sum(col("v4") * col("v4")).over(w))
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("mu4", col("s1").cast("double") / col("nw"))
      .withColumn("var4",
        (col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") / col("nw")) /
          (col("nw") - 1))
      .withColumn("sd4", sqrt(col("var4")))
      .filter(!col("carried") && col("nw") >= 30 && col("var4") > 0.0 &&
        abs(z) > 3.0)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("value"),
        Det.r4(z).as("z"))
      .orderBy(col("event_id"))
  }

  private val tsAnomalySql =
    s"""WITH v AS (
       |  SELECT event_id, event_type, epoch_us(make_timestamp(epoch_us(ts))) AS tus,
       |         value, floor(value * 10000 + 0.5)::BIGINT AS v4
       |  FROM events),
       |w AS (
       |  -- ordered by the µs-truncated tus, NOT raw ts: under the
       |  -- INT64-nanos encoding Spark's sort key is the µs timestamp,
       |  -- and two same-µs rows with distinct sub-µs nanos would get
       |  -- engine-dependent frames under an ORDER BY ts (review r13)
       |  SELECT event_id, event_type, tus, value, v4,
       |         sum(v4) OVER win AS s1,
       |         sum(v4 * v4) OVER win AS s2,
       |         count(*) OVER win AS nw
       |  FROM v
       |  WINDOW win AS (PARTITION BY event_type ORDER BY tus, event_id
       |                 ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)),
       |st AS (
       |  SELECT event_id, event_type, tus, value, v4,
       |         s1::DOUBLE / nw AS mu4,
       |         (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / nw) / (nw - 1) AS var4,
       |         nw
       |  FROM w)
       |SELECT event_id, event_type, tus, value,
       |       ${Det.sql4("(v4 - mu4) / sqrt(var4)")} AS z
       |FROM st
       |WHERE nw >= 30 AND var4 > 0.0 AND abs((v4 - mu4) / sqrt(var4)) > 3.0
       |ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- q_ts_wma

  /** The decomposed-weight smoother over an arbitrary frame: adds an
    * r4-rounded `wma` column to `df`, weighting the trailing
    * `width`+1 rows of each `series` partition (ordered by `order`)
    * linearly, newest heaviest. The naive formulation needs the
    * CURRENT row's position inside the frame aggregate — not
    * expressible as a window function — so the weights are decomposed:
    * with c = frame count and rn the global row number,
    * w_i = rn_i − rn + c, hence Σw_i·x_i = Σrn_i·x_i + (c−rn)·Σx_i and
    * Σw_i = c(c+1)/2. Both pieces are PLAIN window sums over the same
    * frame, so the whole smoother is one shuffle on the series key,
    * one in-partition sort, and one window operator computing three
    * bounded-frame aggregates — the same cost as a plain moving
    * average. (The exponential variant decomposes the same way only
    * via (1−α)^±rn terms that overflow at corpus row counts — the
    * linear weighting is the one whose terms stay in Long across the
    * guarded domain below.)
    * Package-visible so the property test can drive it over random
    * series against a brute-force weighted average — the decomposition
    * identity is the part worth proving. */
  private[graft] def wmaOver(df: DataFrame, series: String, order: String,
      value: String, width: Int, tiebreak: Seq[String] = Nil): DataFrame = {
    // `order` + `tiebreak` must be a key of the partition: the frame
    // and rn are positional, so a non-total sort makes the smoother
    // engine-dependent wherever `order` collides (real event logs
    // collide constantly — callers pass the event id).
    val byOrd = Window.partitionBy(col(series))
      .orderBy((order +: tiebreak).map(col): _*)
    val frame = byOrd.rowsBetween(-width, 0)
    // frame sums run on a 1e-4 integer grid (the anomaly/gapfill
    // convention): windowed DOUBLE sums are association-dependent
    // across engines (sequential fold vs segment tree), so an r4
    // boundary can flip; Σ(v4·rn) and Σv4 as longs are exact and
    // order-independent, and the closing divides are a fixed IEEE op
    // sequence over identical inputs. Grid error ≤ 1e-4 on the
    // smoother, absorbed by the r4 output discretization's meaning.
    // Exact on the GUARDED domain: Σ(v4w·rn) over the (width+1)-row
    // frame fits Long while |value| ≤ 1e5 (grid ≤ 1e9) AND the series
    // is shorter than rnMax rows — rn is a global per-series row
    // number, so series length is part of the domain. Out-of-domain
    // raises instead of wrapping.
    val rnMax = Long.MaxValue / ((width + 1).toLong * 1000000000L)
    df.withColumn("rn", row_number().over(byOrd).cast("long"))
      .withColumn("rn", when(col("rn") <= lit(rnMax), col("rn"))
        .otherwise(raise_error(lit(s"graft wma: series longer than " +
          s"$rnMax rows exceeds the exact-arithmetic domain"))))
      .withColumn("v4w", grid4(col(value), 1e5, "wma"))
      .withColumn("s1", sum(col("v4w") * col("rn")).over(frame))
      .withColumn("s0", sum(col("v4w")).over(frame))
      .withColumn("c", count(lit(1)).over(frame))
      // NULL values contribute nothing to the sums, so they must also
      // contribute no WEIGHT: the denominator is the weight sum of the
      // frame's NON-null rows — swr + nn·(c − rn), which reduces to
      // the triangular c(c+1)/2 exactly when the frame is null-free
      // (the scored-query regime, so the oracle's formula is
      // unchanged). Dividing by the all-rows triangle silently
      // deflated the mean toward zero whenever a null sat in the
      // window (review r12). All-null frame → wma NULL.
      .withColumn("swr",
        sum(when(col("v4w").isNotNull, col("rn"))).over(frame))
      .withColumn("nn", count(col("v4w")).over(frame))
      .withColumn("wma",
        when(col("nn") > 0,
          Det.r4((col("s1") + (col("c") - col("rn")) * col("s0"))
              .cast("double") /
            (col("swr") + col("nn") * (col("c") - col("rn"))) / 1e4)))
      .drop("rn", "v4w", "s1", "s0", "c", "swr", "nn")
  }

  /** Linearly-weighted moving average over the trailing 21-row frame
    * per event series — [[wmaOver]] applied to the events log. */
  private def tsWma(s: SparkSession, d: String): DataFrame =
    // parRange(event_type) up front: range partitioning on the series
    // key satisfies the window's clustering (no hash exchange) AND is
    // the final output order's leading key, so the trailing global
    // orderBy — whose range sampler re-executed the whole five-window
    // smoother subtree (measured: a duplicate ~0.6 s single-series
    // stage at sf0.1) — collapses to a zero-exchange local sort.
    wmaOver(
      T.parRange(s, T.events(s, d).select(col("event_type"), col("ts"),
        col("value"), col("event_id")), col("event_type")),
      "event_type", "ts", "value", 20, tiebreak = Seq("event_id"))
      .select(col("event_type"), unix_micros(col("ts")).as("tus"),
        col("value"), col("wma"))
      .sortWithinPartitions(col("event_type"), col("tus"), col("value"),
        col("wma"))

  private val tsWmaSql =
    s"""WITH v AS (
       |  SELECT event_type, epoch_us(make_timestamp(epoch_us(ts))) AS tus,
       |         value, event_id,
       |         floor(value * 10000 + 0.5)::BIGINT AS v4w
       |  FROM events),
       |r AS (
       |  -- rn ordered by the SAME (µs tus, event_id) key as the frame
       |  -- window below: an ORDER BY raw ts would diverge from both
       |  -- the frame and Spark's µs sort under the INT64-nanos
       |  -- encoding (review r13)
       |  SELECT event_type, tus, value, event_id, v4w,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY tus, event_id) AS rn
       |  FROM v),
       |f AS (
       |  SELECT event_type, tus, value, rn,
       |         sum(v4w * rn) OVER win AS s1,
       |         sum(v4w) OVER win AS s0,
       |         count(*) OVER win AS c
       |  FROM r
       |  WINDOW win AS (PARTITION BY event_type ORDER BY tus, event_id
       |                 ROWS BETWEEN 20 PRECEDING AND CURRENT ROW))
       |SELECT event_type, tus, value,
       |       ${Det.sql4(
      "(s1 + (c - rn) * s0)::DOUBLE / (c * (c + 1) / 2) / 10000")} AS wma
       |FROM f ORDER BY event_type, tus, value, wma""".stripMargin

  // ------------------------------------------------------------ q_ts_interp

  /** Linear interpolation of gaps on the hourly grid — the
    * complement of q_ts_gapfill's forward fill: missing hours take the
    * value on the straight line between the nearest observed hour on
    * each side (edges fall back to the single available neighbor).
    * Anchors come from four IGNORE NULLS window lookups (last value /
    * last observed time backward, first value / first observed time
    * forward) — no self-join against the observation table. Both
    * directions share the series partitioning, so Spark plans one
    * exchange feeding two window operators (one per sort direction).
    * The grid is |series × hours| rows — vanishing vs the raw log
    * that built it. */
  /** Shared hourly exact-grid aggregation of the events log —
    * (event_type, hour_us, n_events, avg_val) — the common front half
    * of q_ts_gapfill and q_ts_interp (review r13: previously two
    * verbatim copies across files that had to stay semantically
    * identical by hand). avg via the exact-grid convention: avg(double)
    * is summation-order-dependent to the last ulp, and the order
    * varies not just across engines but across RUNS (partial-agg
    * merge order is scheduling-dependent) — at sf3 a cell average
    * landed on the 46.09875 r4 boundary and flipped between two
    * otherwise-identical gate runs (r12). The 1e-6-grid long sum is
    * exact and order-independent; gridN raises, never wraps. */
  private[graft] def hourlyAvg(s: SparkSession, d: String,
      ctx: String): DataFrame =
    T.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
        gridN(col("value"), 1e6, 1e6, ctx).as("v6"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n_events"),
        Det.r4(sum(col("v6")).cast("double") / 1e6 / count(lit(1)))
          .as("avg_val"))
      .select(col("event_type"), unix_micros(col("hr")).as("hour_us"),
        col("n_events"), col("avg_val"))

  private def tsInterp(s: SparkSession, d: String): DataFrame =
    gridSpineOver(hourlyAvg(s, d, "interp"), "event_type", "hour_us",
        "avg_val", 3600L * 1000000L)
      .select(col("event_type"), col("hour_us"),
        coalesce(col("n_events"), lit(0L)).as("n_events"), col("avg_val"),
        col("interp_val"))
      .orderBy(col("event_type"), col("hour_us"))

  /** Dense-grid spine + gap fills over a pre-bucketed
    * (series, bucket-epoch-µs, value, …) frame: one row per series
    * per `stepUs` from that series' min to max bucket, carrying every
    * input column (null in gaps) plus `ff_val` (last observation
    * carried forward — q_ts_gapfill's fill) and `interp_val` (linear
    * between the nearest observed cell on each side, single-neighbor
    * fallback at the edges, r6-discretized — q_ts_interp's fill).
    *
    * Shape, which is the whole point at scale: the spine derives from
    * each series' own bounds row (`sequence` + explode — no cartesian
    * against a calendar table), the anchors come from IGNORE NULLS
    * window lookups (no self-join against the observations), and both
    * sort directions share the series partitioning so Spark plans ONE
    * exchange feeding the window operators. The grid is
    * |series × cells| rows — vanishing vs the raw log that built it.
    * [[graft.Graft.resampleGrid]] is the user-facing adapter;
    * q_ts_interp runs through this same core. */
  private[graft] def gridSpineOver(buckets: DataFrame, series: String,
      bucketUs: String, value: String, stepUs: Long): DataFrame = {
    // `sequence` materializes one array element per grid cell, and
    // Spark caps arrays at MAX_ROUNDED_ARRAY_LENGTH (Int.MaxValue-15);
    // a series spanning a wide range with a small step would otherwise
    // die with an opaque array-allocation error deep in codegen. The
    // guard is exact long arithmetic (`div`, not `/` — which is double
    // division and inexact past 2^53) and names the offending series,
    // mirroring the repo's other fail-fast contracts.
    val maxCells = Int.MaxValue - 15L
    val spine = buckets
      .groupBy(col(series))
      .agg(min(col(bucketUs)).as("__h0"), max(col(bucketUs)).as("__h1"))
      .withColumn("__h0",
        // NULL bounds (a series whose every bucket is NULL) pass
        // through: sequence(NULL, …) explodes to zero rows, so the
        // series is skipped exactly as before the cap guard existed —
        // without this branch the three-valued `when` would fall to
        // raise_error with a false too-many-cells diagnosis (the same
        // NULL-semantics bug class grid4 fixed)
        when(col("__h0").isNull || col("__h1").isNull, col("__h0"))
          .when(expr(s"(__h1 - __h0) div $stepUs") < lit(maxCells),
            col("__h0"))
          .otherwise(raise_error(concat(
            lit("graft resampleGrid: series "), col(series).cast("string"),
            lit(s" spans more than $maxCells grid cells at stepUs=$stepUs" +
              " — choose a coarser step")))))
      .select(col(series),
        explode(sequence(col("__h0"), col("__h1"), lit(stepUs)))
          .as(bucketUs))
    val g = spine.join(buckets, Seq(series, bucketUs), "left")
    val back = Window.partitionBy(col(series)).orderBy(col(bucketUs))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col(series)).orderBy(col(bucketUs))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsT = when(col(value).isNotNull, col(bucketUs))
    val pv = last(col(value), ignoreNulls = true).over(back)
    val pt = last(obsT, ignoreNulls = true).over(back)
    val nv = first(col(value), ignoreNulls = true).over(fwd)
    val nt = first(obsT, ignoreNulls = true).over(fwd)
    g.withColumn("ff_val", pv)
      .withColumn("interp_val",
        Det.r6(when(col(value).isNotNull, col(value))
          .when(pv.isNull, nv)
          .when(nv.isNull, pv)
          .otherwise(pv + (nv - pv) *
            (col(bucketUs) - pt) / (nt - pt))))
  }

  private val tsInterpSql =
    s"""WITH h AS (
       |  SELECT event_type,
       |         date_trunc('hour', make_timestamp(epoch_us(ts))) AS hr,
       |         count(*) AS n_events,
       |         ${Det.sql4("sum(floor(value * 1000000 + 0.5)::BIGINT)::DOUBLE" +
      " / 1000000 / count(*)")} AS avg_val
       |  FROM events GROUP BY event_type, hr),
       |b AS (SELECT event_type, min(hr) AS h0, max(hr) AS h1
       |      FROM h GROUP BY event_type),
       |sp AS (SELECT event_type,
       |              unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
       |       FROM b),
       |g AS (
       |  SELECT sp.event_type, epoch_us(sp.hr) AS hour_us,
       |         coalesce(h.n_events, 0) AS n_events, h.avg_val
       |  FROM sp LEFT JOIN h ON sp.event_type = h.event_type
       |                     AND sp.hr = h.hr),
       |a AS (
       |  SELECT event_type, hour_us, n_events, avg_val,
       |    last_value(avg_val IGNORE NULLS) OVER back AS pv,
       |    last_value(CASE WHEN avg_val IS NOT NULL THEN hour_us END
       |               IGNORE NULLS) OVER back AS pt,
       |    first_value(avg_val IGNORE NULLS) OVER fwd AS nv,
       |    first_value(CASE WHEN avg_val IS NOT NULL THEN hour_us END
       |                IGNORE NULLS) OVER fwd AS nt
       |  FROM g
       |  WINDOW back AS (PARTITION BY event_type ORDER BY hour_us
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |         fwd AS (PARTITION BY event_type ORDER BY hour_us
       |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT event_type, hour_us, n_events, avg_val,
       |       ${Det.sql6(
            "CASE WHEN avg_val IS NOT NULL THEN avg_val " +
            "WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv " +
            "ELSE pv + (nv - pv) * (hour_us - pt) / (nt - pt) END")}
       |         AS interp_val
       |FROM a ORDER BY event_type, hour_us""".stripMargin

  // -------------------------------------------------------------- registry

  val table: Seq[Query] = Seq(
    Query("q_ts_downsample", tsDownsample, Some(tsDownsampleSql)),
    Query("q_ts_anomaly", tsAnomaly, Some(tsAnomalySql)),
    Query("q_ts_wma", tsWma, Some(tsWmaSql)),
    Query("q_ts_interp", tsInterp, Some(tsInterpSql)),
  )
}
