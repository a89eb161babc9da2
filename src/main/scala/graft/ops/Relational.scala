package graft.ops

import graft.{Gate, QueryModule, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator surface (SURVEY.md §2B): scans, projection,
  * predicates, the full join family, aggregations, window functions,
  * sort/limit/top-k and set operations — all expressed as declarative
  * DataFrame plans so Catalyst handles pushdown/pruning/join selection.
  *
  * Determinism contract (hash-match vs DuckDB): every query ends in an
  * `orderBy` over a unique key prefix; every float aggregate is
  * `Det.r2(_)`; derived integers are cast to LONG (DuckDB window/date
  * functions return BIGINT); timestamps leave as formatted strings.
  *
  * Scale notes (100 TB):
  *  - Filters/projections sit directly over the scan → parquet
  *    `PushedFilters` + `ReadSchema` pruning (verified via explain).
  *  - Dimension joins (`nation`, `region`, `supplier`, `part`) are
  *    explicit `broadcast()` — no shuffle of the fact table.
  *  - Fact-fact joins shuffle once on the join key; AQE re-plans skew.
  *  - Aggregations are partial (map-side combine) by construction —
  *    `groupBy.agg` of algebraic functions.
  *  - The as-of join uses the union+window formulation: ONE shuffle by
  *    (key) instead of a range join's O(n·m) BNLJ blowup.
  */
object Relational extends QueryModule {

  // ---------------------------------------------------------------- scans

  /** Parquet scan + projection + pushed filter + top-n.
    * Reference analogue: JSON file scan A1/A2 (SURVEY §2A) — here over
    * columnar parquet so pruning/pushdown are observable. */
  private def scanParquet(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .filter(col("l_quantity") < 10)
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // order by every projected column so identical rows interchange.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .limit(100)

  private val scanParquetSql =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_quantity < 10
      |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100""".stripMargin

  // --------------------------------------------------- projection / filter

  /** Projection, rename, computed columns (reference normalize A15-A18). */
  private def projRename(s: SparkSession, d: String): DataFrame =
    T.orders(s, d)
      .select(
        col("o_orderkey").as("order_id"),
        col("o_orderstatus").as("status"),
        Det.r2(col("o_totalprice") * (lit(1.0) - lit(0.1))).as("discounted"),
        concat(lit("ORD#"), col("o_orderkey")).as("tag"))
      .orderBy(col("order_id"))

  private val projRenameSql =
    """SELECT o_orderkey AS order_id, o_orderstatus AS status,
      |       floor((o_totalprice * (1.0 - 0.1)) * 100 + 0.5) / 100 AS discounted,
      |       'ORD#' || o_orderkey AS tag
      |FROM orders ORDER BY order_id""".stripMargin

  /** Compound predicates: and/or/not, BETWEEN, IN, LIKE, IS NULL. */
  private def filterPred(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .filter(
        (col("l_returnflag") === "R" || col("l_linestatus") === "F") &&
        col("l_quantity").between(5, 15) &&
        col("l_returnflag").isin("R", "A") &&
        !col("l_shipdate").isNull &&
        col("l_returnflag").like("%R%"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_linestatus"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_linestatus"), col("l_quantity"))
      .limit(500)

  private val filterPredSql =
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity
      |FROM lineitem
      |WHERE (l_returnflag = 'R' OR l_linestatus = 'F')
      |  AND l_quantity BETWEEN 5 AND 15
      |  AND l_returnflag IN ('R','A')
      |  AND NOT (l_shipdate IS NULL)
      |  AND l_returnflag LIKE '%R%'
      |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity
      |LIMIT 500""".stripMargin

  // ----------------------------------------------------------------- joins

  /** Plain equi inner join (Catalyst picks SMJ/SHJ; at 100 TB this is the
    * one necessary shuffle — both sides hashed on the key). */
  private def joinInner(s: SparkSession, d: String): DataFrame =
    T.orders(s, d)
      .join(T.customer(s, d), col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_name"),
        Det.r2(col("o_totalprice")).as("price"))
      .orderBy(col("o_orderkey"))

  private val joinInnerSql =
    """SELECT o_orderkey, c_name, floor((o_totalprice) * 100 + 0.5) / 100 AS price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** Star-schema rollup. Broadcast ONLY the bounded-cardinality dims
    * (nation=25 rows, region=5 rows — fixed regardless of SF); the
    * orders⋈customer edge shuffles on the key, because customer grows
    * linearly with the dataset and broadcasting it would OOM the
    * executors at 100 TB. Per-(r_name,n_name) aggregation is partial
    * (map-side combine) so the final shuffle carries 25 groups. */
  private def joinBroadcast(s: SparkSession, d: String): DataFrame =
    T.orders(s, d)
      .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        Det.r2(sum(col("o_totalprice"))).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))

  private val joinBroadcastSql =
    """SELECT r_name, n_name, count(*) AS n_orders,
      |       floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Left outer join + null-skipping count. */
  private def joinLeft(s: SparkSession, d: String): DataFrame =
    T.customer(s, d)
      .join(T.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        Det.r2(coalesce(sum(col("o_totalprice")), lit(0.0))).as("spend"))
      .orderBy(col("c_custkey"))

  private val joinLeftSql =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      |       floor((coalesce(sum(o_totalprice), 0.0)) * 100 + 0.5) / 100 AS spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Full outer join of two derived key sets. */
  private def joinFull(s: SparkSession, d: String): DataFrame = {
    val big = T.customer(s, d).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("k")).distinct()
    val auto = T.customer(s, d).filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey").as("k2")).distinct()
    big.join(auto, col("k") === col("k2"), "full")
      .select(
        coalesce(col("k"), col("k2")).as("custkey"),
        col("k").isNotNull.as("high_bal"),
        col("k2").isNotNull.as("is_auto"))
      .orderBy(col("custkey"))
  }

  private val joinFullSql =
    """SELECT coalesce(k, k2) AS custkey,
      |       k IS NOT NULL AS high_bal, k2 IS NOT NULL AS is_auto
      |FROM (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > 5000) a
      |FULL JOIN (SELECT DISTINCT c_custkey AS k2 FROM customer
      |           WHERE c_mktsegment = 'AUTOMOBILE') b ON k = k2
      |ORDER BY custkey""".stripMargin

  /** Left-semi join (EXISTS). */
  private def joinSemi(s: SparkSession, d: String): DataFrame =
    T.orders(s, d)
      .join(T.lineitem(s, d).filter(col("l_quantity") > 45),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), Det.r2(col("o_totalprice")).as("price"))
      .orderBy(col("o_orderkey"))

  private val joinSemiSql =
    """SELECT o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100 AS price FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |ORDER BY o_orderkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no finalized ('F')
    * order. The status filter makes the result non-empty at every SF
    * (71 rows at sf0.01) so the hash-match is evidence-bearing. */
  private def joinAnti(s: SparkSession, d: String): DataFrame =
    T.customer(s, d)
      .join(T.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private val joinAntiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Theta join: equi key + range residual (click→purchase funnel within
    * 1 hour). The equi key keeps it a hash/SMJ join with a residual
    * filter — NOT a cartesian BNLJ — which is the shape that survives
    * 100 TB. */
  private def joinTheta(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("u"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("ts").as("buy_ts"),
        col("event_id").as("buy_id"))
    clicks.join(buys,
        col("u") === col("u2") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("u").as("user_id"), col("click_id"), col("buy_id"))
      .orderBy(col("click_id"), col("buy_id"))
  }

  private val joinThetaSql =
    """SELECT c.user_id, c.event_id AS click_id, b.event_id AS buy_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      |  ON c.user_id = b.user_id
      | AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 1 HOUR
      |ORDER BY click_id, buy_id""".stripMargin

  /** Band (range) join via bucketing — the driver-brief "range join"
    * custom operator. Pairs of same-nation customers whose account
    * balances differ by ≤ [[BandWidth]]: instead of a non-equi join
    * (BNLJ, |n|² per nation), each balance is binned to
    * floor(bal/width); a pair within the band differs by at most one
    * bin, so the RIGHT side explodes to its 3 adjacent bins and the
    * join runs as a plain HASH join on (nation, bin) with the exact
    * band predicate as a residual filter. Every qualifying pair
    * matches exactly once (the one exploded bin equal to the left
    * row's own bin), so no dedup pass is needed. At 100 TB this is
    * the standard interval/band-join shape: shuffle on (key, bin),
    * candidates bounded by bin occupancy, never a cross product. The
    * oracle IS the naive non-equi join — ground truth at test scale. */
  private val BandWidth = 10.0

  private def joinRange(s: SparkSession, d: String): DataFrame = {
    val c = T.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .withColumn("b", floor(col("c_acctbal") / BandWidth))
    val left = c.select(col("c_custkey").as("ca"),
      col("c_nationkey").as("nk"), col("c_acctbal").as("bala"), col("b"))
    val right = c.select(col("c_custkey").as("cb"),
        col("c_nationkey").as("nk"), col("c_acctbal").as("balb"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("b"))
    left.join(right, Seq("nk", "b"))
      .filter(col("ca") < col("cb") &&
        abs(col("bala") - col("balb")) <= BandWidth)
      .select(col("nk").as("nationkey"), col("ca"), col("cb"),
        Det.r2(abs(col("bala") - col("balb"))).as("gap"))
      .orderBy(col("ca"), col("cb"))
  }

  private val joinRangeSql =
    s"""SELECT c1.c_nationkey AS nationkey,
       |       c1.c_custkey AS ca, c2.c_custkey AS cb,
       |       ${Det.sql2("abs(c1.c_acctbal - c2.c_acctbal)")} AS gap
       |FROM customer c1 JOIN customer c2
       |  ON c1.c_nationkey = c2.c_nationkey
       | AND c1.c_custkey < c2.c_custkey
       | AND abs(c1.c_acctbal - c2.c_acctbal) <= $BandWidth
       |ORDER BY ca, cb""".stripMargin

  /** Generic at-or-before as-of join core: for each left row, the
    * latest right row with rightTime ≤ leftTime under the same key.
    * Spark lacks a native as-of join; the scalable formulation is
    * union-both-sides + one window pass — a single shuffle on the
    * key, O(n log n) per partition, versus the naive range-join that
    * explodes to O(left × right) per key. Output: every left column
    * plus `asof_match`, the matched right row as a (nullable) struct.
    * At equal times the right row IS visible (">=" semantics: right
    * sorts before left on the side column); ties BETWEEN right rows
    * at one instant resolve to the struct ordering of `last`, so
    * callers wanting full determinism keep (key, rightTime) unique.
    * Package-visible: the q_join_asof scored query and the
    * [[graft.Graft.asofJoin]] facade both build on it. */
  private[graft] def asofOver(left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val l = left.select(col(key).as("__k"), col(leftTime).as("__t"),
      lit(1).as("__side"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("__l"),
      lit(null).cast(StructType(right.schema)).as("__r"))
    val r = right.select(col(key).as("__k"), col(rightTime).as("__t"),
      lit(0).as("__side"),
      lit(null).cast(StructType(left.schema)).as("__l"),
      struct(right.columns.toIndexedSeq.map(col): _*).as("__r"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("asof_match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__l.*"), col("asof_match"))
  }

  /** As-of join: for each purchase, the latest click at-or-before it by
    * the same user — [[asofOver]] applied to the events log.
    * (Reference has no joins at all — SURVEY §2A note — this is
    * north-star surface.) */
  private def joinAsof(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("buy_id"), col("ts"))
    asofOver(buys, clicks, "user_id", "ts", "ts")
      .select(col("user_id"), col("buy_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("buy_ts"),
        date_format(col("asof_match.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("click_ts"))
      .orderBy(col("buy_id"))
  }

  private val joinAsofSql =
    """SELECT b.user_id, b.event_id AS buy_id,
      |       strftime(b.ts, '%Y-%m-%d %H:%M:%S.%f') AS buy_ts,
      |       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') b
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON b.user_id = c.user_id AND b.ts >= c.ts
      |ORDER BY buy_id""".stripMargin

  // ------------------------------------------------------------ aggregates

  /** TPC-H Q1 shape: multi-aggregate hash aggregation with map-side
    * partials (algebraic sums/avgs/counts). */
  private def aggHash(s: SparkSession, d: String): DataFrame =
    // Money aggregates on an exact cents grid (the tsGapfill
    // convention): 2-decimal doubles are binary-inexact, so their
    // double sum is summation-order-dependent, and avg / the
    // 4-decimal discounted product form values OFF the cents grid —
    // a result within float noise of an r2/r4 half-boundary flips
    // between runs with the partial-merge order (observed live at an
    // r4 boundary in q_ts_interp, r12). Long sums are exact and
    // order-independent; the final divides are one double op each.
    // Integer l_quantity sums are already exact in double at any
    // order. Domain: Σ p100·(100−d100) ≤ ~1.05e9/row keeps the long
    // sum exact through ~8e9 rows per group.
    T.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
          .as("p100"),
        floor(col("l_discount") * 100 + lit(0.5)).cast("long").as("d100"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.r2(sum(col("l_quantity"))).as("sum_qty"),
        Det.r2(sum(col("p100")).cast("double") / 100).as("sum_base_price"),
        Det.r2(sum(col("p100") * (lit(100L) - col("d100"))).cast("double")
          / 10000).as("sum_disc_price"),
        Det.r2(avg(col("l_quantity"))).as("avg_qty"),
        Det.r2(sum(col("p100")).cast("double") / 100 / count(lit(1)))
          .as("avg_price"),
        Det.r4(sum(col("d100")).cast("double") / 100 / count(lit(1)))
          .as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val aggHashSql =
    s"""WITH g AS (
      |  SELECT l_returnflag, l_linestatus, l_quantity,
      |         floor(l_extendedprice * 100 + 0.5)::BIGINT AS p100,
      |         floor(l_discount * 100 + 0.5)::BIGINT AS d100
      |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02')
      |SELECT l_returnflag, l_linestatus,
      |       ${Det.sql2("sum(l_quantity)")} AS sum_qty,
      |       ${Det.sql2("sum(p100)::DOUBLE / 100")} AS sum_base_price,
      |       ${Det.sql2("sum(p100 * (100 - d100))::DOUBLE / 10000")}
      |         AS sum_disc_price,
      |       ${Det.sql2("avg(l_quantity)")} AS avg_qty,
      |       ${Det.sql2("sum(p100)::DOUBLE / 100 / count(*)")} AS avg_price,
      |       ${Det.sql4("sum(d100)::DOUBLE / 100 / count(*)")} AS avg_disc,
      |       count(*) AS count_order
      |FROM g
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** COUNT/SUM DISTINCT (expand-based distinct aggregation). NOT
    * par-spread (tried r14): the slow stage is the MIDDLE distinct
    * aggregation after the first exchange — its width is AQE's
    * size-based coalescing (3 partitions over a few MB locally, wide
    * at real bytes) — not the scan-side expand; a round-robin par
    * only added its sort+shuffle cost (1.1 → 9.7 executor-CPU-s). */
  private def aggDistinct(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        Det.r2(sum_distinct(col("l_quantity"))).as("sum_dist_qty"))
      .orderBy(col("l_returnflag"))

  private val aggDistinctSql =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |       count(DISTINCT l_suppkey) AS n_supps,
      |       floor((sum(DISTINCT l_quantity)) * 100 + 0.5) / 100 AS sum_dist_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** HLL sketch distinct — no exact oracle (approx); driver rows-check.
    * Error bounds vs the exact count are asserted in `OperatorSpec`
    * ("approx_count_distinct within 3×rsd of exact"). */
  private def aggApprox(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .orderBy(col("l_returnflag"))

  // -------------------------------------------------------- q_agg_sketch_merge

  /** HLL sketch build → MERGE → estimate (Apache DataSketches via
    * hll_sketch_agg / hll_union_agg / hll_sketch_estimate): per-type
    * user sketches are built in one pass, and the TOTAL row's estimate
    * comes from merging those five sketches — never re-scanning the
    * raw table. Mergeability is the entire 100 TB argument for
    * sketches: per-partition partials combine associatively, so
    * distinct counts roll up across partitions / days / tables at
    * sketch size, not data size (the same reason approx_count_distinct
    * map-side-combines where countDistinct must shuffle rows).
    * No DuckDB oracle — sketch registers are engine-specific — the
    * rows-only gate applies and OperatorSpec bounds both estimate
    * levels against the exact distinct counts. */
  private def aggSketchMerge(s: SparkSession, d: String): DataFrame = {
    val perType = T.events(s, d)
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
    val byType = perType
      .select(col("event_type").as("scope"), col("n_exact"),
        hll_sketch_estimate(col("sk")).as("n_est"))
    val total = perType
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_est"))
      .crossJoin(broadcast(
        T.events(s, d).agg(countDistinct(col("user_id")).as("n_exact"))))
      .select(lit("TOTAL").as("scope"), col("n_exact"), col("n_est"))
    byType.unionByName(total).orderBy(col("scope"))
  }

  /** ROLLUP hierarchy totals. NULLS FIRST on both sides (DuckDB default
    * for ASC is NULLS LAST — made explicit in the oracle). */
  private def aggRollup(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(Det.r2(sum(col("l_quantity"))).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private val aggRollupSql =
    """SELECT l_returnflag, l_linestatus, floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
      |       count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** CUBE over two dims. */
  private def aggCube(s: SparkSession, d: String): DataFrame =
    T.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Det.r2(sum(col("o_totalprice"))).as("rev"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  private val aggCubeSql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |       floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS rev
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Explicit GROUPING SETS (SQL path — exercises the parser too). */
  private def aggGsets(s: SparkSession, d: String): DataFrame = {
    T.orders(s, d).createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  private val aggGsetsSql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** collect_set + array_sort for deterministic array output. The array
    * is serialized with array_join so the driver's pandas-based compare
    * (which can't hash ndarray cells) sees a plain string; the sorted
    * "|"-joined form is a faithful canonical encoding of the set. */
  private def aggCollect(s: SparkSession, d: String): DataFrame =
    T.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        array_join(array_sort(collect_set(col("o_orderpriority"))), "|")
          .as("priorities"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  private val aggCollectSql =
    """SELECT o_orderstatus,
      |       array_to_string(list_sort(list_distinct(list(o_orderpriority))), '|')
      |         AS priorities,
      |       count(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Custom aggregation: geometric mean via Aggregator[IN,BUF,OUT],
    * registered untyped with udaf() so the groupBy stays on the codegen
    * hash-aggregate path (log-sum buffer → partial-merge friendly;
    * SURVEY §2B q_agg_custom). */
  private def aggCustom(s: SparkSession, d: String): DataFrame = {
    val geo = udaf(graft.functions.GeoMean)
    T.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(Det.r4(geo(col("l_quantity"))).as("geomean_qty"))
      .orderBy(col("l_returnflag"))
  }

  private val aggCustomSql =
    """SELECT l_returnflag, floor((exp(avg(ln(l_quantity)))) * 10000 + 0.5) / 10000 AS geomean_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- windows

  /** Ranking family. Window ints cast to LONG (DuckDB returns BIGINT).
    * Partition key is the composite (c_mktsegment, c_nationkey) —
    * 5×25 = 125 partitions instead of 5, so no single window task
    * holds 20% of the table when the data scales 100×. */
  private def winRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"), col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val raw = T.customer(s, d)
      .select(col("c_mktsegment"), col("c_nationkey"), col("c_custkey"),
        col("c_acctbal"))
    def ranked(in: DataFrame): DataFrame =
      in.select(col("c_mktsegment"), col("c_nationkey"), col("c_custkey"),
        Det.r2(col("c_acctbal")).as("bal"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"))
    if (!Gate.large(s, "parRange", T.sourceBytes(s, d, "customer").toDouble,
        ParRangeMinBytes))
      // Small input: the classic window exchange + orderBy.
      // LocalSortOrderSpec pins row-identity of the two paths.
      ranked(raw)
        .orderBy(col("c_mktsegment"), col("c_nationkey"), col("rn"))
    else
      // At-scale shape: parRange on the window partition keys
      // satisfies the window's clustering (replacing its hash
      // exchange) and leads the output order, so the final sort is
      // local — one exchange, and the orderBy's sampling pass no
      // longer re-executes the window.
      ranked(T.parRange(s, raw, col("c_mktsegment"), col("c_nationkey")))
        .sortWithinPartitions(col("c_mktsegment"), col("c_nationkey"),
          col("rn"))
  }

  /** The `parRange` [[Gate]] threshold for [[winRank]]: below it the
    * range exchange's extra sampling job costs more than the exchange
    * it saves. SCALE.md ("One size gate"): at sf0.1 (316 KB customer)
    * the classic path wins on local[32] (0.71 vs 0.98 s) and ties on
    * local[4]; at sf1 (1.7 MB) the two tie on both. */
  private[graft] val ParRangeMinBytes: Long = 1L << 20

  private val winRankSql =
    """SELECT c_mktsegment, c_nationkey, c_custkey,
      |  floor((c_acctbal) * 100 + 0.5) / 100 AS bal,
      |  row_number() OVER w AS rn, rank() OVER w AS rnk,
      |  dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment, c_nationkey
      |             ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_mktsegment, c_nationkey, rn""".stripMargin

  /** Analytic family: lag/lead/first/last over per-customer order history. */
  private def winAnalytic(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // parRange(o_custkey): one exchange serves the window's clustering
    // AND the final order's leading key — the trailing orderBy becomes
    // a local sort instead of a second exchange whose sampler re-runs
    // the window.
    T.parRange(s, T.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice")), col("o_custkey"))
      .select(col("o_custkey"), col("o_orderkey"),
        Det.r2(col("o_totalprice")).as("price"),
        Det.r2(lag(col("o_totalprice"), 1).over(w)).as("prev_price"),
        Det.r2(lead(col("o_totalprice"), 1).over(w)).as("next_price"),
        Det.r2(first(col("o_totalprice")).over(wFull)).as("first_price"),
        Det.r2(last(col("o_totalprice")).over(wFull)).as("last_price"))
      .sortWithinPartitions(col("o_custkey"), col("o_orderkey"))
  }

  private val winAnalyticSql =
    """SELECT o_custkey, o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100 AS price,
      |  floor((lag(o_totalprice, 1) OVER w) * 100 + 0.5) / 100 AS prev_price,
      |  floor((lead(o_totalprice, 1) OVER w) * 100 + 0.5) / 100 AS next_price,
      |  floor((first_value(o_totalprice) OVER wf) * 100 + 0.5) / 100 AS first_price,
      |  floor((last_value(o_totalprice) OVER wf) * 100 + 0.5) / 100 AS last_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Frame specs: running total (ROWS unbounded→current), moving window
    * (ROWS 3 preceding), value-range frame (RANGE 5 preceding). ALL
    * three windows partition by l_suppkey (high cardinality, grows with
    * SF) — never by a constant-cardinality flag column, which would
    * concentrate the whole fact table into a handful of window tasks
    * at scale. RANGE frames include all peers of the boundary value, so
    * n_in_qty_band is tie-insensitive by construction. */
  private def winFrame(s: SparkSession, d: String): DataFrame = {
    // (l_shipdate, l_orderkey, l_linenumber) is not unique — extend the
    // sort with the measure columns so running values are well-defined
    // (rows tying on ALL keys contribute equal increments → interchangeable).
    val base = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
    val wRun = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wMov = base.rowsBetween(-3, Window.currentRow)
    val wRange = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_quantity")).rangeBetween(-5, Window.currentRow)
    // parRange(l_suppkey): all three windows cluster on l_suppkey, and
    // the output order leads with it — one exchange feeds both window
    // sorts and the final local sort, and the old trailing orderBy's
    // sampling pass (which re-executed BOTH window operators —
    // measured as a duplicate ~0.3 s / 3.2-CPU-s stage at sf0.1) is
    // gone.
    T.parRange(s, T.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), col("l_quantity"), col("l_extendedprice")),
        col("l_suppkey"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        Det.r2(sum(col("l_quantity")).over(wRun)).as("running_qty"),
        // exact cents-grid moving mean (tsGapfill convention): the
        // engines associate frame sums differently (DuckDB segment
        // tree vs sequential re-scan), and a 4-row cents mean lands
        // exactly ON an r2 half-boundary whenever the cents sum is
        // ≡2 (mod 4) — long frame sums are exact under ANY association
        Det.r2(sum(floor(col("l_extendedprice") * 100 + lit(0.5))
            .cast("long")).over(wMov).cast("double") / 100 /
          count(lit(1)).over(wMov)).as("moving_avg_price"),
        count(lit(1)).over(wRange).as("n_in_qty_band"))
      .sortWithinPartitions(col("l_suppkey"), col("l_orderkey"),
        col("l_linenumber"), col("running_qty"), col("moving_avg_price"),
        col("n_in_qty_band"))
  }

  // Oracle mirrors the Spark plan exactly: same tie-breaker columns in
  // the window ORDER BY, same floor-discretization (Det.sql2 — DuckDB
  // round() is not portable at .xx5 boundaries), same final sort.
  private val winFrameSql = {
    val tieOrder = "l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice"
    s"""SELECT l_suppkey, l_orderkey, l_linenumber,
       |  ${Det.sql2(s"sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY $tieOrder ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} AS running_qty,
       |  ${Det.sql2(s"sum(floor(l_extendedprice * 100 + 0.5)::BIGINT) OVER (PARTITION BY l_suppkey ORDER BY $tieOrder ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)::DOUBLE / 100 / count(*) OVER (PARTITION BY l_suppkey ORDER BY $tieOrder ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)")} AS moving_avg_price,
       |  count(*) OVER (PARTITION BY l_suppkey ORDER BY l_quantity
       |    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS n_in_qty_band
       |FROM lineitem
       |ORDER BY l_suppkey, l_orderkey, l_linenumber,
       |         running_qty, moving_avg_price, n_in_qty_band""".stripMargin
  }

  // --------------------------------------------------------- sort / top-k

  /** ORDER BY + LIMIT → TakeOrderedAndProject (per-partition top-n then
    * driver merge — no full sort at scale). */
  private def sortLimit(s: SparkSession, d: String): DataFrame =
    T.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), Det.r2(col("o_totalprice")).as("price"),
        col("o_orderpriority"))
      .limit(50)

  private val sortLimitSql =
    """SELECT o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100 AS price, o_orderpriority
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin

  /** Top-k per group, written declaratively as row_number-then-filter.
    * Spark's `InferWindowGroupLimit` plans the shape as a partial
    * `WindowGroupLimit` → exchange → sort → final `WindowGroupLimit` →
    * window → filter: each map task keeps at most k rows per group, so
    * only survivors are shuffled, on any session (k ≤
    * `spark.sql.optimizer.windowGroupLimitThreshold`, default 1000). */
  private def topkPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T.orders(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        Det.r2(col("o_totalprice")).as("price"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  private val topkPerGroupSql =
    """SELECT o_custkey, rn, o_orderkey, price FROM (
      |  SELECT o_custkey, o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100 AS price,
      |         row_number() OVER (PARTITION BY o_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // ---------------------------------------------------------------- setops

  private def openCust(s: SparkSession, d: String): DataFrame =
    T.orders(s, d).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))

  private def finCust(s: SparkSession, d: String): DataFrame =
    T.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))

  private def setUnion(s: SparkSession, d: String): DataFrame =
    openCust(s, d).unionByName(finCust(s, d)).distinct()
      .orderBy(col("custkey"))

  private val setUnionSql =
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      |UNION
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY custkey""".stripMargin

  private def setIntersect(s: SparkSession, d: String): DataFrame =
    openCust(s, d).intersect(finCust(s, d)).orderBy(col("custkey"))

  private val setIntersectSql =
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY custkey""".stripMargin

  private def setExcept(s: SparkSession, d: String): DataFrame =
    openCust(s, d).except(finCust(s, d)).orderBy(col("custkey"))

  private val setExceptSql =
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY custkey""".stripMargin

  // -------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_parquet" -> (scanParquet _),
    "q_proj_rename" -> (projRename _),
    "q_filter_pred" -> (filterPred _),
    "q_join_inner" -> (joinInner _),
    "q_join_broadcast" -> (joinBroadcast _),
    "q_join_left" -> (joinLeft _),
    "q_join_full" -> (joinFull _),
    "q_join_semi" -> (joinSemi _),
    "q_join_anti" -> (joinAnti _),
    "q_join_theta" -> (joinTheta _),
    "q_join_range" -> (joinRange _),
    "q_join_asof" -> (joinAsof _),
    "q_agg_hash" -> (aggHash _),
    "q_agg_distinct" -> (aggDistinct _),
    "q_agg_approx" -> (aggApprox _),
    "q_agg_sketch_merge" -> (aggSketchMerge _),
    "q_agg_rollup" -> (aggRollup _),
    "q_agg_cube" -> (aggCube _),
    "q_agg_gsets" -> (aggGsets _),
    "q_agg_collect" -> (aggCollect _),
    "q_agg_custom" -> (aggCustom _),
    "q_win_rank" -> (winRank _),
    "q_win_analytic" -> (winAnalytic _),
    "q_win_frame" -> (winFrame _),
    "q_sort_limit" -> (sortLimit _),
    "q_topk_per_group" -> (topkPerGroup _),
    "q_set_union" -> (setUnion _),
    "q_set_intersect" -> (setIntersect _),
    "q_set_except" -> (setExcept _),
  )

  val oracles: Map[String, String] = Map(
    "q_scan_parquet" -> scanParquetSql,
    "q_proj_rename" -> projRenameSql,
    "q_filter_pred" -> filterPredSql,
    "q_join_inner" -> joinInnerSql,
    "q_join_broadcast" -> joinBroadcastSql,
    "q_join_left" -> joinLeftSql,
    "q_join_full" -> joinFullSql,
    "q_join_semi" -> joinSemiSql,
    "q_join_anti" -> joinAntiSql,
    "q_join_theta" -> joinThetaSql,
    "q_join_range" -> joinRangeSql,
    "q_join_asof" -> joinAsofSql,
    "q_agg_hash" -> aggHashSql,
    "q_agg_distinct" -> aggDistinctSql,
    // q_agg_approx: intentionally no oracle (approximate)
    // q_agg_sketch_merge: no oracle (DataSketches registers are
    // engine-specific); estimate-vs-exact bounds in OperatorSpec
    "q_agg_rollup" -> aggRollupSql,
    "q_agg_cube" -> aggCubeSql,
    "q_agg_gsets" -> aggGsetsSql,
    "q_agg_collect" -> aggCollectSql,
    "q_agg_custom" -> aggCustomSql,
    "q_win_rank" -> winRankSql,
    "q_win_analytic" -> winAnalyticSql,
    "q_win_frame" -> winFrameSql,
    "q_sort_limit" -> sortLimitSql,
    "q_topk_per_group" -> topkPerGroupSql,
    "q_set_union" -> setUnionSql,
    "q_set_intersect" -> setIntersectSql,
    "q_set_except" -> setExceptSql,
  )
}
