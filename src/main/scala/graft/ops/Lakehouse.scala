package graft.ops

import graft.{Gate, LocalFs, QueryModule, Tables => T}
import graft.GraftSession.withConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Table-maintenance and time-series operators a lakehouse deployment
  * of the engine runs daily: MERGE-style upsert (the shuffle-join core
  * of Delta/Iceberg MERGE INTO), time-series gap fill with forward
  * fill (resampling event logs onto a regular grid), and a salted
  * join — the standard skew-mitigation rewrite, oracle-checked to be
  * result-identical to the plain join it replaces.
  */
object Lakehouse extends QueryModule {

  // --------------------------------------------------------- q_merge_upsert

  /** MERGE INTO semantics over the orders table: a 10% update batch
    * (re-priced rows) plus a 1% insert batch (new keys) merged into
    * the base in ONE full-outer shuffle join on the key — matched
    * rows take the update's values, unmatched-right rows insert,
    * unmatched-left rows pass through. This is exactly the join Delta
    * Lake's MERGE plans after file pruning; at 100 TB the base side
    * prunes to the files whose key ranges overlap the batch (storage
    * concern, orthogonal to the join), AQE broadcasts the batch when
    * it is small, and the action column is the audit trail a writer
    * would use to split copy-unchanged from rewrite work. */
  private def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = T.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // update batch: every 10th key, 5% price bump (r2-discretized so
    // both engines carry identical doubles into the merge)
    val upd = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("k"),
        lit(null).cast("string").as("u_status"),
        Det.r2(col("o_totalprice") * 1.05).as("u_price"))
    // insert batch: every 100th key re-keyed past the base key space.
    // The offset is DERIVED from max(o_orderkey) (next 10M multiple
    // above it), not a fixed constant: a fixed +10M collides with the
    // base keys once the table outgrows 10M keys (dbgen SF≥2), and a
    // collided key is simultaneously "update" and "insert" — duplicate
    // output keys and a tie-unstable ordered dump (review r13). At
    // today's SFs max < 1e7 so the derived offset IS 10M — values
    // unchanged. Bounded 1-row driver probe (the hotKeyShare /
    // classGraphLocal pattern) rather than a 1-row cross join, which
    // plans as the BroadcastNestedLoopJoin the plan audit forbids;
    // a real MERGE writer knows the target's key bound from table
    // stats the same way.
    val offRow = base.agg(expr(
      "(max(o_orderkey) DIV 10000000 + 1) * 10000000").as("off")).head
    // empty base: max is NULL; any offset works (no keys to collide)
    val off = if (offRow.isNullAt(0)) 10000000L else offRow.getLong(0)
    val ins = base.filter(col("o_orderkey") % 100 === 0)
      .select((col("o_orderkey") + lit(off)).as("k"),
        lit("N").as("u_status"), lit(42.42).as("u_price"))
    val batch = upd.unionByName(ins)
    base.join(batch, col("o_orderkey") === col("k"), "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("k")).as("key"),
        coalesce(col("u_status"), col("o_orderstatus")).as("status"),
        coalesce(col("u_price"), col("o_totalprice")).as("price"),
        when(col("o_orderkey").isNull, "insert")
          .when(col("k").isNull, "keep")
          .otherwise("update").as("action"))
      .orderBy(col("key"))
  }

  private val mergeUpsertSql =
    s"""WITH off AS (
       |  SELECT (max(o_orderkey) // 10000000 + 1) * 10000000 AS o
       |  FROM orders),
       |batch AS (
       |  SELECT o_orderkey AS k, NULL::VARCHAR AS u_status,
       |         ${Det.sql2("o_totalprice * 1.05")} AS u_price
       |  FROM orders WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_orderkey + (SELECT o FROM off), 'N', 42.42
       |  FROM orders WHERE o_orderkey % 100 = 0)
       |SELECT coalesce(b.o_orderkey, u.k) AS key,
       |       coalesce(u.u_status, b.o_orderstatus) AS status,
       |       coalesce(u.u_price, b.o_totalprice) AS price,
       |       CASE WHEN b.o_orderkey IS NULL THEN 'insert'
       |            WHEN u.k IS NULL THEN 'keep'
       |            ELSE 'update' END AS action
       |FROM orders b FULL JOIN batch u ON b.o_orderkey = u.k
       |ORDER BY key""".stripMargin

  // ----------------------------------------------------------- q_ts_gapfill

  /** Resample the events log onto a regular hourly grid per event
    * type: aggregate to (type, hour), build each series' complete
    * hour spine with `sequence(min, max, 1 hour)` + explode (no
    * cartesian — the spine derives from the series' own bounds row),
    * left-join observations back, and forward-fill gaps with the
    * window `last(value, ignoreNulls)`. Timestamps are exact epoch
    * microseconds on output (the portable events contract, see
    * Tables.events). Scale shape: the heavy input collapses to
    * |types × hours| rows at the FIRST aggregation; everything after
    * runs on the tiny grid, and the fill window partitions by series
    * so a 1000-series × 10-year grid is still ~88k rows per task at
    * worst. */
  private def tsGapfill(s: SparkSession, d: String): DataFrame =
    // shared engine core (review r13 — this body was a verbatim copy
    // of tsInterp's front half plus a hand-rolled spine that lacked
    // gridSpineOver's sequence-length cap and NULL-bounds handling):
    // hourly exact-grid aggregation + dense spine + forward fill,
    // selecting ff_val where tsInterp selects interp_val. Exact-grid
    // rationale and the raise-don't-wrap guard live on
    // TimeSeries.hourlyAvg.
    TimeSeries.gridSpineOver(TimeSeries.hourlyAvg(s, d, "gapfill"),
        "event_type", "hour_us", "avg_val", 3600L * 1000000L)
      .select(col("event_type"), col("hour_us"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("avg_val"), col("ff_val"))
      .orderBy(col("event_type"), col("hour_us"))

  private val tsGapfillSql =
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
       |       FROM b)
       |SELECT sp.event_type, epoch_us(sp.hr) AS hour_us,
       |       coalesce(h.n_events, 0) AS n_events, h.avg_val,
       |       last_value(h.avg_val IGNORE NULLS) OVER (
       |         PARTITION BY sp.event_type ORDER BY sp.hr
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff_val
       |FROM sp LEFT JOIN h ON sp.event_type = h.event_type AND sp.hr = h.hr
       |ORDER BY sp.event_type, hour_us""".stripMargin

  // ------------------------------------------------------ q_join_skew_salted

  private val NSalt = 8

  /** Hot-key-share crossover below which salting measurably LOSES
    * (SCALE.md round-10 salted-join table, sf1/sf3: wins 1.40-1.71× at
    * ≥30% planted hot-key share, loses under uniform keys — the ×NSalt
    * dim inflation and second hash column aren't free). */
  private[graft] val MinHotShare = 0.30

  /** Sampled key-histogram probe: share of the fact side's sampled
    * rows carried by its single hottest key. One column-pruned
    * sample-scan job (the scan reads ONE column; fraction sized so
    * the aggregated sample is ~1e4 rows at test SF — at 100 TB you'd
    * drop the fraction, the estimator only needs enough rows to
    * resolve shares near the 0.30 threshold). Deterministic seed so
    * the route — never the results, both branches are oracle-equal —
    * is stable across runs. */
  private[graft] def hotKeyShare(df: DataFrame, key: String,
                                 fraction: Double = 0.02): Double = {
    val r = df.select(col(key).as("__k")).sample(fraction, seed = 7L)
      .groupBy(col("__k")).count()
      .agg(max(col("count")).cast("double"), sum(col("count")).cast("double"))
      .head()
    if (r.isNullAt(1) || r.getDouble(1) == 0.0) 0.0
    else r.getDouble(0) / r.getDouble(1)
  }

  /** Probe results memoized per source-content signature (the
    * joinBucketed cache pattern): the hot-key share is a property of
    * the data, so same process + same file content ⇒ same estimate —
    * repeat invocations (bench passes, repeated reads) skip the
    * sample-scan job, and a regenerated file re-probes. */
  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Route for [[joinSkewSalted]], the `salt` [[Gate]]: salted iff the
    * probe sees a hot key at-or-past the measured crossover.
    * [[Gate.Key]] (small = plain, large = salted) pins a branch
    * for specs and benchmarks without running the sample-scan job. */
  private[graft] def saltRoute(s: SparkSession, li: DataFrame,
                               dir: Option[String] = None): Boolean =
    Gate.large(s, "salt", dir match {
      case Some(d) =>
        val key = d + "#" + srcSig(s, d, Seq("lineitem.parquet"))
        probeCache.computeIfAbsent(key,
          _ => hotKeyShare(li, "l_suppkey")).doubleValue()
      case None => hotKeyShare(li, "l_suppkey")
    }, MinHotShare)

  /** The salting rewrite for skewed join keys as a STATS-DRIVEN pick
    * (the LocalGraphStrategy pattern): a sampled key-histogram probe
    * routes between the plain shuffle join and the salted two-phase
    * shape — the fact side gets a deterministic salt in [0, NSalt)
    * hashed from its row identity; the dimension side replicates each
    * row NSalt times (explode over the salt range); the join key
    * becomes (key, salt) so one hot key's rows spread across NSalt
    * reducers instead of one. At 100 TB the salted branch is the
    * manual fallback when AQE's skew split can't help (e.g. a skewed
    * key feeding an aggregation that needs the join's partitioning);
    * the dimension inflation is ×NSalt on the SMALL side only. Both
    * branches are oracle-equal (the whole point — SaltRouteSpec
    * forces each and pins equality); the probe picks the one the
    * key distribution actually rewards. */
  private def joinSkewSalted(s: SparkSession, d: String): DataFrame = {
    val li = T.lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
    val sup = T.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"))
    val joined =
      if (saltRoute(s, li, Some(d))) {
        val lis = li.withColumn("salt",
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(NSalt)))
        val sups = sup
          .withColumn("salt", explode(sequence(lit(0L), lit(NSalt - 1L))))
        lis.join(sups,
          lis("l_suppkey") === sups("s_suppkey") && lis("salt") === sups("salt"))
      } else li.join(sup, li("l_suppkey") === sup("s_suppkey"))
    joined
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        Det.r2(sum(col("l_extendedprice"))).as("revenue"))
      .orderBy(col("s_nationkey"))
  }

  private val joinSkewSaltedSql =
    s"""SELECT s_nationkey, count(*) AS n_items,
       |       ${Det.sql2("sum(l_extendedprice)")} AS revenue
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // ------------------------------------------------------------ q_join_bucketed

  /** Driver-side content signature (name + length + mtime, recursive
    * over multi-file parquet dirs) of the join's source files. Rides
    * in the bucketed table name so regenerating the parquet under the
    * SAME dir within one process yields new table names — the cached
    * layout can never silently serve stale data. The fold is an
    * order-sensitive FNV-style mix over name-sorted children (NOT a
    * plain XOR: two identical sibling part-files would cancel to 0
    * and distinct directory contents could alias), so any change to
    * a child's name, size, mtime, or the child set itself changes
    * the signature. Pure fs metadata: no job, no read. Resolved
    * through Hadoop's FileSystem, NOT java.io.File (review r13 — the
    * same remote-dir bug class as eventsStream's r12 isDir probe): a
    * local-only probe reads length 0 / mtime 0 for every hdfs://-s3a://
    * path, degenerating the signature to a constant of the file NAME,
    * so a regenerated remote table would silently reuse the stale
    * bucketed layout and the stale skew probe. For local paths the
    * metadata values are identical, so existing signatures (and cached
    * table names) are unchanged. */
  private def srcSig(s: SparkSession, d: String, files: Seq[String]): String = {
    val conf = s.sparkContext.hadoopConfiguration
    def mix(h: Long, v: Long): Long = (h ^ v) * 0x100000001b3L
    def sig(fs: org.apache.hadoop.fs.FileSystem,
            st: org.apache.hadoop.fs.FileStatus): Long = {
      val self = mix(mix(st.getPath.getName.hashCode.toLong, st.getLen),
        st.getModificationTime)
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName)
          .foldLeft(self)((h, c) => mix(h, sig(fs, c)))
      else self
    }
    val h = files.foldLeft(0xcbf29ce484222325L) { (acc, f) =>
      val p = new org.apache.hadoop.fs.Path(s"$d/$f")
      val fs = p.getFileSystem(conf)
      val v =
        try sig(fs, fs.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => 0L }
      mix(acc, v)
    }
    java.lang.Long.toHexString(h)
  }

  /** Bucketed co-located join — the OTHER big layout lever at 100 TB
    * (partition pruning kills the scan; bucketing kills the join
    * shuffle): both join sides land as `bucketBy(N, key)` tables, so
    * the shuffle is paid ONCE at write time and every subsequent join
    * or aggregation on the key is exchange-free — rows with equal keys
    * are already in the same bucket file on both sides. This is the
    * standard lakehouse layout for a fact⋈fact join too big to
    * broadcast (lineitem⋈orders here): at 100 TB the nightly join of
    * two co-bucketed 50 TB tables moves ZERO bytes between executors.
    * The join is forced to sort-merge (`hint("merge")`) so the
    * demonstration doesn't silently degrade to a broadcast at test SF;
    * ScaleTechniquesSpec asserts the executed join subtree contains no
    * Exchange. The oracle runs the identical join over the ORIGINAL
    * unpartitioned parquet — physical layout must never change
    * results. The scored query buckets into `n` = the session's
    * parallelism: bucketing caps the join's parallelism at `n`, and
    * the SCALE.md round-10 bucketed-layout table measured buckets=8
    * capping this box's join at 8 tasks where buckets=cores ran
    * 1.5-2.1× faster. Every co-bucketed writer must agree on it (the
    * table name carries the count, so a mismatch surfaces as distinct
    * tables, not silent re-shuffles); layout never changes results. */
  private[graft] def joinBucketed(s: SparkSession, d: String,
                                  n: Int): DataFrame = {
    val dir = graft.Scratch.dir("bucketed")
    val tag = d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      srcSig(s, d, Seq("lineitem.parquet", "orders.parquet")) + s"_b$n"
    val (liT, ordT) = (s"graft_bkt_li_$tag", s"graft_bkt_ord_$tag")
    // write-once semantics, for real: the layout is the ingest job's
    // one-time work, so repeat invocations in the same process (bench
    // passes, repeated reads) reuse the existing tables instead of
    // re-paying the write — which is precisely the amortization the
    // lever exists for (break-even in SCALE.md's round-10 table). The
    // table name carries the dir tag, a source-content signature and
    // the bucket count, so a different SF, a regenerated source file,
    // or a re-configured bucket count never aliases a stale layout.
    // LocalFs.conf on the session, not as writer options: a
    // saveAsTable's options become catalog table properties, while the
    // session conf reaches the write job's Hadoop conf
    if (!s.catalog.tableExists(liT) || !s.catalog.tableExists(ordT))
      withConf(s, LocalFs.conf) {
        T.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity"))
          .write.mode("overwrite")
          .bucketBy(n, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$dir/$liT").saveAsTable(liT)
        T.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
          .write.mode("overwrite")
          .bucketBy(n, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$dir/$ordT").saveAsTable(ordT)
      }
    s.table(liT)
      .join(s.table(ordT).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        Det.r2(sum(col("l_extendedprice"))).as("revenue"),
        Det.r2(sum(col("l_quantity"))).as("total_qty"))
      .orderBy(col("o_orderpriority"))
  }

  private val joinBucketedSql =
    s"""SELECT o_orderpriority, count(*) AS n_items,
       |       ${Det.sql2("sum(l_extendedprice)")} AS revenue,
       |       ${Det.sql2("sum(l_quantity)")} AS total_qty
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------- q_lake_scd2

  /** Slowly-changing-dimension type 2 built from the raw event log:
    * each user's event_type is treated as a mutable attribute, and
    * every CHANGE in the (ts, event_id)-ordered stream opens a new
    * version row with [valid_from, valid_to) bounds — `valid_to` =
    * next version's start via `lead`, NULL marking the current row.
    * This is the history-table build every warehouse dimension load
    * runs; the total order (unique event_id tie-break) is what makes
    * the versioning deterministic under any partitioning. ONE shuffle
    * on user_id serves the change-detection lag, the version
    * row_number and the closing lead (same window partitioning);
    * change rows are a fraction of the log, so the second window pass
    * runs on the collapsed frame. Timestamps are exact epoch µs (the
    * portable events contract, see Tables.events). */
  private def lakeScd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    // parRange(user_id): the one exchange serves all three window
    // passes AND the output order, so the trailing orderBy — whose
    // range sampler re-executed the whole change-detection + versioning
    // subtree — becomes a zero-exchange local sort (r14 pattern;
    // LocalSortOrderSpec pins the order premise).
    val changes = T.parRange(s, T.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus")), col("user_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    changes
      .select(col("user_id"),
        row_number().over(w).cast("long").as("version"),
        col("event_type").as("state"),
        col("tus").as("valid_from_us"),
        lead(col("tus"), 1).over(w).as("valid_to_us"),
        lead(col("tus"), 1).over(w).isNull.as("is_current"))
      .sortWithinPartitions(col("user_id"), col("version"))
  }

  private val lakeScd2Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |         epoch_us(make_timestamp(epoch_us(ts))) AS tus
      |  FROM events),
      |c AS (
      |  SELECT user_id, event_id, event_type, tus,
      |         lag(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY tus, event_id) AS prev
      |  FROM e),
      |v AS (
      |  SELECT user_id, event_id, event_type, tus FROM c
      |  WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id,
      |       row_number() OVER w AS version,
      |       event_type AS state,
      |       tus AS valid_from_us,
      |       lead(tus) OVER w AS valid_to_us,
      |       lead(tus) OVER w IS NULL AS is_current
      |FROM v WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
      |ORDER BY user_id, version""".stripMargin

  // -------------------------------------------------------------- q_dq_audit

  /** Data-quality audit — the pre-ingest gate a lakehouse pipeline
    * runs before promoting a batch: row counts, domain violations,
    * null checks, duplicate keys and referential-integrity orphans,
    * emitted as (table, check, n) metric rows. Scale shape: checks on
    * the SAME table fuse into one conditional-aggregate scan (one
    * pass over lineitem covers count + domain; one pass over events
    * covers null + range), and the two lineitem↔orders checks share
    * ONE left join (orphans = null probe side, date-sanity = predicate
    * on matched rows) — so the audit costs two wide-table scans, one
    * shuffle join and three dimension-sized passes, not one scan per
    * check. Each aggregate is map-side combined; the unioned output is
    * |checks| rows. */
  private def dqAudit(s: SparkSession, d: String): DataFrame = {
    def metrics(tbl: String, agg: DataFrame): DataFrame = {
      val pairs = agg.columns.flatMap(c => Seq(lit(c), col(c)))
      agg.select(explode(map(pairs.toIndexedSeq: _*)))
        .select(lit(tbl).as("table_name"), col("key").as("check_name"),
          col("value").as("n"))
    }
    // one fused scan per table: conditional aggregates, not one
    // scan per check
    val ev = metrics("events", T.events(s, d).agg(
      coalesce(sum(when(col("props").isNull, 1L).otherwise(0L)), lit(0L))
        .as("null_props"),
      coalesce(sum(when(col("value") < 0 || col("value") > 1000, 1L)
        .otherwise(0L)), lit(0L)).as("value_out_of_range")))
    val doc = metrics("documents", T.documents(s, d).agg(
      coalesce(sum(when(length(trim(col("text"))) === 0, 1L).otherwise(0L)),
        lit(0L)).as("empty_text")))
    // ALL FOUR lineitem checks ride ONE left join pass (r15): the join
    // is 1:1 when o_orderkey is the orders primary key — the premise
    // the dup_orderkey check below audits — so row_count and
    // the quantity domain check aggregate over liOrd exactly as they
    // did over the bare scan — the standalone lineitem scan + its own
    // global-agg stage wave are gone, at the cost of one 8-byte column
    // (l_quantity) through the existing join. Unmatched rows are the
    // orphans, matched rows carry the date-sanity predicate.
    val liOrd = T.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
      .join(T.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
    val liJoin = metrics("lineitem", liOrd.agg(
      count(lit(1)).as("row_count"),
      coalesce(sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)), lit(0L))
        .as("nonpositive_qty"),
      coalesce(sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)),
        lit(0L)).as("orphan_orderkey"),
      coalesce(sum(when(col("o_orderkey").isNotNull &&
        col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L)),
        lit(0L)).as("ship_before_order")))
    val ordCust = metrics("orders", T.orders(s, d)
      .join(T.customer(s, d),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_custkey")))
    val dupCust = metrics("customer", T.customer(s, d)
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .agg(count(lit(1)).as("dup_custkey")))
    val dupOrd = metrics("orders", T.orders(s, d)
      .groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .agg(count(lit(1)).as("dup_orderkey")))
    ev.union(doc).union(liJoin).union(ordCust).union(dupCust).union(dupOrd)
      // |checks|-row result (10 at any SF): single-partition exchange +
      // local sort, not a range-sampled orderBy — the order-statistics
      // family's bounded-output criterion applies verbatim
      .repartition(1)
      .sortWithinPartitions(col("table_name"), col("check_name"))
  }

  private val dqAuditSql =
    """SELECT * FROM (
      |  SELECT 'lineitem' AS table_name, 'row_count' AS check_name,
      |         count(*)::BIGINT AS n FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem', 'nonpositive_qty',
      |         coalesce(sum(CASE WHEN l_quantity <= 0 THEN 1 END), 0)::BIGINT
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'events', 'null_props',
      |         coalesce(sum(CASE WHEN props IS NULL THEN 1 END), 0)::BIGINT
      |  FROM events
      |  UNION ALL
      |  SELECT 'events', 'value_out_of_range',
      |         coalesce(sum(CASE WHEN value < 0 OR value > 1000 THEN 1 END), 0)::BIGINT
      |  FROM events
      |  UNION ALL
      |  SELECT 'documents', 'empty_text',
      |         coalesce(sum(CASE WHEN length(trim(text)) = 0 THEN 1 END), 0)::BIGINT
      |  FROM documents
      |  UNION ALL
      |  SELECT 'lineitem', 'orphan_orderkey', count(*)::BIGINT
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_orderkey IS NULL
      |  UNION ALL
      |  SELECT 'lineitem', 'ship_before_order', count(*)::BIGINT
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_shipdate < o.o_orderdate
      |  UNION ALL
      |  SELECT 'orders', 'orphan_custkey', count(*)::BIGINT
      |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_custkey IS NULL
      |  UNION ALL
      |  SELECT 'customer', 'dup_custkey', count(*)::BIGINT
      |  FROM (SELECT c_custkey FROM customer
      |        GROUP BY c_custkey HAVING count(*) > 1)
      |  UNION ALL
      |  SELECT 'orders', 'dup_orderkey', count(*)::BIGINT
      |  FROM (SELECT o_orderkey FROM orders
      |        GROUP BY o_orderkey HAVING count(*) > 1)
      |) ORDER BY table_name, check_name""".stripMargin

  // -------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_merge_upsert" -> (mergeUpsert _),
    "q_ts_gapfill" -> (tsGapfill _),
    "q_join_skew_salted" -> (joinSkewSalted _),
    "q_join_bucketed" ->
      ((s: SparkSession, d: String) =>
        joinBucketed(s, d, s.sparkContext.defaultParallelism)),
    "q_lake_scd2" -> (lakeScd2 _),
    "q_dq_audit" -> (dqAudit _),
  )

  val oracles: Map[String, String] = Map(
    "q_merge_upsert" -> mergeUpsertSql,
    "q_ts_gapfill" -> tsGapfillSql,
    // deliberately the UNSALTED join: salting must not change results
    "q_join_skew_salted" -> joinSkewSaltedSql,
    // deliberately the PLAIN-parquet join: layout must not change results
    "q_join_bucketed" -> joinBucketedSql,
    "q_lake_scd2" -> lakeScd2Sql,
    "q_dq_audit" -> dqAuditSql,
  )
}
