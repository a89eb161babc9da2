package graft.ops

import graft.{Query, QueryModule, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar function families (SURVEY.md §2B q_fn_*) — the reference's
  * transformation vocabulary (A14–A27) systematized over the test
  * tables: string synthesis/slicing (facebook.rkt:23-26, meetup.rkt:84),
  * epoch/timezone temporal work (facebook.rkt:22-28, eventbrite.rkt:54-66),
  * nested extraction with defaults (hash.rkt:30-35), array-of-struct
  * transforms (meetup.rkt:55-58) and map/key handling (meetup.rkt:40-41).
  *
  * Everything is `org.apache.spark.sql.functions` builtins — codegen'd
  * by Tungsten, no UDFs — so the whole projection runs inside one
  * WholeStageCodegen span over the scan. At 100 TB these are pure
  * map-side operators: no shuffle except where a query groups first.
  *
  * Dialect notes (oracle = DuckDB):
  *  - DuckDB `dayofweek` is 0-based Sunday, Spark 1-based → oracle +1.
  *  - DuckDB `epoch()` returns DOUBLE → cast BIGINT both sides.
  *  - Spark `posexplode` pos is 0-based → +1 to align with the
  *    oracle's 1-based row_number formulation.
  *  - Doubles that pass through libm (ln/exp/pow) are discretized via
  *    Det.rN floor-rounding, never engine round().
  */
object Functions extends QueryModule {

  // ---------------------------------------------------------- q_fn_string

  /** concat/substring/case/trim/pad/regexp/split/format/like family. */
  private def fnString(s: SparkSession, d: String): DataFrame =
    T.customer(s, d)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("low"),
        substring(col("c_name"), 1, 8).as("name8"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        trim(concat(lit("  "), col("c_mktsegment"), lit("  "))).as("trimmed"),
        regexp_extract(col("c_name"), "([0-9]+)$", 1).cast("long").as("cust_num"),
        regexp_replace(col("c_name"), "0+", "0").as("squeezed"),
        element_at(split(col("c_name"), "#"), 1).as("prefix"),
        format_string("C%08d", col("c_custkey")).as("fmt"),
        reverse(col("c_mktsegment")).as("rev"),
        col("c_mktsegment").like("B%").as("is_b"))
      .orderBy(col("c_custkey"))

  private val fnStringSql =
    """SELECT c_custkey,
      |  upper(c_name) AS up, lower(c_mktsegment) AS low,
      |  substring(c_name, 1, 8) AS name8,
      |  lpad(c_custkey::VARCHAR, 10, '0') AS padded,
      |  trim('  ' || c_mktsegment || '  ') AS trimmed,
      |  regexp_extract(c_name, '([0-9]+)$', 1)::BIGINT AS cust_num,
      |  regexp_replace(c_name, '0+', '0', 'g') AS squeezed,
      |  string_split(c_name, '#')[1] AS prefix,
      |  printf('C%08d', c_custkey) AS fmt,
      |  reverse(c_mktsegment) AS rev,
      |  c_mktsegment LIKE 'B%' AS is_b
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------ q_fn_date

  /** Temporal family: format, extract, arithmetic, truncation, epoch,
    * named-timezone conversion (reference A21/A22 semantics —
    * facebook.rkt:22-28 ISO parse, eventbrite.rkt:54-66 tz resolve). */
  private def fnDate(s: SparkSession, d: String): DataFrame =
    // parRange + trailing sortWithinPartitions (not orderBy): the one
    // exchange carries 2 raw columns, the range sampler scans raw rows
    // (a trailing orderBy re-executes this whole date projection in
    // its sampling pass), and the temporal family evaluates ONCE,
    // after the shuffle.
    T.parRange(s, T.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate")), col("o_orderkey"))
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dy"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
          .as("month_start"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        datediff(to_date(lit("1998-12-31")), col("o_orderdate")).cast("long")
          .as("days_to_98"),
        unix_timestamp(col("o_orderdate")).cast("long").as("epoch_s"),
        // interpret the order date as New York wall time → UTC instant
        // (eventbrite.rkt:54-66 named-tz semantics), compared as epoch
        unix_timestamp(to_utc_timestamp(col("o_orderdate"), "America/New_York"))
          .cast("long").as("epoch_as_ny"))
      .sortWithinPartitions(col("o_orderkey"))

  private val fnDateSql =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS od,
      |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      |  day(o_orderdate) AS dy,
      |  dayofweek(o_orderdate) + 1 AS dow,
      |  quarter(o_orderdate) AS qtr,
      |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
      |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      |  strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end,
      |  date_diff('day', o_orderdate::DATE, DATE '1998-12-31') AS days_to_98,
      |  epoch(o_orderdate)::BIGINT AS epoch_s,
      |  epoch(timezone('America/New_York', o_orderdate))::BIGINT AS epoch_as_ny
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------ q_fn_math

  /** Math family. libm-backed functions (pow/ln/exp) discretized at 1e-4
    * so sub-ulp disagreement between JVM and C libm can't flip the hash. */
  private def fnMath(s: SparkSession, d: String): DataFrame =
    // parRange on the raw (key, line) prefix of the output order: equal
    // prefixes co-locate, so the local sort below (full key list, with
    // the computed tie-breakers) reproduces the exact global orderBy
    // order while libm runs once, post-shuffle, on 5 narrow columns.
    T.parRange(s, T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount")),
        col("l_orderkey"), col("l_linenumber"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Det.r2(col("l_extendedprice") * col("l_discount")).as("disc_amt"),
        floor(col("l_extendedprice")).cast("long").as("flr"),
        ceil(col("l_extendedprice")).cast("long").as("cl"),
        abs(col("l_quantity") - 25).as("dist25"),
        Det.r4(pow(col("l_quantity"), 1.5)).as("q15"),
        Det.r4(log(col("l_extendedprice"))).as("ln_price"),
        Det.r4(exp(col("l_discount"))).as("exp_disc"),
        Det.r4(sqrt(col("l_quantity"))).as("sqrt_q"),
        pmod(col("l_orderkey"), lit(7)).cast("long").as("mod7"),
        signum(col("l_quantity") - 25).cast("long").as("sgn"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"),
        col("disc_amt"), col("flr"), col("dist25"), col("q15"))

  private val fnMathSql = {
    s"""SELECT l_orderkey, l_linenumber,
       |  ${Det.sql2("l_extendedprice * l_discount")} AS disc_amt,
       |  floor(l_extendedprice)::BIGINT AS flr,
       |  ceil(l_extendedprice)::BIGINT AS cl,
       |  abs(l_quantity - 25) AS dist25,
       |  ${Det.sql4("pow(l_quantity, 1.5)")} AS q15,
       |  ${Det.sql4("ln(l_extendedprice)")} AS ln_price,
       |  ${Det.sql4("exp(l_discount)")} AS exp_disc,
       |  ${Det.sql4("sqrt(l_quantity)")} AS sqrt_q,
       |  l_orderkey % 7 AS mod7,
       |  sign(l_quantity - 25)::BIGINT AS sgn
       |FROM lineitem
       |ORDER BY l_orderkey, l_linenumber, disc_amt, flr, dist25, q15""".stripMargin
  }

  // ----------------------------------------------------------- q_fn_array

  /** Array family over per-order quantity vectors: collect → sort →
    * transform/filter/exists/aggregate/slice + posexplode back to rows
    * (reference A19 array-of-struct transform, meetup.rkt:55-58).
    * One shuffle (the groupBy); all lambda ops are per-row after that.
    * l_quantity is integral (verified) so sums are exact and the
    * int-cast join string is stable across engines. */
  private def fnArray(s: SparkSession, d: String): DataFrame =
    // RANGE-keyed par: like the old hash-keyed par, the groupBy reuses
    // this exchange (range partitioning on the key satisfies the
    // aggregation's clustering), but range also carries the FINAL
    // output order, so the trailing orderBy(o_orderkey, pos) becomes a
    // zero-exchange sortWithinPartitions — one shuffle end to end, and
    // the interpreted array lambdas below evaluate once instead of
    // also feeding the orderBy's range-sampling pass.
    T.parRange(s, T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity")), col("l_orderkey"))
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(array_sort(collect_list(col("l_quantity"))).as("qtys"))
      .select(
        col("o_orderkey"),
        posexplode(slice(col("qtys"), 1, 2)).as(Seq("pos0", "qty_small")),
        size(col("qtys")).cast("long").as("n_items"),
        Det.r2(aggregate(col("qtys"), lit(0.0),
          (acc, x) => acc + x)).as("total_qty"),
        array_join(transform(filter(col("qtys"), q => q >= 25),
          q => q.cast("long")), ",").as("big_qtys"),
        exists(col("qtys"), q => q > 45).as("has_gt45"),
        array_contains(col("qtys"), 30.0).as("has_30"))
      .withColumn("pos", (col("pos0") + 1).cast("long"))
      .drop("pos0")
      .sortWithinPartitions(col("o_orderkey"), col("pos"))

  private val fnArraySql =
    """WITH ranked AS (
      |  SELECT l_orderkey AS o_orderkey, l_quantity,
      |         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_quantity) AS pos
      |  FROM lineitem),
      |agg AS (
      |  SELECT l_orderkey AS k,
      |         count(*) AS n_items,
      |         floor((sum(l_quantity)) * 100 + 0.5) / 100 AS total_qty,
      |         coalesce(array_to_string(list_transform(
      |           list_filter(list(l_quantity ORDER BY l_quantity), q -> q >= 25),
      |           q -> q::BIGINT), ','), '') AS big_qtys,
      |         max(l_quantity) > 45 AS has_gt45,
      |         bool_or(l_quantity = 30.0) AS has_30
      |  FROM lineitem GROUP BY 1)
      |SELECT r.o_orderkey, r.l_quantity AS qty_small, a.n_items, a.total_qty,
      |       a.big_qtys, a.has_gt45, a.has_30, r.pos
      |FROM ranked r JOIN agg a ON r.o_orderkey = a.k
      |WHERE r.pos <= 2
      |ORDER BY o_orderkey, pos""".stripMargin

  // ------------------------------------------------------------- q_fn_map

  /** Map family: build a linenumber→quantity map per order
    * (map_from_entries over pre-deduped entries — (l_orderkey,
    * l_linenumber) is NOT unique in the synthetic data, so quantities
    * are summed per line first), then keys/values/element_at/size.
    * Reference A20 key-by semantics (meetup.rkt:40-41). The oracle
    * recomputes the same scalars relationally — the contract is equal
    * values, not equal intermediate representations. */
  private def fnMap(s: SparkSession, d: String): DataFrame =
    // RANGE-keyed par (see fnArray): both groupBys re-use the
    // l_orderkey exchange (range partitioning clusters the key), and
    // the trailing orderBy collapses to a zero-exchange local sort —
    // one shuffle end to end, map lambdas evaluated once.
    T.parRange(s, T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(sum(col("l_quantity")).as("qty"))
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("l_linenumber"), col("qty")))))
        .as("m"))
      .select(
        col("o_orderkey"),
        size(col("m")).cast("long").as("n_keys"),
        array_join(array_sort(map_keys(col("m"))), ",").as("keys_joined"),
        Det.r2(element_at(col("m"), 1)).as("qty_line1"),
        Det.r2(aggregate(map_values(col("m")), lit(0.0), (a, x) => a + x))
          .as("total_qty"))
      .sortWithinPartitions(col("o_orderkey"))

  private val fnMapSql =
    """SELECT l_orderkey AS o_orderkey,
      |  count(DISTINCT l_linenumber) AS n_keys,
      |  array_to_string(list_sort(list(DISTINCT l_linenumber)), ',') AS keys_joined,
      |  floor((sum(CASE WHEN l_linenumber = 1 THEN l_quantity END)) * 100 + 0.5) / 100
      |    AS qty_line1,
      |  floor((sum(l_quantity)) * 100 + 0.5) / 100 AS total_qty
      |FROM lineitem GROUP BY l_orderkey ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------ q_fn_json

  /** JSON family over events.props (reference A14 on raw strings —
    * hash.rkt:30-35 get-in with defaults): path extraction, schema'd
    * parse, tuple extraction, JSON synthesis. All builtins → codegen. */
  private def fnJson(s: SparkSession, d: String): DataFrame =
    // parRange + local sort (see fnDate): JSON parsing runs once,
    // post-shuffle, instead of also inside the orderBy sampling pass;
    // the exchange carries the raw props string, not 5 parsed columns.
    T.parRange(s, T.events(s, d)
        .select(col("event_id"), col("props"), col("event_type"),
          col("user_id")), col("event_id"))
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_path"),
        from_json(col("props"), lit("k LONG")).getField("k").as("k_parsed"),
        coalesce(get_json_object(col("props"), "$.missing"), lit("absent"))
          .as("k_default"),
        json_tuple(col("props"), "k").as("k_tuple"),
        to_json(struct(col("event_type").as("t"), col("user_id").as("u")))
          .as("built"))
      .sortWithinPartitions(col("event_id"))

  private val fnJsonSql =
    """SELECT event_id,
      |  json_extract_string(props, '$.k')::BIGINT AS k_path,
      |  json_extract_string(props, '$.k')::BIGINT AS k_parsed,
      |  coalesce(json_extract_string(props, '$.missing'), 'absent') AS k_default,
      |  json_extract_string(props, '$.k') AS k_tuple,
      |  to_json(struct_pack(t := event_type, u := user_id))::VARCHAR AS built
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------ q_fn_cond

  /** Conditional family: CASE/WHEN ladders, coalesce/nullif/nvl
    * defaults, greatest/least (reference A8 error defaults + A14
    * get-with-default semantics). */
  private def fnCond(s: SparkSession, d: String): DataFrame =
    T.customer(s, d)
      .select(
        col("c_custkey"),
        when(col("c_acctbal") > 7500, lit("gold"))
          .when(col("c_acctbal") > 5000, lit("silver"))
          .otherwise(lit("bronze")).as("tier"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_nb"),
        nullif(col("c_mktsegment"), lit("BUILDING")).isNull.as("is_building"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER"))
          .as("seg_or_other"),
        Det.r2(greatest(col("c_acctbal"), lit(5000.0))).as("bal_floor"),
        Det.r2(least(col("c_acctbal"), lit(5000.0))).as("bal_cap"))
      .orderBy(col("c_custkey"))

  private val fnCondSql =
    """SELECT c_custkey,
      |  CASE WHEN c_acctbal > 7500 THEN 'gold'
      |       WHEN c_acctbal > 5000 THEN 'silver'
      |       ELSE 'bronze' END AS tier,
      |  nullif(c_mktsegment, 'BUILDING') AS seg_nb,
      |  nullif(c_mktsegment, 'BUILDING') IS NULL AS is_building,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
      |  floor((greatest(c_acctbal, 5000.0)) * 100 + 0.5) / 100 AS bal_floor,
      |  floor((least(c_acctbal, 5000.0)) * 100 + 0.5) / 100 AS bal_cap
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------- q_fn_struct

  /** Struct family: named_struct construction, field access, struct
    * equality, nested re-wrapping, and to_json serialization —
    * the ops the normalize core (A15–A18 venue/photos reshaping)
    * leans on, scored as their own family. The json column sticks to
    * STRING/LONG fields: both engines render those identically, while
    * double JSON formatting differs cross-engine. Struct equality
    * compares field-wise in both engines. */
  private def fnStruct(s: SparkSession, d: String): DataFrame =
    T.orders(s, d)
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("st"),
          col("o_orderpriority").as("pr")).as("meta"),
        struct(col("o_custkey").as("ck"),
          struct(year(col("o_orderdate")).cast("long").as("yr")).as("inner"))
          .as("nest"))
      .select(
        col("o_orderkey"),
        col("meta.st").as("status"),
        col("meta.pr").as("priority"),
        (col("meta") === struct(lit("O").as("st"),
          lit("1-URGENT").as("pr"))).as("is_open_urgent"),
        col("nest.inner.yr").as("order_year"),
        to_json(col("meta")).as("meta_json"))
      .orderBy(col("o_orderkey"))
      .limit(2000)

  private val fnStructSql =
    """SELECT o_orderkey,
      |  meta.st AS status, meta.pr AS priority,
      |  meta = struct_pack(st := 'O', pr := '1-URGENT') AS is_open_urgent,
      |  nest.inner.yr AS order_year,
      |  to_json(meta) AS meta_json
      |FROM (
      |  SELECT o_orderkey,
      |    struct_pack(st := o_orderstatus, pr := o_orderpriority) AS meta,
      |    struct_pack(ck := o_custkey,
      |      inner := struct_pack(yr := year(o_orderdate)::BIGINT)) AS nest
      |  FROM orders)
      |ORDER BY o_orderkey LIMIT 2000""".stripMargin

  // ---------------------------------------------------------- q_fn_bitwise

  /** Bitwise family: AND/OR/XOR, shifts, bit_count, and a packed-flags
    * round-trip (set bits → mask test) — the ops fingerprinting and
    * bitmap-index style predicates build on (q_llm_dedup_simhash's
    * banding is exactly `shiftright + & 0xffff`). All codegen'd
    * integer ops, map-side only. Shift semantics agree for the
    * in-range amounts used here (Java masks the amount mod 64, DuckDB
    * doesn't — keep shifts < 64). */
  private def fnBitwise(s: SparkSession, d: String): DataFrame =
    // parRange on the raw (key, line) prefix (see fnMath): the single
    // exchange moves the 4 source integers (not the 10 computed
    // columns), the sampler never re-runs the projection, and the
    // local sort below reproduces the exact global order (k_xor /
    // supp_sl4 tie-breakers are per-row functions, computed in-place).
    T.parRange(s, T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber")),
        col("l_orderkey"), col("l_linenumber"))
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_orderkey").bitwiseAND(col("l_partkey")).as("k_and"),
        col("l_orderkey").bitwiseOR(col("l_partkey")).as("k_or"),
        col("l_orderkey").bitwiseXOR(col("l_partkey")).as("k_xor"),
        bit_count(col("l_orderkey")).cast("long").as("k_bits"),
        shiftleft(col("l_suppkey"), 4).as("supp_sl4"),
        shiftright(col("l_partkey"), 2).as("part_sr2"),
        // packed flags: bit 0 = odd orderkey, bit 1 = odd partkey,
        // bit 2 = linenumber > 3; then a mask test on bit 1
        (col("l_orderkey") % 2 +
          (col("l_partkey") % 2) * 2 +
          when(col("l_linenumber") > 3, 4L).otherwise(0L)).as("flags"),
        ((col("l_orderkey") % 2 +
          (col("l_partkey") % 2) * 2 +
          when(col("l_linenumber") > 3, 4L).otherwise(0L))
          .bitwiseAND(lit(2L)) =!= 0L).as("partkey_odd"))
      // (l_orderkey, l_linenumber) is NOT unique in lineitem (multiple
      // parts can share a line slot), so that prefix alone leaves the
      // tie order engine-dependent. k_xor pins l_partkey (xor is
      // invertible given l_orderkey) and supp_sl4 pins l_suppkey, so
      // every output column is determined at equal sort keys and the
      // comparison is order-stable at any SF.
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"),
        col("k_xor"), col("supp_sl4"))

  private val fnBitwiseSql =
    """SELECT l_orderkey, l_linenumber,
      |  l_orderkey & l_partkey AS k_and,
      |  l_orderkey | l_partkey AS k_or,
      |  xor(l_orderkey, l_partkey) AS k_xor,
      |  bit_count(l_orderkey)::BIGINT AS k_bits,
      |  (l_suppkey << 4) AS supp_sl4,
      |  (l_partkey >> 2) AS part_sr2,
      |  (l_orderkey % 2 + (l_partkey % 2) * 2 +
      |   CASE WHEN l_linenumber > 3 THEN 4 ELSE 0 END) AS flags,
      |  ((l_orderkey % 2 + (l_partkey % 2) * 2 +
      |    CASE WHEN l_linenumber > 3 THEN 4 ELSE 0 END) & 2) <> 0
      |    AS partkey_odd
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, k_xor, supp_sl4""".stripMargin

  // ---------------------------------------------------------- q_fn_binary

  /** Binary / digest family: md5, sha-256, hex and base64 encoding,
    * byte length, and an encode→decode round-trip check — the
    * content-addressing primitives a lakehouse pipeline keys blobs,
    * dedup rows and cache entries with (q_llm_chunk's manifests and
    * q_llm_fingerprint's winnowing both ride on md5). All codegen'd
    * expressions over the UTF-8 bytes of the string; digests are
    * engine-portable by definition, so the DuckDB oracle matches
    * byte-for-byte. Pure map-side projection — no shuffle before the
    * output sort, scales as a single scan. */
  private def fnBinary(s: SparkSession, d: String): DataFrame =
    T.supplier(s, d)
      .select(
        col("s_suppkey"),
        md5(col("s_name")).as("name_md5"),
        sha2(col("s_name"), 256).as("name_sha256"),
        hex(col("s_name").cast("binary")).as("name_hex"),
        base64(col("s_name").cast("binary")).as("name_b64"),
        octet_length(col("s_name")).cast("long").as("name_bytes"),
        (unbase64(base64(col("s_name").cast("binary"))).cast("string")
          === col("s_name")).as("roundtrip_ok"),
        // digest-prefix bucketing: first byte of md5 as an int — the
        // uniform 0-255 partition key content-addressed stores shard on
        conv(substring(md5(col("s_name")), 1, 2), 16, 10)
          .cast("long").as("md5_bucket"))
      .orderBy(col("s_suppkey"))

  private val fnBinarySql =
    """SELECT s_suppkey,
      |  md5(s_name) AS name_md5,
      |  sha256(s_name) AS name_sha256,
      |  hex(s_name) AS name_hex,
      |  base64(s_name::BLOB) AS name_b64,
      |  octet_length(s_name::BLOB)::BIGINT AS name_bytes,
      |  decode(from_base64(base64(s_name::BLOB))) = s_name AS roundtrip_ok,
      |  ('0x' || substring(md5(s_name), 1, 2))::BIGINT AS md5_bucket
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  // ------------------------------------------------------------ q_fn_regex

  /** Regexp family: extract (group capture), replace-all, match test,
    * occurrence count, and an anchored tail capture — the pattern
    * toolkit every text-normalization stage leans on (the reference's
    * URL/photo slicing in normalize.rkt is regexp slicing of exactly
    * this kind). Patterns stay in the RE2-compatible subset (character
    * classes, alternation, anchors — no backrefs/lookaround) so Java
    * regex and DuckDB/RE2 agree; DuckDB's regexp_replace needs the
    * explicit 'g' flag to match Spark's replace-ALL default. All
    * codegen'd map-side expressions; one scan, no shuffle before the
    * output sort. */
  private def fnRegex(s: SparkSession, d: String): DataFrame =
    T.part(s, d)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("no_vowels"),
        col("p_name").rlike("(red|blue|green)").as("has_rgb"),
        regexp_count(col("p_name"), lit("[aeiou]")).cast("long")
          .as("n_vowels"),
        regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("type_tail"),
        regexp_extract(col("p_brand"), "([0-9]+)$", 1).cast("long")
          .as("brand_num"))
      .orderBy(col("p_partkey"))

  private val fnRegexSql =
    """SELECT p_partkey,
      |  regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
      |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
      |  regexp_matches(p_name, '(red|blue|green)') AS has_rgb,
      |  len(regexp_extract_all(p_name, '[aeiou]'))::BIGINT AS n_vowels,
      |  regexp_extract(p_type, '([A-Z]+)$', 1) AS type_tail,
      |  regexp_extract(p_brand, '([0-9]+)$', 1)::BIGINT AS brand_num
      |FROM part ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------- q_fn_url

  /** URL family over synthesized order URLs (reference A24 builds
    * event URLs by string synthesis — normalize.rkt's URL slicing is
    * the inverse): `parse_url` component extraction — protocol, host,
    * path, one query parameter. Spark's parse_url is a native
    * expression wrapping java.net.URI; the oracle re-derives each
    * component with independent regexes rather than a URL parser, so
    * agreement checks the SEMANTICS, not a shared implementation.
    * Web-corpus pipelines run exactly this shape (canonical host /
    * path extraction before URL-level dedup) over trillions of rows —
    * all map-side codegen after the test-fixture spreading
    * repartition (a many-file production table scans parallel and
    * drops it), no other shuffle before the output sort. */
  private def fnUrl(s: SparkSession, d: String): DataFrame =
    // parRange: five parse_url calls per row are the compute; the
    // single-file scan would run them all on one task, and a trailing
    // orderBy would run them TWICE (its range sampler executes the
    // projection). Range-partition the 3 raw columns once, parse after
    // the exchange, local-sort — one shuffle, one evaluation.
    T.parRange(s, T.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority")), col("o_orderkey"))
      .select(col("o_orderkey"),
        concat(lit("https://shop.example.com/o/"),
          col("o_orderkey").cast("string"),
          lit("?cust="), col("o_custkey").cast("string"),
          lit("&prio="),
          regexp_replace(col("o_orderpriority"), "[^0-9A-Za-z-]", ""))
          .as("url"))
      .select(col("o_orderkey"), col("url"),
        parse_url(col("url"), lit("PROTOCOL")).as("scheme"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("cust")).as("q_cust"),
        parse_url(col("url"), lit("QUERY"), lit("prio")).as("q_prio"))
      .sortWithinPartitions(col("o_orderkey"))

  private val fnUrlSql =
    """WITH u AS (
      |  SELECT o_orderkey,
      |         'https://shop.example.com/o/' || o_orderkey::VARCHAR ||
      |         '?cust=' || o_custkey::VARCHAR || '&prio=' ||
      |         regexp_replace(o_orderpriority, '[^0-9A-Za-z-]', '', 'g')
      |           AS url
      |  FROM orders)
      |SELECT o_orderkey, url,
      |  regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
      |  regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
      |  regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1)
      |    AS path,
      |  regexp_extract(url, '[?&]cust=([^&#]*)', 1) AS q_cust,
      |  regexp_extract(url, '[?&]prio=([^&#]*)', 1) AS q_prio
      |FROM u ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------- registry

  val table: Seq[Query] = Seq(
    Query("q_fn_string", fnString, Some(fnStringSql)),
    Query("q_fn_date", fnDate, Some(fnDateSql)),
    Query("q_fn_math", fnMath, Some(fnMathSql)),
    Query("q_fn_array", fnArray, Some(fnArraySql)),
    Query("q_fn_map", fnMap, Some(fnMapSql)),
    Query("q_fn_json", fnJson, Some(fnJsonSql)),
    Query("q_fn_cond", fnCond, Some(fnCondSql)),
    Query("q_fn_struct", fnStruct, Some(fnStructSql)),
    Query("q_fn_bitwise", fnBitwise, Some(fnBitwiseSql)),
    Query("q_fn_binary", fnBinary, Some(fnBinarySql)),
    Query("q_fn_regex", fnRegex, Some(fnRegexSql)),
    Query("q_fn_url", fnUrl, Some(fnUrlSql)),
  )
}
