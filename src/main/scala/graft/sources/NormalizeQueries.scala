package graft.sources

import graft.{Query, QueryModule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The cuttlefish pipeline as a scored query: raw JSON scans (explicit
  * schemas) → per-adapter normalize → dispatch union → error channel,
  * flattened to scalars for the oracle compare. The DuckDB oracle
  * re-derives every transformation (epoch/tz math, offset parsing,
  * markdown envelope, defaults, masking) from the same fixture files —
  * a full semantic check of the normalize core, not just a scan. */
object NormalizeQueries extends QueryModule {

  val fixturesDir: String =
    sys.env.getOrElse("SPARK_GRAFT_FIXTURES", "/root/repo/fixtures")

  private def scanJson(s: SparkSession, d: String): DataFrame =
    Normalize.readFixtures(s, fixturesDir).select(
      col("event_id"), col("chapter"), col("url"), col("time"),
      col("utcOffset"), col("title"), col("description"),
      col("venue.name").as("venue_name"),
      col("venue.address1").as("venue_address1"),
      col("venue.address2").as("venue_address2"),
      col("venue.country").as("venue_country"),
      col("venue.city").as("venue_city"),
      col("venue.postalCode").as("venue_postal"),
      col("venue.lon").as("venue_lon"),
      col("venue.lat").as("venue_lat"),
      size(col("photos")).cast("long").as("n_photos"),
      col("error"))
      // null ordering pinned on ALL sort columns — Spark defaults
      // NULLS FIRST, DuckDB NULLS LAST; a null chapter (possible: the
      // error messages handle it) or an implicit `error` would flip
      // row order between the engines (review r12 widened this from
      // the tie-breakers to the primary column too)
      .orderBy(asc_nulls_first("chapter"), asc_nulls_first("event_id"),
        asc_nulls_first("error"))

  private val mdSql: String = {
    // DuckDB rendering of Normalize.renderMarkdown: escape, [t](u)
    // links, *em*, then per-block header / list / paragraph, div wrap —
    // same pass order and block rules as the UDF (links before
    // emphasis; a header is a single-line block of 1-6 #'s + space; a
    // list is a block where EVERY line starts with "- "; an ordered
    // list is a block where every line matches '^[0-9]+\. ').
    val esc = "replace(replace(replace(description, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    val code = s"regexp_replace($esc, '`([^`]+)`', '<code>\\1</code>', 'g')"
    val links = s"regexp_replace($code, " +
      """'\[([^\]]+)\]\(([^)\s]+)\)', '<a href="\2">\1</a>', 'g')"""
    val bold =
      s"regexp_replace($links, '\\*\\*([^*]+)\\*\\*', '<strong>\\1</strong>', 'g')"
    val em = s"regexp_replace($bold, '\\*([^*]+)\\*', '<em>\\1</em>', 'g')"
    val hLvl = "length(regexp_extract(p, '^(#+) ', 1))"
    // single-line: this snippet is embedded in scanJsonSql, whose outer
    // stripMargin would otherwise eat a leading '|' of a wrapped '||'
    val block =
      "CASE " +
        s"WHEN regexp_matches(p, '^#{1,6} ') AND NOT contains(p, chr(10)) " +
        s"THEN '<h' || $hLvl || '>' || regexp_replace(p, '^#+ ', '') " +
        s"|| '</h' || $hLvl || '>' " +
        "WHEN len(list_filter(string_split(p, chr(10)), " +
        "l -> NOT starts_with(l, '- '))) = 0 " +
        "THEN '<ul>' || array_to_string(list_transform(" +
        "string_split(p, chr(10)), l -> '<li>' || l[3:] || '</li>'), '') " +
        "|| '</ul>' " +
        "WHEN len(list_filter(string_split(p, chr(10)), " +
        """l -> NOT regexp_matches(l, '^[0-9]+\. '))) = 0 """ +
        "THEN '<ol>' || array_to_string(list_transform(" +
        "string_split(p, chr(10)), " +
        """l -> '<li>' || regexp_replace(l, '^[0-9]+\. ', '') || '</li>'), '') """ +
        "|| '</ol>' " +
        "ELSE '<p>' || p || '</p>' END"
    "'<div class=\"event-api-content\">' || array_to_string(" +
      s"list_transform(string_split($em, chr(10) || chr(10)), " +
      s"p -> $block), '') || '</div>'"
  }

  private val scanJsonSql = {
    val fx = fixturesDir
    val fbTs = "try_strptime(start_time, '%Y-%m-%dT%H:%M:%S%z')"
    val ebLocal = "try_strptime(start.\"local\", '%Y-%m-%dT%H:%M:%S')"
    val ebUtcE = s"epoch(timezone(start.timezone, $ebLocal))::BIGINT"
    s"""WITH m_raw AS (SELECT * FROM read_json('$fx/raw_meetup.jsonl', format='newline_delimited')),
       |f_raw AS (SELECT * FROM read_json('$fx/raw_facebook.jsonl', format='newline_delimited')),
       |e_raw AS (SELECT * FROM read_json('$fx/raw_eventbrite.jsonl', format='newline_delimited')),
       |c_raw AS (SELECT * FROM read_json('$fx/chapters.jsonl', format='newline_delimited')),
       |m AS (SELECT
       |  id AS event_id, chapter, link AS url, time, utc_offset AS utcOffset,
       |  name AS title, description,
       |  venue.name AS venue_name, venue.address_1 AS venue_address1,
       |  venue.address_2 AS venue_address2, venue.country AS venue_country,
       |  venue.city AS venue_city, venue.zip AS venue_postal,
       |  venue.lon AS venue_lon, venue.lat AS venue_lat,
       |  coalesce(len(photo_album.photo_sample), 0)::BIGINT AS n_photos,
       |  CASE WHEN id IS NULL THEN 'ERROR: missing id for event ''' ||
       |       coalesce(name, '<null>') ||
       |       ''' in chapter ' || coalesce(chapter, '<null>') END AS error
       |  FROM m_raw),
       |f AS (SELECT
       |  id AS event_id, chapter, 'https://facebook.com/' || id AS url,
       |  epoch($fbTs)::BIGINT * 1000 AS time,
       |  CASE WHEN regexp_matches(start_time, '[+-][0-9]{2}:?([0-9]{2})?$$') THEN
       |    (CASE WHEN regexp_extract(start_time, '([+-])[0-9]{2}:?([0-9]{2})?$$', 1) = '-'
       |          THEN -1 ELSE 1 END) *
       |    (regexp_extract(start_time, '[+-]([0-9]{2}):?([0-9]{2})?$$', 1)::BIGINT * 3600 +
       |     coalesce(nullif(regexp_extract(start_time, '[+-][0-9]{2}:?([0-9]{2})?$$', 1), ''), '0')::BIGINT * 60) * 1000
       |  END AS utcOffset,
       |  name AS title,
       |  $mdSql AS description,
       |  place.name AS venue_name, place.location.street AS venue_address1,
       |  NULL::VARCHAR AS venue_address2, place.location.country AS venue_country,
       |  place.location.city AS venue_city, place.location.zip AS venue_postal,
       |  place.location.longitude AS venue_lon, place.location.latitude AS venue_lat,
       |  NULL::BIGINT AS n_photos,
       |  CASE WHEN id IS NULL THEN 'ERROR: missing id for event ''' ||
       |       coalesce(name, '<null>') ||
       |       ''' in chapter ' || coalesce(chapter, '<null>')
       |       WHEN $fbTs IS NULL THEN 'ERROR: unparseable start_time ''' ||
       |       coalesce(start_time, '<null>') || ''' for event ' || id ||
       |       ' in chapter ' || coalesce(chapter, '<null>')
       |  END AS error
       |  FROM f_raw),
       |e AS (SELECT
       |  ($ebUtcE * 1000)::VARCHAR AS event_id, chapter, url,
       |  $ebUtcE * 1000 AS time,
       |  (epoch($ebLocal)::BIGINT - $ebUtcE) * 1000 AS utcOffset,
       |  name.text AS title, description.html AS description,
       |  venue.name AS venue_name, venue.address.address_1 AS venue_address1,
       |  venue.address.address_2 AS venue_address2,
       |  venue.address.country AS venue_country, venue.address.city AS venue_city,
       |  venue.address.postal_code AS venue_postal,
       |  venue.longitude::DOUBLE AS venue_lon, venue.latitude::DOUBLE AS venue_lat,
       |  NULL::BIGINT AS n_photos,
       |  CASE WHEN $ebLocal IS NULL THEN 'ERROR: unparseable start.local for event '
       |       || coalesce(id, '<null>') || ' in chapter ' || coalesce(chapter, '<null>')
       |       WHEN start.timezone IS NULL THEN
       |       'ERROR: missing start.timezone for event ' || coalesce(id, '<null>') ||
       |       ' in chapter ' || coalesce(chapter, '<null>') END AS error
       |  FROM e_raw),
       |u AS (SELECT
       |  NULL::VARCHAR AS event_id, chapter, NULL::VARCHAR AS url,
       |  NULL::BIGINT AS time, NULL::BIGINT AS utcOffset, NULL::VARCHAR AS title,
       |  NULL::VARCHAR AS description, NULL::VARCHAR AS venue_name,
       |  NULL::VARCHAR AS venue_address1, NULL::VARCHAR AS venue_address2,
       |  NULL::VARCHAR AS venue_country, NULL::VARCHAR AS venue_city,
       |  NULL::VARCHAR AS venue_postal, NULL::DOUBLE AS venue_lon,
       |  NULL::DOUBLE AS venue_lat, NULL::BIGINT AS n_photos,
       |  'ERROR: No adapter ' || coalesce(adapter, '<null>') ||
       |  ' found for chapter ' ||
       |  coalesce(chapter, '<null>') AS error
       |  FROM c_raw WHERE adapter IS NULL
       |     OR adapter NOT IN ('meetup', 'facebook', 'eventbrite')),
       |all_rows AS (
       |  SELECT * FROM m UNION ALL SELECT * FROM f
       |  UNION ALL SELECT * FROM e UNION ALL SELECT * FROM u)
       |SELECT
       |  CASE WHEN error IS NULL THEN event_id END AS event_id, chapter,
       |  CASE WHEN error IS NULL THEN url END AS url,
       |  CASE WHEN error IS NULL THEN time END AS time,
       |  CASE WHEN error IS NULL THEN utcOffset END AS utcOffset,
       |  CASE WHEN error IS NULL THEN title END AS title,
       |  CASE WHEN error IS NULL THEN description END AS description,
       |  CASE WHEN error IS NULL THEN venue_name END AS venue_name,
       |  CASE WHEN error IS NULL THEN venue_address1 END AS venue_address1,
       |  CASE WHEN error IS NULL THEN venue_address2 END AS venue_address2,
       |  CASE WHEN error IS NULL THEN venue_country END AS venue_country,
       |  CASE WHEN error IS NULL THEN venue_city END AS venue_city,
       |  CASE WHEN error IS NULL THEN venue_postal END AS venue_postal,
       |  CASE WHEN error IS NULL THEN venue_lon END AS venue_lon,
       |  CASE WHEN error IS NULL THEN venue_lat END AS venue_lat,
       |  CASE WHEN error IS NULL THEN n_photos END AS n_photos,
       |  error
       |FROM all_rows
       |ORDER BY chapter ASC NULLS FIRST, event_id ASC NULLS FIRST,
       |  error ASC NULLS FIRST""".stripMargin
  }

  // ------------------------------------------------------------- q_scan_csv

  /** CSV source with an EXPLICIT schema (production rule, same as the
    * JSON scans — inference is a second full read and a schema-drift
    * hazard) over a fixture exercising the parser edges: quoted
    * embedded commas, empty → NULL scalars, ISO dates. Typed derived
    * columns on top so the oracle checks conversion, not just
    * splitting. CSV at 100 TB: splittable (uncompressed/bzip2), scans
    * parallelize per file chunk; the schema keeps the fast univocity
    * path with PERMISSIVE corrupt-row capture available — but land
    * columnar (parquet) at ingest, CSV is a wire format, not storage. */
  private def scanCsv(s: SparkSession, d: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "chapter STRING, venue_name STRING, capacity INT, " +
        "lat DOUBLE, lon DOUBLE, opened DATE")
    s.read.schema(schema).option("header", "true")
      .csv(s"$fixturesDir/venues.csv")
      .select(col("chapter"), col("venue_name"),
        col("capacity").cast("long").as("capacity"),
        col("lat"), col("lon"), col("opened"),
        year(col("opened")).cast("long").as("opened_year"),
        when(col("capacity").isNull, lit(null).cast("string"))
          .when(col("capacity") >= 200, "large")
          .when(col("capacity") >= 100, "mid")
          .otherwise("small").as("size_class"))
      .orderBy(col("chapter"))
  }

  private val scanCsvSql = {
    val fx = fixturesDir
    s"""SELECT chapter, venue_name, capacity::BIGINT AS capacity,
       |       lat, lon, opened, year(opened)::BIGINT AS opened_year,
       |       CASE WHEN capacity IS NULL THEN NULL
       |            WHEN capacity >= 200 THEN 'large'
       |            WHEN capacity >= 100 THEN 'mid'
       |            ELSE 'small' END AS size_class
       |FROM read_csv('$fx/venues.csv', header=true, columns={
       |  'chapter': 'VARCHAR', 'venue_name': 'VARCHAR',
       |  'capacity': 'INTEGER', 'lat': 'DOUBLE', 'lon': 'DOUBLE',
       |  'opened': 'DATE'})
       |ORDER BY chapter""".stripMargin
  }

  // ------------------------------------------------------------- q_scan_orc

  /** ORC sink + source round-trip: the events table is written to ORC
    * (the one columnar format besides parquet that ships inside
    * spark-sql), read back, and aggregated — the oracle runs the SAME
    * aggregate over the original parquet, so a hash match proves the
    * round-trip is LOSSLESS for every type it carries (bigint,
    * microsecond timestamp, double, string). That is the actual
    * contract a format migration needs, and it exercises the write
    * path the scored surface otherwise only reads. Both legs
    * vectorize (ORC has its own columnar reader with predicate
    * pushdown); the temp output is RAM-backed and per-sf so verify /
    * bench passes overwrite deterministically rather than accrete. */
  private def scanOrc(s: SparkSession, d: String): DataFrame = {
    // graft.Scratch: per-process RAM-backed subdir + exit-time cleanup
    // (per-PROCESS so verify + bench, or two worktree runs, sharing
    // /dev/shm can't overwrite each other mid-read)
    val dir = graft.Scratch.dirFor("orc", d)
    graft.Tables.events(s, d).write.options(graft.LocalFs.conf)
      .mode("overwrite").orc(dir)
    roundTripAgg(s.read.orc(dir), unix_micros(col("ts")), col("value"))
  }

  /** The aggregate both format round-trips end in: per event type,
    * rows, distinct users, first and last event time in epoch micros
    * (`us`) and the rounded total of `value`, each as the format reads
    * it back. [[roundTripSql]] runs the same aggregate over the
    * original parquet. */
  private def roundTripAgg(df: DataFrame, us: Column, value: Column): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(us).as("first_us"),
        max(us).as("last_us"),
        graft.ops.Det.r2(sum(value)).as("total"))
      .orderBy(col("event_type"))

  /** The oracle of q_scan_orc and q_scan_text. */
  private val roundTripSql =
    s"""SELECT event_type, count(*) AS n,
       |       count(DISTINCT user_id) AS n_users,
       |       min(epoch_us(make_timestamp(epoch_us(ts)))) AS first_us,
       |       max(epoch_us(make_timestamp(epoch_us(ts)))) AS last_us,
       |       ${graft.ops.Det.sql2("sum(value)")} AS total
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ q_scan_text

  /** Text sink + source round-trip — the log-ingestion path (raw logs
    * land as line-oriented text long before anything is columnar):
    * events are serialized to pipe-delimited lines (timestamps as
    * epoch MICROseconds — a text format must never round-trip a
    * timestamp through a locale/zone-dependent rendering; doubles use
    * the JVM's shortest-round-trip rendering, which string→double
    * inverts exactly), written with the core `text` format, read back
    * with `spark.read.text`, parsed by one codegen'd split(), and
    * aggregated. The oracle runs the SAME aggregate over the original
    * parquet — a hash match proves parse(format(x)) = x for every
    * carried type (bigint, µs timestamp, double, string), which is the
    * actual contract a log pipeline needs. Same per-process RAM-backed
    * scratch + shutdown hook as q_scan_orc; at 100 TB the text scan is
    * the standard splittable-lines ingest, one map-side parse ahead of
    * the first shuffle. */
  private def scanText(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.dirFor("text", d)
    // concat (unlike concat_ws) propagates nulls: a null in any events
    // column nulls the whole line, and the raise_error guard turns that
    // into a loud write-time failure instead of concat_ws silently
    // dropping the field and shifting every later pipe-delimited column.
    val line = concat(
      col("event_id").cast("string"), lit("|"),
      col("user_id").cast("string"), lit("|"),
      col("event_type"), lit("|"),
      unix_micros(col("ts")).cast("string"), lit("|"),
      col("value").cast("string"))
    graft.Tables.events(s, d)
      .select(when(line.isNull,
          raise_error(lit("q_scan_text: null field in events")))
        .otherwise(line).as("value"))
      .write.options(graft.LocalFs.conf).mode("overwrite").text(dir)
    val f = split(col("value"), "\\|")
    roundTripAgg(s.read.text(dir)
      .select(f.getItem(2).as("event_type"),
        f.getItem(1).cast("long").as("user_id"),
        f.getItem(3).cast("long").as("us"),
        f.getItem(4).cast("double").as("v")), col("us"), col("v"))
  }

  // ----------------------------------------------------------- q_scan_video

  /** The reference's video table (`private/data/data_formats.md:46-74`)
    * as a scored query: the id-keyed JSON object pivots to typed rows
    * ([[Normalize.readVideos]]), the published timestamp round-trips
    * as epoch millis (never a rendered timestamp — hash-stable across
    * engines), and all three thumbnail structs flatten to scalars. The
    * DuckDB oracle re-derives the same pivot from the raw file with
    * json_keys + json_extract — a semantic check of the map→rows
    * reshape, not just a scan. Small dimension table by construction
    * (wholetext read; hundreds of rows in production). */
  private def scanVideo(s: SparkSession, d: String): DataFrame = {
    def thumb(k: String) = Seq(
      col(s"thumb_$k.url").as(s"${k}_url"),
      col(s"thumb_$k.width").cast("long").as(s"${k}_w"),
      col(s"thumb_$k.height").cast("long").as(s"${k}_h"))
    Normalize.readVideos(s, s"$fixturesDir/videos.json")
      .select(Seq(col("video_id"), col("embed_url"),
        unix_millis(col("published")).as("published_ms"),
        col("title"), col("description")) ++
        Seq("default", "medium", "high").flatMap(thumb): _*)
      .orderBy(col("video_id"))
  }

  private val scanVideoSql = {
    def thumb(k: String) =
      s"""o->>'$$.thumbnails.$k.url' AS ${k}_url,
         |       (o->'$$.thumbnails.$k.width')::BIGINT AS ${k}_w,
         |       (o->'$$.thumbnails.$k.height')::BIGINT AS ${k}_h""".stripMargin
    s"""WITH raw AS (
       |  SELECT json(content) AS j
       |  FROM read_text('$fixturesDir/videos.json')),
       |ks AS (SELECT unnest(json_keys(j)) AS video_id, j FROM raw),
       |v AS (SELECT video_id,
       |             json_extract(j, '$$."' || video_id || '"') AS o
       |      FROM ks)
       |SELECT video_id,
       |       o->>'$$.embedUrl' AS embed_url,
       |       epoch_ms(coalesce(
       |         try_strptime(o->>'$$.published', '%Y-%m-%dT%H:%M:%S.%fZ'),
       |         try_strptime(o->>'$$.published', '%Y-%m-%dT%H:%M:%SZ')
       |       ))::BIGINT AS published_ms,
       |       o->>'$$.title' AS title,
       |       o->>'$$.description' AS description,
       |       ${thumb("default")},
       |       ${thumb("medium")},
       |       ${thumb("high")}
       |FROM v ORDER BY video_id""".stripMargin
  }

  // ----------------------------------------------------- q_scan_partitioned

  /** Hive-layout partition pruning — the single biggest scan lever at
    * 100 TB: a date-partitioned table lets a one-week query read 7/30
    * of the files by DIRECTORY LISTING, before any parquet footer is
    * touched. The scored surface otherwise only reads unpartitioned
    * single files, so the lever was argued but never demonstrated
    * (round-9 verdict #2). Here: events gains a date column derived
    * from ts, lands as `partitionBy(event_date)` parquet (the layout
    * an ingest job would write), and the read-back filters one week —
    * the filter binds to the partition COLUMN, so Catalyst turns it
    * into partition pruning (PartitionFilters on the scan, 7 of 30
    * directories listed; ScaleTechniquesSpec asserts the pruned file
    * count from InputFiles). The oracle runs the same week + aggregate
    * over the ORIGINAL unpartitioned parquet, so the hash match also
    * proves the date derivation and the partition round-trip agree.
    * Per-process RAM-backed scratch, same as q_scan_orc. At 100 TB:
    * identical shape, with a metastore (or file index) serving the
    * listing instead of the driver walking directories. */
  private def scanPartitioned(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.dirFor("hivepart", d)
    val dated = graft.Tables.events(s, d)
      .withColumn("event_date", to_date(col("ts")))
    // Cluster by the partition column before the partitioned write —
    // the write.distribution-mode=hash idiom: each task owns whole
    // event_date values and writes exactly ONE file into its
    // directories, instead of every scan task opening a writer per
    // date it happens to contain (tasks × dates files; here the
    // single-file scan wrote all 30 dirs sequentially on one task —
    // measured 1.3 s of this query's 2.5 s isolated wall). Parallel
    // writers + one well-sized file per partition dir is the 100 TB
    // layout the readers want. The 1.3 s was that one task, not the
    // ~100 `chmod` forks per write that graft.LocalFs removes: those
    // were 0.14 s of the 4-task write stage at sf0.1 (0.77 → 0.64 s,
    // SCALE.md "Local writes").
    dated.repartition(s.sparkContext.defaultParallelism, col("event_date"))
      .write.options(graft.LocalFs.conf).mode("overwrite")
      .partitionBy("event_date").parquet(dir)
    // explicit schema (the production scan rule): also keeps a
    // zero-row write — which leaves no partition dirs to infer
    // from — readable as an empty frame
    s.read.schema(dated.schema).parquet(dir)
      .filter(col("event_date").between("2024-01-08", "2024-01-14"))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        graft.ops.Det.r2(sum(col("value"))).as("total"))
      .orderBy(col("event_date"), col("event_type"))
  }

  private val scanPartitionedSql =
    s"""SELECT CAST(make_timestamp(epoch_us(ts)) AS DATE) AS event_date,
       |       event_type, count(*) AS n,
       |       count(DISTINCT user_id) AS n_users,
       |       ${graft.ops.Det.sql2("sum(value)")} AS total
       |FROM events
       |WHERE CAST(make_timestamp(epoch_us(ts)) AS DATE)
       |        BETWEEN '2024-01-08' AND '2024-01-14'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val table: Seq[Query] = Seq(
    Query("q_scan_json", scanJson, Some(scanJsonSql)),
    Query("q_scan_csv", scanCsv, Some(scanCsvSql)),
    Query("q_scan_orc", scanOrc, Some(roundTripSql)),
    Query("q_scan_text", scanText, Some(roundTripSql)),
    Query("q_scan_video", scanVideo, Some(scanVideoSql)),
    Query("q_scan_partitioned", scanPartitioned, Some(scanPartitionedSql)),
  )
}
