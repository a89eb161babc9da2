package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver-generated TPC-H-ish star schema
  * (TESTDATA.md). One parquet file per table under `dir`.
  *
  * Scale notes (100 TB): `spark.read.parquet` is the DataSourceV2
  * vectorized reader — filter pushdown, column pruning and partition
  * pruning all apply as long as callers keep plans declarative (no
  * `.rdd`, no early `.cache()` of unpruned scans). At cluster scale the
  * same call reads a partitioned directory tree; nothing here assumes a
  * single file.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events.parquet has shipped with two ts encodings across testdata
    * generations: INT64 TIMESTAMP(NANOS) (reads as LongType under the
    * nanosAsLong legacy flag) and native timestamp[us] with no tz
    * (reads as TIMESTAMP_NTZ). Branch on the type the reader actually
    * produced instead of assuming either:
    *  - LongType → nanos: convert with integer `DIV 1000` (double
    *    division would lose precision above 2^53; DIV truncates toward
    *    zero = floor for the generator's post-epoch values, matching
    *    DuckDB's ns→us conversion exactly).
    *  - TIMESTAMP_NTZ → cast to TimestampType. Sessions pin
    *    spark.sql.session.timeZone=UTC, so the cast reinterprets the
    *    same micros value and downstream code keeps seeing the LTZ
    *    type every query was validated against.
    * The LongType branch needs the nanosAsLong legacy flag, which
    * [[GraftSession.local]] sets when it builds the session. */
  def events(s: SparkSession, d: String): DataFrame = eventsTs(t(s, d, "events"))

  /** The ts normalization of [[events]] over any events frame read
    * with the file's own schema, batch or streaming
    * (`Streams.eventsStream` reads the same file as a stream). */
  def eventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => // TIMESTAMP_NTZ (or date-ish) → LTZ under the UTC session
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** On-disk bytes of one source table, via the Hadoop FileSystem API
    * (works for local files, HDFS and object stores alike). This is
    * the cheap pre-plan cardinality proxy adaptive operators use to
    * pick a physical strategy — the same signal a catalog's table
    * statistics would provide (and on a real deployment SHOULD
    * provide; file-size probing is the stats-less fallback). */
  def sourceBytes(s: SparkSession, d: String, name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$d/$name.parquet")
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
  }

  /** Spread a scan across the cluster before compute-heavy per-row
    * work. Every test table is ONE parquet file with ONE row group —
    * an unsplittable single input partition — so expensive projections
    * (JSON parsing, regex, libm, hashing) would otherwise run on a
    * single task until the first shuffle. The explicit count keeps AQE
    * from coalescing the tiny exchange straight back to one partition.
    * On a real many-file table the scan is already parallel and
    * callers would drop this. */
  def par(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** Keyed variant of [[par]] for callers that also want co-location
    * by a column (e.g. documents by doc_id). */
  def par(s: SparkSession, df: DataFrame, key: Column): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism, key)

  /** Range-keyed variant of [[par]] for queries that end in a global
    * ORDER BY led by `keys`: establishes the sort's range partitioning
    * up front, over the RAW input columns, so (1) the range sampling
    * pass scans cheap source rows instead of re-executing the query's
    * expensive projection (a trailing orderBy samples its CHILD — the
    * projection would run twice), (2) the one shuffle carries narrow
    * source columns, not the widened computed row, and (3) a final
    * sortWithinPartitions replaces the orderBy with zero further
    * exchange (equal keys never straddle a range boundary, so
    * partition order + local sort = the identical global order).
    * Callers must lead their sortWithinPartitions with `keys`.
    * Partition count: same contract as [[par]]. */
  def parRange(s: SparkSession, df: DataFrame, keys: Column*): DataFrame =
    df.repartitionByRange(s.sparkContext.defaultParallelism, keys: _*)
}
