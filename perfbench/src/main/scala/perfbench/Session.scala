package perfbench

import org.apache.spark.sql.SparkSession

/** The session `graft.Bench` scores, at `local[cores]`: shuffle width
  * 8 × cores for AQE to coalesce, the 2000-entry codegen cache, the
  * graft extensions and the heartbeat hardening. Scratch space goes to
  * the run's own directory. */
object Session {

  def build(cores: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (8 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.executor.heartbeat.maxFailures", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The fixed first operation of every set-up: a parquet scan and an
    * aggregate over a graft extension function. */
  def coldOp(spark: SparkSession, sf: String): Unit = {
    val r = spark.sql(
      s"SELECT count(*), sum(graft_hash60(r_name)) FROM parquet.`$sf/region.parquet`").collect()
    require(r.head.getLong(0) == 5, s"region has ${r.head.getLong(0)} rows, expected 5")
  }

  /** Set up `samples` times and return the last session with the
    * seconds each set-up took. The first is timed by wall clock from JVM
    * start; each later one stops the previous session and builds a new
    * one, timed by [[Clock]]. */
  def setUp(cores: Int, runDir: String, sf: String, samples: Int): (SparkSession, Seq[Double]) = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = build(cores, runDir)
    coldOp(spark, sf)
    val first = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rest = (2 to samples).map { _ =>
      spark.stop()
      val clock = new Stopwatch
      spark = build(cores, runDir)
      coldOp(spark, sf)
      clock.read().seconds
    }
    (spark, first +: rest)
  }
}
