package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Bench, Verify, the dev
  * tool and the test suite all build through [[local]], so every entry
  * point runs the same engine: same shuffle width rule, same planner
  * extensions, same codegen cache, same liveness hardening. */
object GraftSession {

  /** Local cores for every entry point: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cpus]` session with graft's engine configuration;
    * `overrides` are applied last (the test suite layers its shuffle
    * manager and spill threshold on this way). */
  def local(cpus: Int,
            overrides: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the last manual scale knob, handed to AQE (verdict r11 #8):
      // shuffle WIDTH starts at 8× cores and AQE coalesces each
      // exchange down to its 64 MB advisory target from runtime map
      // stats — heavy dedup shuffles keep real parallelism while
      // small ones collapse to a few tasks. Measured (SCALE.md r12):
      // heavy-dedup family at sf3 0.65–0.99× per query (~13% total),
      // full suite at sf0.1 ~8% faster in both paired windows. At
      // 100 TB this is the difference between a TB-scale shuffle
      // frozen at |cores| partitions and one sized by the optimizer.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (8 * cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has shipped with INT64 TIMESTAMP(NANOS) ts;
      // Tables.events converts whichever type the reader produces
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // 51 queries × several codegen units overflow the default
      // 100-entry generated-class cache; without headroom the larger
      // queries re-run Janino compilation on every pass and the bench
      // measures the compiler, not the engine
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // planner extensions via the deployment config path — every
      // query (and the oracle gate) runs under identical planning rules
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // local-mode liveness hardening: the in-JVM executor heartbeater
      // System.exit(56)s the whole JVM after 60 consecutive missed
      // heartbeats when box contention starves the RPC for ~600 s
      // (ExecutorExitCode.HEARTBEAT_FAILURE — this is what killed the
      // r14 driver's sbt test fork). Liveness tracking is meaningless
      // in-process; no effect on what any query computes.
      .config("spark.executor.heartbeat.maxFailures", "1000000")
      .config("spark.ui.enabled", "false")
    overrides.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
  }
}
