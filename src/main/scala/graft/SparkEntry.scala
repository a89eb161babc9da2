package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the scored surface: one entry per operator from
  * SURVEY.md §2, each paired (where SQL-expressible) with a DuckDB
  * oracle in `oracleSql`. Modules contribute via [[QueryModule]].
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    graft.ops.Relational,
    graft.ops.Functions,
    graft.ops.Llm,
    graft.ops.LlmExt,
    graft.ops.LlmQuality,
    graft.ops.LlmCorpus,
    graft.ops.LlmPipe,
    graft.ops.LlmTrain,
    graft.ops.Lakehouse,
    graft.ops.Reshape,
    graft.ops.TimeSeries,
    graft.sources.NormalizeQueries,
    graft.streaming.Streams,
  )

  /** Flagship: the reference's own pipeline end to end — raw API JSON
    * (three adapter shapes) → per-source normalize → dispatch union →
    * error split — summarized per chapter, joined with an events-table
    * aggregate so the flagship touches both the cuttlefish core and
    * the relational surface. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.sources.{Normalize, NormalizeQueries}
    val all = Normalize.readFixtures(spark, NormalizeQueries.fixturesDir)
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(avg(col("k")), 2).as("avg_k"))
    all.groupBy(col("chapter"))
      .agg(count(when(col("error").isNull, 1)).as("ok_events"),
        count(col("error")).as("errors"))
      .crossJoin(broadcast(ev.agg(sum(col("n_events")).as("events_sf0001"))))
      .orderBy(col("chapter"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap

  /** The same map with large-SF substitutions applied — see
    * [[QueryModule.scaleOracles]]. Used by the sf3 (30×) gate only;
    * the driver's gate reads [[oracleSql]]. */
  def oracleSqlScale: Map[String, String] =
    oracleSql ++ modules.flatMap(_.scaleOracles).toMap

  /** Sampled-subgraph independence oracles plus their `__closure` /
    * `__n_nodes` guards — see [[QueryModule.sliceOracles]]. Standalone
    * map (NOT a substitution over [[oracleSql]]); consumed by
    * tools/slice_check.py for the sf3 independence gate. */
  def oracleSqlSlice: Map[String, String] =
    modules.flatMap(_.sliceOracles).toMap
}
