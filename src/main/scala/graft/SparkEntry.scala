package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** One scored query, declared once: the name the driver knows it by,
  * its body, and its DuckDB oracle — SQL over bare table names (the
  * driver registers the views) whose result the query's parquet dump
  * must hash-match. `None` only for a sketch whose output is
  * engine-specific; the driver gives it a rows-only check. */
final case class Query(name: String, body: (SparkSession, String) => DataFrame,
                       oracle: Option[String])

/** A module of scored queries. Its [[table]] declares each query once,
  * body and oracle together, and [[SparkEntry]] indexes every module's
  * table; every entry point then runs a query through the one step,
  * [[Bench.materialize]].
  */
trait QueryModule {
  /** Each entry with no oracle says why in its comment. */
  def table: Seq[Query]

  /** Large-SF replacements for oracles whose primary formulation is
    * intractable for DuckDB at 30× (e.g. recursive CTEs over the
    * EXPANDED near-dup graph — sf3 measured 25–90+ min each). A scale
    * oracle must be mathematically equivalent to the primary oracle —
    * same result, different derivation (the graph trio's use the
    * class-contraction identities the engine's own strategy specs
    * prove). ScaleOracleSpec pins the structural contract; VALUE
    * equivalence is a checked-in gate mode — `tools/check.py
    * --dual-oracle` runs primary AND variant against the same engine
    * dump at a small SF, and `tools/slice_check.py` adds
    * engine-independent large-SF evidence via [[sliceOracles]]. The
    * sf3 gate (tools/check.py --scale-oracle) substitutes these; the
    * driver's sf0.01 gate keeps the primary formulation. */
  def scaleOracles: Map[String, String] = Map.empty
  /** Sampled vertex-induced-subgraph oracles — INDEPENDENT large-SF
    * evidence for queries whose [[scaleOracles]] variant restates the
    * engine's own contraction identities (the sf3 trust gap flagged
    * in VERDICT r11 #1). Each entry is the PRIMARY (fully expanded)
    * formulation restricted to a harness-provided `slice_docs(sid)`
    * table, with the one global coupling (the participant count n)
    * injected via a `global_n(n)` table. Two reserved keys carry the
    * harness-side guards: `__closure` (count of expanded edges
    * crossing the slice boundary — must be 0, proving the slice is a
    * union of TRUE components regardless of how it was picked) and
    * `__n_nodes` (the global participant count). Consumed by
    * tools/slice_check.py; structural contract in ScaleOracleSpec. */
  def sliceOracles: Map[String, String] = Map.empty
}

/** Two module tables declare the same query name. */
final class DuplicateQuery(name: String, first: QueryModule, second: QueryModule)
  extends IllegalStateException(s"query $name is declared by both " +
    s"${first.getClass.getName.stripSuffix("$")} and " +
    s"${second.getClass.getName.stripSuffix("$")}")

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` is the scored surface: one entry per operator from
  * SURVEY.md §2, each paired (where SQL-expressible) with a DuckDB
  * oracle in `oracleSql`. Both maps are built once, from the
  * [[QueryModule]] tables.
  */
object SparkEntry {

  private[graft] val modules: Seq[QueryModule] = Seq(
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

  /** Every entry of `ms`' tables by name; a name declared twice raises
    * [[DuplicateQuery]] naming both modules. */
  private[graft] def index(ms: Seq[QueryModule]): Map[String, Query] =
    ms.flatMap(m => m.table.map(m -> _)).foldLeft(Map.empty[String, (QueryModule, Query)]) {
      case (acc, (m, q)) =>
        acc.get(q.name).foreach { case (first, _) => throw new DuplicateQuery(q.name, first, m) }
        acc.updated(q.name, (m, q))
    }.map { case (n, (_, q)) => n -> q }

  private val table: Map[String, Query] = index(modules)

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
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map { case (n, q) => n -> q.body }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; the sketches have none. */
  val oracleSql: Map[String, String] =
    table.collect { case (n, Query(_, _, Some(sql))) => n -> sql }

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
