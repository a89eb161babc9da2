package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR.
  *
  * Measurement hygiene (round-1 lessons):
  *  - A full untimed warm-up pass first — JVM/JIT, codegen cache,
  *    file-listing and parquet-footer caches all warm before timing.
  *  - Each query runs through [[materialize]] into [[execute]]: every
  *    operator in the plan executes.
  *  - Failures are SURFACED in an "errors" map, never folded into a
  *    fake timing.
  *  - The JSON line goes to stdout AND to `bench_out.json` in the
  *    run's working directory (the checkout root under `sbt runMain`),
  *    so log prefixes (sbt's [info]) can't break the parse and a
  *    second checkout's run never writes into the first's tree.
  */
object Bench {

  /** The one step every entry point runs a query through: release the
    * previous query's staged checkpoint blocks and drain garbage from
    * prior queries outside the clock — so one query's timing isn't
    * taxed with a GC cycle triggered by its predecessors' debris (the
    * ContextCleaner also piggybacks on GC to release old
    * broadcasts/shuffles) — then build the query under
    * [[QueryRecord.ConstructProperty]] and hand the frame to `sink`.
    * The sink returns the rows it counted when it ran the frame's own
    * plan, `None` when it ran a derived one (a write). The clock stops
    * before the context's [[QueryRecord.Collector]] drains the bus;
    * the record goes to the [[GraftQueryLogger]] sink and back to the
    * caller. */
  def materialize(spark: SparkSession, sfDir: String, name: String)(
      sink: DataFrame => Option[Long]): QueryRecord = {
    ops.Staged.sweep()
    System.gc()
    val sc = spark.sparkContext
    val r = QueryRecord.collector(sc).count {
      val t0 = System.nanoTime()
      val ((df, rows), gates) = Gate.recorded {
        sc.setLocalProperty(QueryRecord.ConstructProperty, "true")
        val df =
          try SparkEntry.queries(name)(spark, sfDir)
          finally sc.setLocalProperty(QueryRecord.ConstructProperty, null)
        (df, sink(df))
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      val qe = df.queryExecution
      QueryRecord(name, seconds, QueryRecord.phases(qe), gates = gates,
        rows = rows, plan = rows.map(_ => qe.executedPlan))
    }
    GraftQueryLogger.write(r)
    r
  }

  /** The timed sink: execute every operator via `toRdd` (a bare
    * `Dataset.count()` lets Catalyst prune unreferenced projections —
    * under-measurement) and count the rows. */
  def execute(df: DataFrame): Option[Long] = Some(df.queryExecution.toRdd.count())

  /** One pass of one query: its record, or the seconds it ran for
    * before it failed and the error. */
  type Run = Either[(Double, String), QueryRecord]

  private def seconds(r: Run): Double = r.fold(_._1, _.seconds)

  /** The bench's JSON line from each query's passes, in the given
    * order: its minimum seconds (`queries`, summed into `value`), its
    * [min, max] `spread`, its first error, and the counts of the pass
    * whose seconds `queries` reports (`null` when that pass failed). */
  def line(sfDir: String, runs: Seq[(String, Seq[Run])]): String = {
    val timed = runs.map { case (n, rs) =>
      (n, rs.minBy(seconds), rs.map(seconds).max,
        rs.collectFirst { case Left((_, e)) => e })
    }
    def obj(kv: Seq[(String, Any)]) =
      kv.map { case (n, v) => s""""$n":$v""" }.mkString("{", ",", "}")
    val qs = obj(timed.map { case (n, best, _, _) => n -> seconds(best) })
    // per-query [min, max] across passes: a wide spread on a query is
    // the mechanical signature of box contention (the round-6 official
    // record carried a 29x-inflated query that a spread column would
    // have flagged automatically), a tight spread under a high min is a
    // real regression
    val spread = obj(timed.map { case (n, best, hi, _) => n -> s"[${seconds(best)},$hi]" })
    val errJson = obj(timed.collect { case (n, _, _, Some(e)) => n -> Json.str(e) })
    def counts(f: QueryRecord => Any) =
      obj(timed.map { case (n, best, _, _) => n -> best.fold(_ => null, f) })
    val total = timed.map(t => seconds(t._2)).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""spread":$spread,"errors":$errJson,"sf":${Json.str(sfDir)},""" +
      s""""jobs":${counts(_.jobs)},"construct_jobs":${counts(_.constructJobs)},""" +
      s""""stages":${counts(_.stages.size)},"cpu_s":${counts(_.cpuSeconds)},""" +
      s""""shuffle_bytes":${counts(_.shuffleWriteBytes)},""" +
      s""""spill_bytes":${counts(_.spillBytes)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_BENCH_ONLY: comma-separated query subset (dev bisection)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // a failed query keeps the time it ran for, next to its error; a
    // kept plan would pin its shuffle files and broadcasts against the
    // ContextCleaner for the rest of the bench, so records drop it
    def run(name: String): Run = {
      val t0 = System.nanoTime()
      try Right(materialize(spark, sfDir, name)(execute).copy(plan = None))
      catch { case e: Throwable =>
        Left(((System.nanoTime() - t0) / 1e9,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
      }
    }

    // Two passes per query, per-query minimum. Pass 1 doubles as the
    // warm-up (JIT, codegen cache, file listings) — min-of-2 discards
    // its cold-start inflation, and the ±40% single-sample noise a
    // shared container adds (GC, neighbours). Batch queries run BOTH
    // passes before any streaming query: stateful streaming runs leave
    // residue (state-store providers, sink tables) that measurably
    // taxes whatever executes after them, and interleaving would
    // charge that tax to unrelated batch queries.
    def pass(ns: Seq[String]): Map[String, Run] =
      ns.map(n => n -> run(n)).toMap
    val (batch, streaming) = names.partition(_.startsWith("q_"))
    // Fixed untimed warm query before any timed pass: the first timed
    // query of pass 1 otherwise absorbs session-wide cold start
    // (first parquet footer read, first exchange, first codegen) on
    // top of its own — min-of-2 usually discards it, but under box
    // contention BOTH samples of the first query can land inflated
    // (the round-9 driver record carried a 9.05 s min for a 1.2 s
    // query). One cheap fixed query pays that tax outside the clock.
    if (batch.nonEmpty) run("q_filter_pred")
    // Queries whose two samples disagree >1.5× get a THIRD sample:
    // min-of-2 under a 55-query JVM still shows ±60% swings for the
    // shuffle-heavy queries (observed round 3: q_fn_map 1.76→3.31 s
    // with zero code change), and one more draw from the distribution
    // collapses most of that. Batch retries run before any streaming
    // query for the same state-store-residue reason as the main passes.
    def unstable(ns: Seq[String],
                 ps: Seq[Map[String, Run]],
                 ratio: Double = 1.5) =
      ns.filter { n =>
        val ts = ps.flatMap(_.get(n)).map(seconds)
        ts.nonEmpty && ts.max / ts.min > ratio
      }
    val b1 = pass(batch); val b2 = pass(batch)
    val b3 = pass(unstable(batch, Seq(b1, b2)))
    // still >2.5× after three samples = the contention signature; one
    // more draw before the record is written (round-9 verdict #4)
    val b4 = pass(unstable(batch, Seq(b1, b2, b3), 2.5))
    val s1 = pass(streaming); val s2 = pass(streaming)
    val s3 = pass(unstable(streaming, Seq(s1, s2)))
    val s4 = pass(unstable(streaming, Seq(s1, s2, s3), 2.5))
    val passes = Seq(b1, b2, b3, b4, s1, s2, s3, s4)
    val line = Bench.line(sfDir, names.map(n => n -> passes.flatMap(_.get(n))))
    // stamped file per run + the fixed-name copy the driver reads:
    // concurrent runs (worktree bench vs main-tree bench) each keep
    // their own stamped record instead of silently clobbering the one
    // shared file; the PID breaks ties if two JVMs start the same
    // second
    val stamp = s"${System.currentTimeMillis / 1000}." +
      s"${ProcessHandle.current.pid}"
    // stamped history lives under tools/bench_history/ so the repo
    // root carries only the fixed-name record the driver reads
    val hist = Paths.get("tools", "bench_history")
    Files.createDirectories(hist)
    Files.writeString(hist.resolve(s"bench_out.$stamp.json"), line)
    // fixed-name copy in the history dir: survives even when a log-tail
    // capture truncates the stdout line (BENCH_r13's tail was cut
    // mid-JSON, which nulled the driver's entire r13→r14 comparison)
    Files.writeString(hist.resolve("latest.json"), line)
    Files.writeString(Paths.get("bench_out.json"), line)
    println(line)
    spark.stop()
  }
}
