package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: one main, four subcommands, all on the [[GraftSession]]
  * engine that Bench scores, at `SPARK_GRAFT_CPUS` cores (default 4).
  *
  * {{{
  *   graft.Dev profile  <sfDir> <query>     job/stage/task/exchange counts (construction
  *                                          jobs apart), per-stage wall/CPU table and
  *                                          final adaptive plan of one timed run
  *   graft.Dev explain  <sfDir> [query...]  formatted initial physical plans
  *   graft.Dev pressure <sfDir> [query...]  completion and spill under the JVM heap
  *   graft.Dev smoke                        the flagship SparkEntry.entry
  * }}}
  */
object Dev {

  /** A warm-up run of `name`, then a timed run: their records. */
  def profile(spark: SparkSession, sfDir: String,
              name: String): (QueryRecord, QueryRecord) = {
    val warmup = Bench.materialize(spark, sfDir, name)(Bench.execute)
    (warmup, Bench.materialize(spark, sfDir, name)(Bench.execute))
  }

  // the order-statistics and dedup families, plus the three largest
  // genuine shuffles outside them (verdict r12 #6): PPJoin bucket join,
  // session window sort, triangle wedge join
  private val pressureDefaults = Seq("q_agg_percentile", "q_agg_trimmed",
    "q_agg_mad", "q_llm_dedup_fuzzy", "q_llm_dedup_ngram",
    "q_llm_dedup_simhash", "q_win_sessionize", "q_graph_triangles")

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    val rest = args.drop(1).toSeq
    val argsOk = cmd match {
      case "profile" => rest.length == 2
      case "explain" | "pressure" => rest.nonEmpty
      case "smoke" => rest.isEmpty
      case _ => false
    }
    if (!argsOk) {
      System.err.println("usage: graft.Dev profile <sfDir> <query> | " +
        "explain <sfDir> [query...] | pressure <sfDir> [query...] | smoke")
      sys.exit(2)
    }
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try cmd match {
      case "profile" =>
        val Seq(sfDir, name) = rest
        val (_, t) = profile(spark, sfDir, name)
        val Exchanges(sh, bc, re) = t.exchanges.get
        println(f"TOTAL $name: ${t.seconds}%.2f s wall, ${t.cpuSeconds}%.1f executor-CPU-s, " +
          s"${t.jobs} jobs (${t.constructJobs} construct, ${t.jobs - t.constructJobs} run), " +
          s"${t.stages.size} stages, ${t.tasks} tasks, " +
          s"exchanges $sh shuffle $bc broadcast $re reused")
        t.stages.sortBy(-_.ms).take(15).foreach { st =>
          println(f"  stage ${st.id}%-4d ${st.ms}%6d ms  ${st.cpuMs}%6d cpu-ms" +
            f"  ${st.tasks}%3d tasks  ${st.name}")
        }
        // AQE-only rewrites (ReusedExchange, join demotions,
        // AQEShuffleRead) show only in the final plan, not in explain's
        println(s"---------- $name executed (final adaptive) ----------")
        println(t.plan.get)
      case "explain" =>
        val sfDir = rest.head
        val names =
          if (rest.length > 1) rest.drop(1)
          else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { n =>
          println(s"\n========== $n ==========")
          SparkEntry.queries(n)(spark, sfDir).explain("formatted")
        }
      case "pressure" =>
        // each query once, with the spill its stages reported. Run
        // inside a small heap (-Xmx2g): completion under the ceiling is
        // the memory-contract claim, spill > 0 shows the ceiling was felt
        val sfDir = rest.head
        val rs = (if (rest.length > 1) rest.drop(1) else pressureDefaults).map { n =>
          val r = Bench.materialize(spark, sfDir, n)(Bench.execute)
          System.err.println(
            f"[pressure] $n: ${r.seconds}%.2fs rows=${r.rows.get} spill=${r.spillBytes}")
          r
        }
        def obj[A](f: QueryRecord => A) =
          rs.map(r => s"${Json.str(r.name)}:${f(r)}").mkString("{", ",", "}")
        println(
          s"""{"metric":"pressure_total","value":${rs.map(_.seconds).sum},""" +
          s""""unit":"sec","heapBytes":${Runtime.getRuntime.maxMemory()},""" +
          s""""cpus":$cpus,"sf":${Json.str(sfDir)},"queries":${obj(_.seconds)},""" +
          s""""rows":${obj(_.rows.get)},"spillBytes":${obj(_.spillBytes)}}""")
      case "smoke" =>
        val df = SparkEntry.entry(spark)
        df.show(20, truncate = false)
        println(s"rows=${df.count()}")
    } finally spark.stop()
  }
}
