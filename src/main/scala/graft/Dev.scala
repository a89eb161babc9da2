package graft

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Dev tool: one main, four subcommands, all on the [[GraftSession]]
  * engine that Bench scores, at `SPARK_GRAFT_CPUS` cores (default 4).
  *
  * {{{
  *   graft.Dev profile  <sfDir> <query>     per-stage wall/CPU table of one timed run
  *   graft.Dev explain  <sfDir> [query...]  formatted physical plans
  *   graft.Dev pressure <sfDir> [query...]  completion and spill under the JVM heap
  *   graft.Dev smoke                        the flagship SparkEntry.entry
  * }}}
  */
object Dev {

  /** One completed stage as the stage-completed listener saw it. */
  final case class Stage(id: Int, name: String, ms: Long, tasks: Int,
                         cpuMs: Long, spillBytes: Long)

  /** Stage-completed listener on `sc`. Listener events are delivered
    * asynchronously, so [[take]] drains the bus before reading: without
    * that a late event lands in the next tally (a warm-up stage in the
    * timed profile, one query's spill charged to the next). */
  final class StageLog(sc: SparkContext) extends SparkListener {
    private val rows = ArrayBuffer[Stage]()
    sc.addSparkListener(this)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val ms = (for { s <- i.submissionTime; c <- i.completionTime }
        yield c - s).getOrElse(-1L)
      // executor CPU is what the query costs a contended box,
      // independent of how many idle cores happened to be available;
      // spill counts memory and disk (memoryBytesSpilled is the
      // in-memory size of data that had to leave execution memory)
      val (cpuMs, spill) =
        if (m == null) (0L, 0L)
        else (m.executorCpuTime / 1000000,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      rows.synchronized {
        rows += Stage(i.stageId, i.name.takeWhile(_ != '\n').take(90), ms,
          i.numTasks, cpuMs, spill)
      }
    }

    /** Every stage completed since the last take, bus drained first. */
    def take(): Seq[Stage] = {
      ListenerBusAccess.waitUntilEmpty(sc)
      rows.synchronized { val r = rows.toList; rows.clear(); r }
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** Run one query the way Bench does: release the previous query's
    * staged checkpoint blocks and drain its garbage outside the clock,
    * then execute every operator via `toRdd` (a bare `Dataset.count()`
    * lets Catalyst prune unreferenced projections). Returns (seconds, rows). */
  def materialize(spark: SparkSession, sfDir: String,
                  name: String): (Double, Long) = {
    ops.Staged.sweep()
    System.gc()
    val t0 = System.nanoTime()
    val rows = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.toRdd.count()
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  final case class Profiled(seconds: Double, warmup: Seq[Stage],
                            timed: Seq[Stage])

  /** A warm-up run of `name`, then a timed run with its stages. */
  def profile(spark: SparkSession, sfDir: String, name: String): Profiled = {
    val log = new StageLog(spark.sparkContext)
    try {
      materialize(spark, sfDir, name)
      val warmup = log.take()
      val (sec, _) = materialize(spark, sfDir, name)
      Profiled(sec, warmup, log.take())
    } finally log.close()
  }

  final case class Pressured(name: String, seconds: Double, rows: Long,
                             spillBytes: Long)

  /** Each query once, with the spill its stages reported. Run inside a
    * small heap (-Xmx2g): completion under the ceiling is the
    * memory-contract claim, spill > 0 shows the ceiling was felt. */
  def pressure(spark: SparkSession, sfDir: String,
               names: Seq[String]): Seq[Pressured] = {
    val log = new StageLog(spark.sparkContext)
    try names.map { n =>
      log.take()
      val (sec, rows) = materialize(spark, sfDir, n)
      val r = Pressured(n, sec, rows, log.take().map(_.spillBytes).sum)
      System.err.println(f"[pressure] $n: $sec%.2fs rows=$rows spill=${r.spillBytes}")
      r
    } finally log.close()
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
        val p = profile(spark, sfDir, name)
        val cpuTotal = p.timed.map(_.cpuMs).sum / 1e3
        println(f"TOTAL $name: ${p.seconds}%.2f s wall, $cpuTotal%.1f executor-CPU-s")
        p.timed.sortBy(-_.ms).take(15).foreach { st =>
          println(f"  stage ${st.id}%-4d ${st.ms}%6d ms  ${st.cpuMs}%6d cpu-ms" +
            f"  ${st.tasks}%3d tasks  ${st.name}")
        }
      case "explain" =>
        val sfDir = rest.head
        val names =
          if (rest.length > 1) rest.drop(1)
          else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { n =>
          println(s"\n========== $n ==========")
          val df = SparkEntry.queries(n)(spark, sfDir)
          df.explain("formatted")
          // GRAFT_EXPLAIN_EXEC=1: also run the query and print the FINAL
          // adaptive plan — AQE-only rewrites (ReusedExchange, join
          // demotions, AQEShuffleRead) are invisible in the initial plan
          if (sys.env.get("GRAFT_EXPLAIN_EXEC").contains("1")) {
            df.queryExecution.toRdd.foreach(_ => ())
            println(s"---------- $n executed (final adaptive) ----------")
            println(df.queryExecution.executedPlan.toString)
          }
        }
      case "pressure" =>
        val sfDir = rest.head
        val rs = pressure(spark, sfDir,
          if (rest.length > 1) rest.drop(1) else pressureDefaults)
        def obj[A](f: Pressured => A) =
          rs.map(r => s"${Json.str(r.name)}:${f(r)}").mkString("{", ",", "}")
        println(
          s"""{"metric":"pressure_total","value":${rs.map(_.seconds).sum},""" +
          s""""unit":"sec","heapBytes":${Runtime.getRuntime.maxMemory()},""" +
          s""""cpus":$cpus,"sf":${Json.str(sfDir)},"queries":${obj(_.seconds)},""" +
          s""""rows":${obj(_.rows)},"spillBytes":${obj(_.spillBytes)}}""")
      case "smoke" =>
        val df = SparkEntry.entry(spark)
        df.show(20, truncate = false)
        println(s"rows=${df.count()}")
    } finally spark.stop()
  }
}
