package graft

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import scala.collection.mutable

/** Dev tool: one main, four subcommands, all on the [[GraftSession]]
  * engine that Bench scores, at `SPARK_GRAFT_CPUS` cores (default 4).
  *
  * {{{
  *   graft.Dev profile  <sfDir> <query>     job/stage/task/exchange counts (construction
  *                                          jobs apart) and per-stage wall/CPU table of
  *                                          one timed run
  *   graft.Dev explain  <sfDir> [query...]  formatted physical plans
  *   graft.Dev pressure <sfDir> [query...]  completion and spill under the JVM heap
  *   graft.Dev smoke                        the flagship SparkEntry.entry
  * }}}
  */
object Dev {

  /** One completed stage as the stage-completed listener saw it,
    * named after the SQL operators its RDDs were built under. */
  final case class Stage(id: Int, name: String, ms: Long, tasks: Int,
                         cpuMs: Long, spillBytes: Long)

  /** The jobs that ended and the stages that completed between two
    * [[StageLog.take]]s; `constructJobs` of the jobs were submitted
    * while the query was being built. */
  final case class Tally(jobs: Int, constructJobs: Int, stages: Seq[Stage]) {
    def tasks: Int = stages.map(_.tasks).sum
  }

  /** Local property that marks the jobs a query submits while it is
    * being built, before `toRdd`. */
  private val Constructing = "graft.dev.constructing"

  /** Job and stage-completed listener on `sc`. Listener events are delivered
    * asynchronously, so [[take]] drains the bus before reading: without
    * that a late event lands in the next tally (a warm-up stage in the
    * timed profile, one query's spill charged to the next). A job
    * counts as a construction job by the [[Constructing]] property it
    * was submitted under. */
  final class StageLog(sc: SparkContext) extends SparkListener {
    private val rows = mutable.ArrayBuffer[Stage]()
    private val constructing = mutable.Set[Int]()
    private var jobs, constructJobs = 0
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(Constructing) != null))
        rows.synchronized { constructing += e.jobId }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      rows.synchronized {
        jobs += 1
        if (constructing.remove(e.jobId)) constructJobs += 1
      }

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
      val scopes = ListenerBusAccess.scopeNames(i)
      val name = if (scopes.nonEmpty) scopes.mkString(" > ") else i.name.takeWhile(_ != '\n')
      rows.synchronized {
        rows += Stage(i.stageId, name.take(90), ms, i.numTasks, cpuMs, spill)
      }
    }

    /** Every job and stage ended since the last take, bus drained first. */
    def take(): Tally = {
      ListenerBusAccess.waitUntilEmpty(sc)
      rows.synchronized {
        val t = Tally(jobs, constructJobs, rows.toList)
        rows.clear(); jobs = 0; constructJobs = 0; t
      }
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** Exchange operators of a plan, subqueries included. */
  final case class Exchanges(shuffle: Int, broadcast: Int, reused: Int)

  object Exchanges extends AdaptiveSparkPlanHelper {
    /** Counted through adaptive query stages and subqueries. */
    def of(plan: SparkPlan): Exchanges = {
      def n(f: PartialFunction[SparkPlan, Unit]) = collectWithSubqueries(plan)(f).size
      Exchanges(n { case _: ShuffleExchangeLike => }, n { case _: BroadcastExchangeLike => },
        n { case _: ReusedExchangeExec => })
    }
  }

  final case class Profiled(seconds: Double, warmup: Tally, timed: Tally,
                            exchanges: Exchanges)

  /** A warm-up run of `name`, then a timed run with its stages and
    * final-plan exchanges; each tally counts its construction jobs. */
  def profile(spark: SparkSession, sfDir: String, name: String): Profiled = {
    val sc = spark.sparkContext
    val log = new StageLog(sc)
    def run() = {
      sc.setLocalProperty(Constructing, "true")
      try Bench.materialize(spark, sfDir, name,
        () => sc.setLocalProperty(Constructing, null))
      finally sc.setLocalProperty(Constructing, null)
    }
    try {
      run()
      val warmup = log.take()
      val (sec, _, plan) = run()
      Profiled(sec, warmup, log.take(), Exchanges.of(plan))
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
      val (sec, rows, _) = Bench.materialize(spark, sfDir, n)
      val r = Pressured(n, sec, rows, log.take().stages.map(_.spillBytes).sum)
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
        val t = p.timed
        val cpuTotal = t.stages.map(_.cpuMs).sum / 1e3
        val Exchanges(sh, bc, re) = p.exchanges
        println(f"TOTAL $name: ${p.seconds}%.2f s wall, $cpuTotal%.1f executor-CPU-s, " +
          s"${t.jobs} jobs (${t.constructJobs} construct, ${t.jobs - t.constructJobs} run), " +
          s"${t.stages.size} stages, ${t.tasks} tasks, " +
          s"exchanges $sh shuffle $bc broadcast $re reused")
        t.stages.sortBy(-_.ms).take(15).foreach { st =>
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
