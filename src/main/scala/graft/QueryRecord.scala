package graft

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import scala.collection.mutable

/** What one run of a query cost, as [[Bench.materialize]] records it:
  *  - `seconds`: wall time from the build to the sink's end;
  *  - `phases`: the query's `QueryPlanningTracker` phases, in ms;
  *  - `jobs` that ended and `stages` that completed during the run;
  *    `constructJobs` of the jobs were submitted while the query was
  *    built (eager checkpoints, size probes, driver collects);
  *  - `gates`: every [[Gate]] decision made on the building thread;
  *  - `rows` and the final adaptive `plan`, when the sink ran the
  *    query's own plan (a write runs a derived frame's, so Verify's
  *    records carry neither).
  */
final case class QueryRecord(name: String, seconds: Double,
                             phases: Seq[(String, Long)],
                             jobs: Int = 0, constructJobs: Int = 0,
                             stages: Seq[QueryRecord.Stage] = Nil,
                             gates: Seq[Gate.Decision] = Nil,
                             rows: Option[Long] = None,
                             plan: Option[SparkPlan] = None) {
  private def sum(f: QueryRecord.Stage => Long): Long = stages.map(f).sum
  def tasks: Int = stages.map(_.tasks).sum
  def cpuSeconds: Double = sum(_.cpuNs) / 1e9
  def scanBytes: Long = sum(_.scanBytes)
  def shuffleReadBytes: Long = sum(_.shuffleReadBytes)
  def shuffleWriteBytes: Long = sum(_.shuffleWriteBytes)
  def spillBytes: Long = sum(_.spillBytes)
  def exchanges: Option[Exchanges] = plan.map(Exchanges.of)
}

object QueryRecord {

  /** One completed stage, named after the SQL operators its RDDs were
    * built under. Spill counts memory and disk (`memoryBytesSpilled`
    * is the in-memory size of data that had to leave execution memory). */
  final case class Stage(id: Int, name: String, ms: Long, tasks: Int,
                         cpuNs: Long, scanBytes: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long) {
    def cpuMs: Long = cpuNs / 1000000
  }

  /** Local property on the jobs a query submits while it is built,
    * before its sink runs. */
  private[graft] val ConstructProperty = "graft.construct"

  /** The planning phases `qe` has measured so far, in tracker order. */
  def phases(qe: QueryExecution): Seq[(String, Long)] = {
    import QueryPlanningTracker._
    val done = qe.tracker.phases
    Seq(PARSING, ANALYSIS, OPTIMIZATION, PLANNING)
      .flatMap(p => done.get(p).map(p -> _.durationMs))
  }

  /** The collector of `sc`, installed on first use (one per context,
    * however many sessions share it). */
  def collector(sc: SparkContext): Collector = synchronized {
    ListenerBusAccess.listenersOf[Collector](sc).headOption.getOrElse {
      val c = new Collector(sc)
      sc.addSparkListener(c)
      c
    }
  }

  /** Counts the jobs and stages of one run at a time. Listener events
    * are delivered asynchronously, so [[count]] drains the bus before
    * the run and after it: without that a late event lands in the next
    * record (a warm-up stage in the timed run, one query's spill
    * charged to the next). Outside a run it counts nothing. */
  final class Collector private[QueryRecord] (sc: SparkContext)
      extends SparkListener {
    private var counting = false
    private var jobs, constructJobs = 0
    private val constructing = mutable.Set[Int]()
    private val done = mutable.ArrayBuffer[Stage]()
    private val oneRun = new Object

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (counting &&
          Option(e.properties).exists(_.getProperty(ConstructProperty) != null))
        constructing += e.jobId
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (counting) {
        jobs += 1
        if (constructing.remove(e.jobId)) constructJobs += 1
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (synchronized(counting)) {
        val i = e.stageInfo
        val m = i.taskMetrics
        val ms = (for { s <- i.submissionTime; c <- i.completionTime }
          yield c - s).getOrElse(-1L)
        val scopes = ListenerBusAccess.scopeNames(i)
        val name = (if (scopes.nonEmpty) scopes.mkString(" > ")
          else i.name.takeWhile(_ != '\n')).take(90)
        val st =
          if (m == null) Stage(i.stageId, name, ms, i.numTasks, 0, 0, 0, 0, 0)
          else Stage(i.stageId, name, ms, i.numTasks, m.executorCpuTime,
            m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled)
        synchronized { if (counting) done += st }
      }

    private def reset(): Unit = {
      jobs = 0; constructJobs = 0; constructing.clear(); done.clear()
    }

    /** `run`'s record with the jobs that ended and the stages that
      * completed while it ran. One run per context at a time: a second
      * caller waits. */
    def count(run: => QueryRecord): QueryRecord = oneRun.synchronized {
      ListenerBusAccess.waitUntilEmpty(sc)
      synchronized { reset(); counting = true }
      try {
        val r = run
        ListenerBusAccess.waitUntilEmpty(sc)
        synchronized {
          r.copy(jobs = jobs, constructJobs = constructJobs,
            stages = done.sortBy(_.id).toList)
        }
      } finally synchronized { counting = false; reset() }
    }
  }
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
