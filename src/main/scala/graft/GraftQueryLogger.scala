package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.atomic.AtomicLong

/** A10 log sink (reference `private/logger.rkt:28-63`): the reference
  * runs a logger daemon that appends ISO8601-timestamped lines to a
  * log file and restarts the receiver daily (its rotation,
  * logger.rkt:49-63). The Spark restatement: one structured line per
  * query through log4j2 (the logging engine Spark already ships), and
  * rotation is declarative — the checked-in RollingFile config at
  * `src/main/resources/graft-log4j2.xml` rolls by day and size
  * instead of a hand-rolled kill-and-restart thread.
  *
  * Every line is a [[QueryRecord]] in one format,
  * [[GraftQueryLogger.line]]. [[Bench.materialize]] writes one per run
  * it counted; this QueryExecutionListener writes one per completed
  * Dataset action (`toRdd`, which materialize's timed sink runs, fires
  * no listener). A listener sees the execution, not the jobs it ran, so
  * its lines count no jobs or stages. Wiring, both supported:
  *  - config-driven (deployment):
  *    `--conf spark.sql.queryExecutionListeners=graft.GraftQueryLogger`
  *    plus `-Dlog4j2.configurationFile=.../graft-log4j2.xml`
  *  - programmatic: [[GraftQueryLogger.install]].
  */
class GraftQueryLogger extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    GraftQueryLogger.write(QueryRecord(funcName, durationNs / 1e9,
      QueryRecord.phases(qe), plan = Some(qe.executedPlan)))
    GraftQueryLogger.fired.incrementAndGet()
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = {
    GraftQueryLogger.log.error(s"query=$funcName status=error" +
      s" msg=${Option(exception.getMessage).getOrElse(exception.getClass.getName)}")
    GraftQueryLogger.fired.incrementAndGet()
  }
}

object GraftQueryLogger {
  private val log =
    org.apache.logging.log4j.LogManager.getLogger("graft.queries")

  /** Listener-fire counter, bumped after the line is written —
    * observable surface for tests. */
  val fired = new AtomicLong()

  def install(s: SparkSession): GraftQueryLogger = {
    val l = new GraftQueryLogger
    s.listenerManager.register(l)
    l
  }

  /** Writes `r` as its one line. */
  def write(r: QueryRecord): Unit = if (log.isInfoEnabled) log.info(line(r))

  /** `query=<name> status=ok seconds=.. phases_ms=<phase>:<ms>,..
    * jobs=.. construct_jobs=.. stages=.. tasks=.. cpu_s=.. scan_bytes=..
    * shuffle_read_bytes=.. shuffle_write_bytes=.. spill_bytes=.. rows=..
    * exchanges=<shuffle>/<broadcast>/<reused> gates=<name>:<path>:<probe>,..`;
    * `-` for a field the record does not hold, and for a forced
    * gate's probe. */
  def line(r: QueryRecord): String = {
    def list(xs: Seq[String]) = if (xs.isEmpty) "-" else xs.mkString(",")
    val phases = list(r.phases.map { case (p, ms) => s"$p:$ms" })
    val exchanges = r.exchanges.fold("-")(e => s"${e.shuffle}/${e.broadcast}/${e.reused}")
    val gates = list(r.gates.map(d => s"${d.name}:${d.path}:${d.probed}"))
    f"query=${r.name} status=ok seconds=${r.seconds}%.3f phases_ms=$phases " +
      s"jobs=${r.jobs} construct_jobs=${r.constructJobs} stages=${r.stages.size} " +
      f"tasks=${r.tasks} cpu_s=${r.cpuSeconds}%.3f scan_bytes=${r.scanBytes} " +
      s"shuffle_read_bytes=${r.shuffleReadBytes} " +
      s"shuffle_write_bytes=${r.shuffleWriteBytes} spill_bytes=${r.spillBytes} " +
      s"rows=${r.rows.fold("-")(_.toString)} exchanges=$exchanges gates=$gates"
  }
}

/** The streaming counterpart (same A10 sink): one log4j2 line per
  * streaming query start / progress / termination. Config-driven via
  * `spark.sql.streaming.streamingQueryListeners=graft.GraftStreamingLogger`
  * or programmatic via [[GraftStreamingLogger.install]]. */
class GraftStreamingLogger
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  private val log =
    org.apache.logging.log4j.LogManager.getLogger("graft.queries")

  // unnamed queries have a null name — fall back to the stable id so
  // log lines never carry a literal "null" token
  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    GraftStreamingLogger.fired.incrementAndGet()
    log.info(s"stream=${Option(e.name).getOrElse(e.id)} status=started")
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    GraftStreamingLogger.fired.incrementAndGet()
    log.info(s"stream=${Option(e.progress.name).getOrElse(e.progress.id)}" +
      s" batch=${e.progress.batchId}" +
      s" rows=${e.progress.numInputRows} status=progress")
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    GraftStreamingLogger.fired.incrementAndGet()
    e.exception match {
      // failures go to ERROR with a one-line message, matching the
      // batch listener's convention (a raw stack trace would break the
      // one-line-per-event shape of the rolling sink)
      case Some(x) =>
        log.error(s"stream id=${e.id} status=error" +
          s" msg=${x.linesIterator.nextOption().getOrElse(x)}")
      case None => log.info(s"stream id=${e.id} status=terminated")
    }
  }
}

object GraftStreamingLogger {
  val fired = new AtomicLong()

  def install(s: SparkSession): GraftStreamingLogger = {
    val l = new GraftStreamingLogger
    s.streams.addListener(l)
    l
  }
}
