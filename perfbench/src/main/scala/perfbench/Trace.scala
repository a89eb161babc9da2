package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into a layer: `parent` is the id of the enclosing
  * span (-1 at the root); all spans of one run share `run`. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String =
    s"""{"id":$id,"name":"$name","parent":$parent,"run":"$run",""" +
      s""""start_ns":$startNs,"end_ns":$endNs}"""
}

/** The span writer. Spans are kept in memory and written once, when the
  * run ends. While `on` is false `span` only runs its body, so untraced
  * passes pay nothing. Each open span also tags the Spark jobs its body
  * submits (a thread-local job property), which is how [[Counters]]
  * attributes jobs to layers. */
final class Spans(val run: String, sc: SparkContext) {
  var on = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var next = 0

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = next
      next += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name) :: open
      sc.setLocalProperty(Spans.LayerProperty, name)
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, run, t0, System.nanoTime())
        open = open.tail
        sc.setLocalProperty(Spans.LayerProperty, open.headOption.map(_._2).orNull)
      }
    }

  /** Seconds per span name, each span counted without the part of its
    * interval that its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val childTime = done.groupMapReduce(_.parent)(_.seconds)(_ + _)
    done.groupMapReduce(_.name)(s => s.seconds - childTime.getOrElse(s.id, 0.0))(_ + _)
  }

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, done.map(_.json).mkString("", "\n", "\n"))
}

object Spans {
  val LayerProperty = "perfbench.layer"
}

/** Scheduler and task counters, summed over the jobs that run while the
  * listener is registered (the traced passes). */
final class Counters extends SparkListener {
  val jobsByLayer: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, fetchWaitMs = 0L
  var scanBytes, scanRecords, shuffleWrite, shuffleRead = 0L
  var spillDisk, spillMem, peakMem = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.LayerProperty)))
    jobsByLayer(layer.getOrElse("none")) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      scanBytes += m.inputMetrics.bytesRead
      scanRecords += m.inputMetrics.recordsRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillDisk += m.diskBytesSpilled
      spillMem += m.memoryBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }
}

/** Progress of every micro-batch that runs while registered (the
  * traced passes). */
final class Batches extends StreamingQueryListener {
  private val seen = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { seen += e.progress }

  /** The progress seen since the last call, oldest first. */
  def take(): Seq[StreamingQueryProgress] = synchronized {
    val out = seen.toList
    seen.clear()
    out
  }
}

/** Exchange counts of an executed plan, looking through adaptive query
  * stages and subqueries. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def exchanges(plan: SparkPlan): (Int, Int) = {
    val ex = collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }
    val reused = collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }
    (ex.size, reused.size)
  }
}
