package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** What one pass of a workload did: its timing; `opMs`, the latencies
  * the workload reports percentiles of; `rows`, processed in
  * `rowSeconds`. Times are by [[Clock]]. */
final case class Pass(time: Timing, opMs: Seq[Double], rows: Long, rowSeconds: Double,
                      attempted: Int, failures: Seq[String]) {
  def seconds: Double = time.seconds
}

trait Workload {
  /** One pass. Outputs are checked on the cold pass (queries) or on
    * every pass (ingest), outside the pass's clock. */
  def pass(cold: Boolean): Pass

  /** Layer metrics this workload gathered itself over the passes run
    * while tracing was on, per traced pass. */
  def layers(tracedPasses: Int): Map[String, Double]

  def close(): Unit = ()
}

/** Sums of layer metrics over traced passes. */
class LayerSums {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(key: String, v: Double): Unit = sums.synchronized { sums(key) += v }
  def perPass(passes: Int): Map[String, Double] =
    sums.synchronized { sums.toMap.map { case (k, v) => k -> v / math.max(passes, 1) } }
}

/** Expected row count and digest per query, committed with the
  * benchmark. The sketch queries get a rows-only check, as in the
  * oracle gate: their estimates are not meant to be exact. */
final class Expectations(path: java.nio.file.Path, record: Boolean) {
  private val RowsOnly = Set("q_agg_approx", "q_agg_approx_pct", "q_agg_sketch_merge")
  private val known: mutable.Map[String, (Long, String)] = mutable.Map.empty

  if (java.nio.file.Files.exists(path)) {
    val it = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile).fields()
    while (it.hasNext) {
      val e = it.next()
      known(e.getKey) = (e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }
  }

  /** A failure message, or None when the output matches. In record
    * mode the output is taken as the new expectation instead. */
  def check(name: String, rows: Long, digest: String): Option[String] =
    if (record) {
      known(name) = (rows, if (RowsOnly(name)) "" else digest)
      None
    } else known.get(name) match {
      case None => Some(s"$name: no expected output recorded")
      case Some((r, _)) if r != rows => Some(s"$name: $rows rows, expected $r")
      case Some((_, d)) if !RowsOnly(name) && d != digest => Some(s"$name: digest $digest, expected $d")
      case _ => None
    }

  def save(): Unit = if (record) {
    val body = known.toSeq.sortBy(_._1).map { case (n, (r, d)) =>
      s"""  "$n": {"rows": $r, "digest": "$d"}"""
    }
    java.nio.file.Files.writeString(path, body.mkString("{\n", ",\n", "\n}\n"))
  }
}

/** Runs a fixed set of `SparkEntry.queries` once per pass: the batch
  * queries in an order the seed permutes anew each warm pass, then the
  * streaming queries, last as in `graft.Bench`, because stateful
  * streaming runs leave residue that taxes whatever runs after them.
  * Each query is timed from the call that constructs it to the end of
  * its full materialization (`toRdd`, as `graft.Bench` does); a
  * streaming query runs its micro-batches inside that call. */
final class Queries(spark: SparkSession, sf: String, names: Seq[String], seed: Long,
                    expect: Expectations, spans: Spans) extends Workload {
  private val rng = new scala.util.Random(seed)
  private val sc = spark.sparkContext
  private val (streaming, batch) = names.partition(_.startsWith("s_"))
  private val batches = new Batches
  private val triggerMs = mutable.ArrayBuffer.empty[Double]
  private val sums = new LayerSums

  def pass(cold: Boolean): Pass = {
    val ops = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var wall, steal, streamConstruct = 0.0
    var rows = 0L
    graft.ops.Staged.sweep()
    System.gc()
    if (spans.on) spark.streams.addListener(batches)
    spans.span("pass") {
      // the cold pass keeps the listed order: whichever query runs
      // first in a fresh JVM also pays much of the JVM's warm-up
      for (name <- (if (cold) batch else rng.shuffle(batch)) ++ streaming) {
        val clock = new Stopwatch
        val t0 = System.nanoTime()
        try spans.span("query") {
          val df = spans.span("construct") { graft.SparkEntry.queries(name)(spark, sf) }
          if (streaming.contains(name)) streamConstruct += (System.nanoTime() - t0) / 1e9
          val qe = df.queryExecution
          spans.span("plan") { qe.executedPlan }
          if (cold) {
            val (n, digest) = spans.span("exec") { Digest.of(qe) }
            failures ++= expect.check(name, n, digest)
            rows += n
          } else rows += spans.span("exec") { count(qe) }
          if (spans.on) Plans.record(qe, sums)
        } catch {
          case e: Exception => failures += s"$name: ${e.toString.take(300)}"
        }
        val t = clock.read()
        Main.log(f"$name%s ${t.wall}%.3f s steal ${t.steal}%.2f s")
        wall += t.wall
        steal += t.steal
        ops += t.seconds * 1e3
        if (spans.on)
          sums.add("staged.cached_bytes", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
        val released = graft.ops.Staged.sweep()
        if (spans.on) sums.add("staged.released", released)
      }
    }
    if (spans.on) {
      Bus.drain(sc)
      spark.streams.removeListener(batches)
      microBatches(batches.take(), streamConstruct)
    }
    val time = Timing(wall, steal)
    Pass(time, ops.toSeq, rows, time.seconds, names.size, failures.toSeq)
  }

  private def microBatches(all: Seq[StreamingQueryProgress], constructSeconds: Double): Unit = {
    val progress = all.filter(_.durationMs.containsKey("addBatch"))
    def ms(key: String) = progress.map(p => Option(p.durationMs.get(key)).fold(0.0)(_.toDouble))
    triggerMs ++= ms("triggerExecution")
    sums.add("stream.batches", progress.size)
    sums.add("stream.add_batch_ms", ms("addBatch").sum)
    sums.add("stream.get_batch_ms", ms("getBatch").sum)
    sums.add("stream.planning_ms", ms("queryPlanning").sum)
    sums.add("stream.wal_commit_ms", ms("walCommit").sum)
    sums.add("stream.outside_batch_s", constructSeconds - ms("triggerExecution").sum / 1e3)
    // state held when each query's last batch ended
    progress.groupBy(_.id).values.map(_.last).foreach { p =>
      sums.add("stream.state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      sums.add("stream.state_mem_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }

  def layers(tracedPasses: Int): Map[String, Double] = {
    val sorted = triggerMs.sorted.toSeq
    sums.perPass(tracedPasses) ++ Map(
      "stream.batch_p50_ms" -> Stats.percentile(sorted, 0.5),
      "stream.batch_p90_ms" -> Stats.percentile(sorted, 0.9))
  }

  /** Rows of a full materialization, counted per partition. */
  private def count(qe: QueryExecution): Long = {
    val acc = sc.longAccumulator
    qe.toRdd.foreachPartition { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      acc.add(n)
    }
    acc.sum
  }
}

/** Planning phases and exchanges of one executed query. */
object Plans {
  def record(qe: QueryExecution, sums: LayerSums): Unit = {
    val phases = qe.tracker.phases
    for (p <- Seq("analysis", "optimization", "planning"))
      sums.add(s"plan.${p}_s", phases.get(p).fold(0L)(_.durationMs) / 1e3)
    val (ex, reused) = PlanShape.exchanges(qe.executedPlan)
    sums.add("plan.exchanges", ex)
    sums.add("plan.reused_exchanges", reused)
  }
}
