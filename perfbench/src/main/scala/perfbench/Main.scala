package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

object Stats {
  /** Linear-interpolation percentile of sorted values, q in [0, 1]. */
  def percentile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted, 0.5)
}

/** One benchmark run in a fresh JVM: set up, a cold pass, warm-up
  * passes, then as many measured warm passes as take about `--seconds`
  * (see `measuredPasses`). With `--trace 1` every other measured pass
  * is traced and the run reports
  * per-layer metrics; otherwise it reports the end-to-end metrics. The
  * result goes to `<out>/result.json`, the spans of traced passes to
  * `<out>/spans.jsonl`.
  *
  * Arguments: --workload ingest|queries --seed N --seconds S
  * --trace 0|1 --cores N --data SF_DIR --out DIR --expected FILE
  * --record 0|1, and for ingest --ingest GEN_DIR --gen-seconds S. */
object Main {

  /** The queries of the `queries` workload: fixed-cost relational
    * queries, corpus queries with construction-time work, and one
    * stateful streaming query. */
  val QuerySet: Seq[String] = Seq("q_agg_distinct", "q_scan_json", "q_llm_sim_ann",
    "q_llm_dedup_ngram", "s_session")

  val SetupSamples = 5

  /** Untimed passes between the cold pass and the measured ones, per
    * workload. The JIT keeps compiling the workloads' hot paths through
    * the first warm passes: at local[4] an ingest round falls from
    * about 3.9 s to 2.2 s over its first seven repetitions, a query pass
    * from 5.6 s to 4.0 s over its first five. */
  val WarmUpPasses: Map[String, Int] = Map("ingest" -> 4, "queries" -> 2)

  /** A measured pass's time at local[4] on the 4-vCPU virtual machine
    * the benchmark was tuned on, which turns `--seconds` into a count of
    * measured passes. */
  val NominalPassSeconds: Map[String, Double] = Map("ingest" -> 2.5, "queries" -> 4.0)

  /** The warm passes the metrics are taken over, after the warm-up:
    * counted, not timed, so that every run measures the same passes of
    * the JIT's progress. Timing them instead made a run on a fast minute
    * measure later, faster passes than a run on a slow one. With the
    * count fixed, the measured passes may still sit on the JIT's slope:
    * they vary no more from run to run than later ones. */
  def measuredPasses(workload: String, seconds: Double): Int =
    math.max(3, math.round(seconds / NominalPassSeconds(workload)).toInt)

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used. */
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  /** Progress on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val cores = opt("cores").toInt
    val sf = opt("data")
    val out = Paths.get(opt("out"))
    val record = opt.get("record").contains("1")
    val runId = s"$workload-${opt("seed")}-${ProcessHandle.current.pid}"

    val (spark, setups) = Session.setUp(cores, out.toString, sf, SetupSamples)
    log(s"set up: ${setups.mkString(" ")}")
    val sc = spark.sparkContext
    val spans = new Spans(runId, sc)
    val expect = new Expectations(Paths.get(opt("expected")), record)
    val w: Workload = workload match {
      case "ingest" =>
        new Ingest(spark, Paths.get(opt("ingest")), out.resolve("sink"), cores, spans)
      case "queries" => new Queries(spark, sf, QuerySet, opt("seed").toLong, expect, spans)
    }

    val compile0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val cold = w.pass(cold = true)
    log(f"cold pass ${cold.seconds}%.2f s steal ${cold.time.steal}%.2f s wall ${cold.time.wall}%.2f s")
    val compileCold = (CodeGenerator.compileTime - compile0._1,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compile0._2)

    /** One warm pass, logged with its wall time, the host's steal over
      * it and the JVM's CPU time. */
    def warmPass(label: String): Pass = {
      val cpu0 = cpuSeconds()
      val p = w.pass(cold = false)
      log(f"$label ${p.seconds}%.2f s steal ${p.time.steal}%.2f s wall ${p.time.wall}%.2f s " +
        f"cpu ${cpuSeconds() - cpu0}%.2f s")
      p
    }

    val warmUp = (1 to WarmUpPasses(workload)).map(_ => warmPass("warm-up pass"))

    // the measured passes; when tracing, every second one is traced
    val counters = new Counters
    val warm = mutable.ArrayBuffer.empty[(Pass, Boolean)]
    val compile1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (0 until measuredPasses(workload, seconds)).foreach { i =>
      val on = traced && i % 2 == 1
      if (on) { Bus.drain(sc); sc.addSparkListener(counters) }
      spans.on = on
      val p = warmPass(if (on) "warm pass traced" else "warm pass")
      spans.on = false
      if (on) { Bus.drain(sc); sc.removeSparkListener(counters) }
      warm += ((p, on))
    }
    val warmCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compile1
    w.close()
    expect.save()
    spark.stop()
    log("stopped")

    val untraced = warm.filterNot(_._2).map(_._1).toSeq
    val all = (cold +: warmUp) ++ warm.map(_._1)
    val failures = all.flatMap(_.failures)
    val attempted = all.map(_.attempted).sum
    val ops = untraced.flatMap(_.opMs).sorted
    val rssMb = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

    val endToEnd = Seq(
      ("setup_s", Stats.median(setups), "s", s"median of ${setups.size} set-ups"),
      ("cold_pass_s", cold.seconds, "s", "first pass in a fresh JVM, less steal"),
      ("warm_pass_s", Stats.median(untraced.map(_.seconds)), "s",
        s"median of ${untraced.size} warm passes after ${warmUp.size} warm-up passes, less steal"),
      ("op_p50_ms", Stats.percentile(ops, 0.5), "ms", s"n=${ops.size} ${opName(workload)}"),
      ("op_p90_ms", Stats.percentile(ops, 0.9), "ms", s"n=${ops.size} ${opName(workload)}"),
      ("rows_per_s", untraced.map(_.rows).sum / untraced.map(_.rowSeconds).sum, "rows/s",
        rowsName(workload)),
      ("rss_peak_mb", rssMb, "MB", "peak resident memory of the JVM"))

    val metrics = if (!traced) endToEnd.map(m => (m._1, m._2, m._3))
    else {
      val tracedPasses = warm.filter(_._2).map(_._1).toSeq
      perLayer(spans, counters, w.layers(tracedPasses.size), tracedPasses.size, cores, compileCold, warmCompiles,
        opt.get("gen-seconds").fold(0.0)(_.toDouble),
        Stats.median(tracedPasses.map(_.seconds)) - Stats.median(untraced.map(_.seconds)))
    }

    println(f"workload $workload%s seed ${opt("seed")}%s trace ${opt("trace")}%s cores $cores%d")
    if (!traced) endToEnd.foreach { case (n, v, u, note) => println(f"  $n%-16s $v%14.4f $u%-7s $note%s") }
    else metrics.foreach { case (n, v, u) => println(f"  $n%-26s $v%18.4f $u%s") }
    println(f"  start_s          ${setups.head}%14.4f s       process start to the end of the first set-up")
    println(f"  host_steal_s     ${untraced.map(_.time.steal).sum}%14.4f s       " +
      "steal (time the host took the virtual CPUs away) over the measured passes")
    println(f"  warm_wall_s      ${Stats.median(untraced.map(_.time.wall))}%14.4f s       " +
      "median wall time of the measured passes, steal included")
    println(f"  failed_share     ${failures.size.toDouble / attempted}%14.4f ratio   " +
      s"${failures.size} of $attempted operations")
    failures.take(20).foreach(f => println(s"  FAILED $f"))

    if (traced) spans.write(out.resolve("spans.jsonl"))
    val json = metrics.map { case (n, v, u) => s""""$n": {"value": ${jsonNum(v)}, "unit": "$u"}""" }
    Files.writeString(out.resolve("result.json"),
      s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, """ +
        s""""metrics": {${json.mkString(", ")}}}""")
  }

  private def opName(w: String) = w match {
    case "ingest" => "warm rounds"
    case _ => "warm query executions"
  }

  private def rowsName(w: String) = w match {
    case "ingest" => "canonical events landed per second of round"
    case _ => "result rows per second of query"
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** The per-layer table: each value per traced warm pass, except the
    * codegen metrics of the cold pass, where compilation happens. */
  private def perLayer(spans: Spans, c: Counters, own: collection.Map[String, Double], passes: Int,
                       cores: Int, compileCold: (Long, Long), warmCompiles: Long, genSeconds: Double,
                       overhead: Double): Seq[(String, Double, String)] = {
    val n = math.max(passes, 1).toDouble
    val self = spans.selfSeconds.withDefaultValue(0.0)
    val execS = Seq("exec", "rest.scan", "normalize", "sink").map(self).sum / n
    val runS = c.runMs / 1e3 / n
    def o(k: String) = own.getOrElse(k, 0.0)
    Seq(
      ("construct.s", self("construct") / n, "s"),
      ("construct.jobs", c.jobsByLayer("construct") / n, "count"),
      ("plan.s", self("plan") / n, "s"),
      ("plan.analysis_s", o("plan.analysis_s"), "s"),
      ("plan.optimization_s", o("plan.optimization_s"), "s"),
      ("plan.planning_s", o("plan.planning_s"), "s"),
      ("plan.exchanges", o("plan.exchanges"), "count"),
      ("plan.reused_exchanges", o("plan.reused_exchanges"), "count"),
      ("codegen.compile_s", compileCold._1 / 1e9, "s"),
      ("codegen.compiles", compileCold._2.toDouble, "count"),
      ("codegen.warm_compiles", warmCompiles.toDouble, "count"),
      ("exec.s", execS, "s"),
      ("sched.jobs", c.jobs / n, "count"),
      ("sched.stages", c.stages / n, "count"),
      ("sched.tasks", c.tasks / n, "count"),
      ("exec.cpu_s", c.cpuNs / 1e9 / n, "s"),
      ("exec.run_s", runS, "s"),
      ("exec.core_busy", if (execS > 0) runS / (execS * cores) else 0.0, "ratio"),
      ("exec.gc_s", c.gcMs / 1e3 / n, "s"),
      ("exec.peak_mem_bytes", c.peakMem.toDouble, "bytes"),
      ("scan.bytes", c.scanBytes / n, "bytes"),
      ("scan.records", c.scanRecords / n, "count"),
      ("shuffle.write_bytes", c.shuffleWrite / n, "bytes"),
      ("shuffle.read_bytes", c.shuffleRead / n, "bytes"),
      ("shuffle.fetch_wait_s", c.fetchWaitMs / 1e3 / n, "s"),
      ("spill.disk_bytes", c.spillDisk / n, "bytes"),
      ("spill.mem_bytes", c.spillMem / n, "bytes"),
      ("staged.released", o("staged.released"), "count"),
      ("staged.cached_bytes", o("staged.cached_bytes"), "bytes"),
      ("rest.fetches", o("rest.fetches"), "count"),
      ("rest.fetch_s", o("rest.fetch_s"), "s"),
      ("rest.fetch_p90_ms", o("rest.fetch_p90_ms"), "ms"),
      ("rest.bytes", o("rest.bytes"), "bytes"),
      ("rest.retries", o("rest.retries"), "count"),
      ("rest.scan_s", self("rest.scan") / n, "s"),
      ("normalize.s", self("normalize") / n, "s"),
      ("normalize.rows_ok", o("normalize.rows_ok"), "count"),
      ("normalize.rows_err", o("normalize.rows_err"), "count"),
      ("sink.s", self("sink") / n, "s"),
      ("sink.bytes", o("sink.bytes"), "bytes"),
      ("sink.files", o("sink.files"), "count"),
      ("stream.batches", o("stream.batches"), "count"),
      ("stream.batch_p50_ms", o("stream.batch_p50_ms"), "ms"),
      ("stream.batch_p90_ms", o("stream.batch_p90_ms"), "ms"),
      ("stream.add_batch_ms", o("stream.add_batch_ms"), "ms"),
      ("stream.get_batch_ms", o("stream.get_batch_ms"), "ms"),
      ("stream.planning_ms", o("stream.planning_ms"), "ms"),
      ("stream.wal_commit_ms", o("stream.wal_commit_ms"), "ms"),
      ("stream.outside_batch_s", o("stream.outside_batch_s"), "s"),
      ("stream.state_rows", o("stream.state_rows"), "count"),
      ("stream.state_mem_bytes", o("stream.state_mem_bytes"), "bytes"),
      ("bench.gen_s", genSeconds, "s"),
      ("trace.overhead", overhead, "s"))
  }
}
