package perfbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.sources.Normalize
import graft.sources.rest.{HttpTransport, RestResponse, Transport}

/** Loopback HTTP server for the generated pages: `GET
  * /{adapter}/{chapter}/events` answers with that chapter's NDJSON page,
  * or an empty page for a chapter the generator gave none. Pages are
  * held in memory; at most `threads` requests are handled at once. */
final class PageServer(pagesDir: Path, threads: Int) {
  private val pages: Map[String, Array[Byte]] =
    Files.walk(pagesDir).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      val rel = pagesDir.relativize(p).toString.stripSuffix(".ndjson")
      s"/$rel/events" -> Files.readAllBytes(p)
    }.toMap
  val requests = new AtomicLong
  val bytes = new AtomicLong
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    val body = pages.getOrElse(ex.getRequestURI.getPath, Array.emptyByteArray)
    requests.incrementAndGet()
    bytes.addAndGet(body.length)
    ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  })
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}

/** The live HTTP transport with each fetch timed, registered through
  * the public `Transport.register` seam for the traced rounds. */
final class TimedTransport(inner: Transport) extends Transport {
  val fetchNs = new ConcurrentLinkedQueue[java.lang.Long]()
  override def fetch(adapter: String, chapter: String): RestResponse = {
    val t0 = System.nanoTime()
    try inner.fetch(adapter, chapter)
    finally fetchNs.add(System.nanoTime() - t0)
  }
}

/** Planning phases and exchanges of every action the traced rounds run
  * (count, write, collect), which the benchmark cannot reach otherwise. */
final class ActionPlans(sums: LayerSums) extends QueryExecutionListener {
  @volatile var on = false
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) Plans.record(qe, sums)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
}

/** The paper's pipeline, one round per pass: fetch every chapter's page
  * through `RestSource` over HTTP, parse each adapter's payloads,
  * `Normalize.dispatch`, `split`, and write the ok channel with
  * `writeKeyedJson` while counting the error channel per chapter. The
  * fetched and the normalized rows are each kept in memory for the
  * round, so no page is fetched twice. After each round, outside its
  * clock, the landed rows per chapter are checked against the
  * generator's counts. */
final class Ingest(spark: SparkSession, inDir: Path, sinkDir: Path, cores: Int,
                   spans: Spans) extends Workload {
  private val sc = spark.sparkContext
  private val server = new PageServer(inDir.resolve("pages"), cores)
  private val timed = new TimedTransport(new HttpTransport(server.url))
  Transport.register("perfbench-timed", timed)
  private val chaptersFile = inDir.resolve("chapters.jsonl").toString

  /** chapter -> (ok rows, error rows) the generator made. */
  private val expected: Map[String, (Long, Long)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(inDir.resolve("expected.json").toFile).get("chapters")
    root.fieldNames().asScala.map { c =>
      c -> (root.get(c).get("ok").asLong, root.get(c).get("err").asLong)
    }.toMap
  }

  private val sums = new LayerSums
  private val plans = new ActionPlans(sums)
  spark.listenerManager.register(plans)

  private def parse(raw: DataFrame, adapter: String, schema: StructType): DataFrame =
    raw.filter(col("adapter") === adapter)
      .select(from_json(col("payload"), schema).as("r")).select("r.*")

  def pass(cold: Boolean): Pass = {
    val traced = spans.on
    plans.on = traced
    val transport = if (traced) "perfbench-timed" else server.url
    val requests0 = server.requests.get
    val bytes0 = server.bytes.get
    timed.fetchNs.clear()
    System.gc()
    val clock = new Stopwatch
    var errCounts = Map.empty[String, Long]
    val sink = sinkDir.toString
    try spans.span("pass") {
      val raw = spans.span("construct") {
        spark.read.format("graft.sources.rest.RestSource")
          .option("chaptersFile", chaptersFile)
          .option("transport", transport)
          .option("ratePerSecond", "1000000")
          .load().persist(StorageLevel.MEMORY_ONLY)
      }
      spans.span("rest.scan") { raw.count() }
      val all = spans.span("construct") {
        Normalize.dispatch(
          parse(raw, "meetup", Normalize.meetupRawSchema),
          parse(raw, "facebook", Normalize.facebookRawSchema),
          parse(raw, "eventbrite", Normalize.eventbriteRawSchema),
          Normalize.readChapters(spark, chaptersFile)).persist(StorageLevel.MEMORY_ONLY)
      }
      spans.span("normalize") { all.count() }
      val (ok, err) = spans.span("construct") { Normalize.split(all) }
      spans.span("sink") {
        Normalize.writeKeyedJson(ok, sink)
        errCounts = err.groupBy("chapter").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      raw.unpersist(blocking = true)
      all.unpersist(blocking = true)
    } catch {
      case e: Exception =>
        plans.on = false
        return Pass(clock.read(), Nil, 0, 0, 1, Seq(s"ingest: ${e.toString.take(300)}"))
    }
    val time = clock.read()

    // outside the clock: the landed rows per chapter against the generator
    val landed = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var sinkBytes, sinkFiles = 0L
    Files.list(sinkDir).iterator().asScala.filter(_.getFileName.toString.startsWith("chapter=")).foreach { d =>
      val chapter = d.getFileName.toString.stripPrefix("chapter=")
      Files.list(d).iterator().asScala.filter(_.getFileName.toString.endsWith(".json")).foreach { f =>
        landed(chapter) += Files.lines(f).count()
        sinkBytes += Files.size(f)
        sinkFiles += 1
      }
    }
    val failures = expected.toSeq.sortBy(_._1).flatMap { case (c, (okN, errN)) =>
      val problems = Seq(
        Option.when(landed(c) != okN)(s"${landed(c)} rows landed, expected $okN"),
        Option.when(errCounts.getOrElse(c, 0L) != errN)(
          s"${errCounts.getOrElse(c, 0L)} errors, expected $errN")).flatten
      problems.map(p => s"ingest chapter $c: $p")
    } ++ (landed.keySet ++ errCounts.keySet).diff(expected.keySet).map(c => s"ingest: unexpected chapter $c")
    val okRows = landed.values.sum

    if (traced) {
      Bus.drain(sc)
      val fetches = timed.fetchNs.asScala.map(_.longValue / 1e6).toSeq.sorted
      fetchMs ++= fetches
      sums.add("rest.fetches", fetches.size)
      sums.add("rest.fetch_s", fetches.sum / 1e3)
      sums.add("rest.bytes", server.bytes.get - bytes0)
      sums.add("rest.retries", server.requests.get - requests0 - fetches.size)
      sums.add("normalize.rows_ok", okRows)
      sums.add("normalize.rows_err", errCounts.values.sum)
      sums.add("sink.bytes", sinkBytes)
      sums.add("sink.files", sinkFiles)
    }
    plans.on = false
    Pass(time, Seq(time.seconds * 1e3), okRows, time.seconds, 1, failures)
  }

  private val fetchMs = mutable.ArrayBuffer.empty[Double]

  def layers(tracedPasses: Int): Map[String, Double] =
    sums.perPass(tracedPasses) + ("rest.fetch_p90_ms" -> Stats.percentile(fetchMs.sorted.toSeq, 0.9))

  override def close(): Unit = {
    spark.listenerManager.unregister(plans)
    server.stop()
  }
}
