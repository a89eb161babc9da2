package graft

import graft.sources.{Normalize, NormalizeQueries}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** DataSourceV2 REST connector (A3–A6): chapters chunked per core,
  * offline fixture transport, token-bucket throttle, and end-to-end
  * compose with the normalize pipeline. */
class RestSourceSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val fx = NormalizeQueries.fixturesDir

  private lazy val raw = s.read.format("graft.sources.rest.RestSource")
    .option("chaptersFile", s"$fx/chapters.jsonl")
    .option("fixturesDir", fx)
    .option("ratePerSecond", "1000")
    .load()
    .cache()

  test("chapters chunked into one partition per core; each chapter in one") {
    // 6 chapters incl. unknown adapter, dealt over min(6, cores) chunks
    assert(raw.rdd.getNumPartitions ==
      math.min(6, s.sparkContext.defaultParallelism))
    val byChapter = raw.withColumn("part", spark_partition_id())
      .groupBy("chapter").agg(count(lit(1)), countDistinct("part")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // a chapter's rows never straddle two chunks
    assert(byChapter.values.forall(_._2 == 1L))
    // ghost meetup row (no id) still belongs to london's payload
    assert(byChapter.map { case (c, (n, _)) => c -> n } ==
      Map("newyork" -> 2L, "london" -> 3L, "berlin" -> 4L,
        "rome" -> 2L, "miami" -> 4L)) // atlantis: unknown adapter → no fixture
  }

  test("every chapter is fetched exactly once across chunk boundaries") {
    // 11 chapters over fewer chunks: uneven chunks, with empty pages
    // between non-empty ones, so a chunk's reader must step over them
    val chapters = (0 until 11).map(i => s"c$i")
    val dir = java.nio.file.Files.createTempDirectory("rest-chunks")
    Scratch.deleteOnExit(dir.toString)
    val file = dir.resolve("chapters.jsonl")
    java.nio.file.Files.write(file, chapters.map(c =>
      s"""{"chapter": "$c", "adapter": "meetup"}""").mkString("\n")
      .getBytes("UTF-8"))
    val fetches = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    graft.sources.rest.Transport.register("counting",
      new graft.sources.rest.Transport {
        override def fetch(adapter: String, chapter: String) = {
          fetches.merge(chapter, 1, (a, b) => a + b)
          // c0 → 0 rows, c1 → 1 row, c2 → 2 rows, c3 → 0 rows, ...
          graft.sources.rest.RestResponse(
            Seq.tabulate(chapter.drop(1).toInt % 3)(j => s"""{"n": $j}"""))
        }
      })
    try {
      val df = s.read.format("graft.sources.rest.RestSource")
        .option("chaptersFile", file.toString)
        .option("transport", "counting")
        .option("ratePerSecond", "1000")
        .load()
      assert(df.rdd.getNumPartitions < chapters.size) // chunks of 2-3
      assert(df.count() == chapters.map(_.drop(1).toInt % 3).sum)
      assert(fetches.asScala.toMap == chapters.map(_ -> Integer.valueOf(1)).toMap)
    } finally {
      java.nio.file.Files.delete(file)
      java.nio.file.Files.delete(dir)
    }
  }

  test("composes with the normalize pipeline end to end") {
    // the DSv2 scan replaces the file reads: parse a source's payload
    // rows with its explicit schema, then normalize as usual
    val meetup = s.read.schema(Normalize.meetupRawSchema)
      .json(raw.filter(col("adapter") === "meetup")
        .select("payload").as[String](org.apache.spark.sql.Encoders.STRING))
    val ok = Normalize.normalizeMeetup(meetup).filter(col("error").isNull)
    assert(ok.count() == 4) // 5 meetup payload rows, 1 ghost error
  }

  test("a registered mock Transport is injected through the seam") {
    val served = Seq(
      """{"chapter": "berlin", "id": "m1", "name": "Mocked"}""",
      """{"chapter": "berlin", "id": "m2", "name": "Also mocked"}""")
    graft.sources.rest.Transport.register("mock",
      new graft.sources.rest.Transport {
        override def fetch(adapter: String, chapter: String) =
          graft.sources.rest.RestResponse(
            if (chapter == "berlin") served else Nil)
      })
    val rows = s.read.format("graft.sources.rest.RestSource")
      .option("chaptersFile", s"$fx/chapters.jsonl")
      .option("transport", "mock")
      .option("ratePerSecond", "1000")
      .load()
      .filter(col("payload").isNotNull)
      .collect()
    assert(rows.map(_.getString(2)).sorted.toSeq == served.sorted)
    assert(rows.forall(_.getString(0) == "berlin"))
  }

  test("HttpTransport fetches chapters from a live (loopback) server") {
    // zero-egress container: a JDK HttpServer on 127.0.0.1 plays the
    // adapter API — this is the live-mode proof for the http transport
    val served = Map(
      "berlin" -> Seq(
        """{"chapter": "berlin", "id": "h1", "name": "Via HTTP"}""",
        """{"chapter": "berlin", "id": "h2", "name": "Also HTTP"}"""),
      "london" -> Seq(
        """{"chapter": "london", "id": "h3", "name": "London HTTP"}"""))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      // path shape: /{adapter}/{chapter}/events (meetup.rkt:83-84)
      val parts = exchange.getRequestURI.getPath.split("/").filter(_.nonEmpty)
      val body = served.getOrElse(parts(1), Nil).mkString("\n")
        .getBytes("UTF-8")
      exchange.getResponseHeaders.add("X-Ratelimit-Remaining", "30")
      exchange.sendResponseHeaders(200, body.length)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    server.start()
    try {
      val rows = s.read.format("graft.sources.rest.RestSource")
        .option("chaptersFile", s"$fx/chapters.jsonl")
        .option("transport",
          s"http://127.0.0.1:${server.getAddress.getPort}")
        .option("ratePerSecond", "1000")
        .load()
        .filter(col("payload").isNotNull)
        .collect()
      assert(rows.map(_.getString(2)).sorted.toSeq ==
        served.values.flatten.toSeq.sorted)
    } finally server.stop(0)
  }

  test("HttpTransport retries transient 5xx with backoff, then succeeds") {
    // rolling-restart shape: first two hits per path 500, then 200
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val path = exchange.getRequestURI.getPath
      val n = hits.merge(path, 1, (a, b) => a + b)
      if (n <= 2) {
        exchange.sendResponseHeaders(500, -1)
      } else {
        val body = """{"id": "r1", "name": "After Retry"}""".getBytes("UTF-8")
        exchange.sendResponseHeaders(200, body.length)
        exchange.getResponseBody.write(body)
      }
      exchange.close()
    })
    server.start()
    try {
      val t = new sources.rest.HttpTransport(
        s"http://127.0.0.1:${server.getAddress.getPort}",
        maxRetries = 3, backoffMs = 1L)
      val resp = t.fetch("meetup", "berlin")
      assert(resp.lines == Seq("""{"id": "r1", "name": "After Retry"}"""))
      assert(hits.get("/meetup/berlin/events") == 3) // 500, 500, 200
    } finally server.stop(0)
  }

  test("exhausted 5xx retries fail loudly (error-row lift unchanged)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      hits.incrementAndGet()
      exchange.sendResponseHeaders(503, -1)
      exchange.close()
    })
    server.start()
    try {
      val t = new sources.rest.HttpTransport(
        s"http://127.0.0.1:${server.getAddress.getPort}",
        maxRetries = 2, backoffMs = 1L)
      val e = intercept[RuntimeException] { t.fetch("meetup", "berlin") }
      assert(e.getMessage.contains("HTTP 503"))
      assert(e.getMessage.contains("after 2 retries"))
      assert(hits.get() == 3) // initial + 2 retries, bounded
    } finally server.stop(0)
  }

  test("connection-level failures engage the same retry loop") {
    // a rolling restart's commonest symptom is connect-refused, not a
    // received 5xx (review r13) — bind-then-close a socket so the port
    // is known-dead, and assert the IOException surfaces only after
    // the bounded retries ran
    val sock = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val port = sock.getLocalPort
    sock.close()
    val t = new sources.rest.HttpTransport(
      s"http://127.0.0.1:$port", maxRetries = 2, backoffMs = 1L)
    val e = intercept[java.io.IOException] { t.fetch("meetup", "berlin") }
    assert(e.getMessage.contains("after 2 retries"), e.getMessage)
  }

  test("4xx is NOT retried (a wrong request must not burn rate limit)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      hits.incrementAndGet()
      exchange.sendResponseHeaders(404, -1)
      exchange.close()
    })
    server.start()
    try {
      val t = new sources.rest.HttpTransport(
        s"http://127.0.0.1:${server.getAddress.getPort}",
        maxRetries = 3, backoffMs = 1L)
      val e = intercept[RuntimeException] { t.fetch("meetup", "berlin") }
      assert(e.getMessage.contains("HTTP 404"))
      assert(hits.get() == 1)
    } finally server.stop(0)
  }

  test("HTTP X-Ratelimit headers defer subsequent fetches end-to-end") {
    // the full meetup.rkt:9-26 loop over a real socket: the server
    // reports <3 requests remaining with a reset ~0.4s out on EVERY
    // response; the first fetch's headers must defer the remaining
    // chapter partitions until the reset deadline
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val body = """{"chapter": "x", "id": "r1"}""".getBytes("UTF-8")
      exchange.getResponseHeaders.add("X-Ratelimit-Remaining", "1")
      exchange.getResponseHeaders.add("X-Ratelimit-Reset",
        ((System.currentTimeMillis() + 400L) / 1000L + 1L).toString)
      exchange.sendResponseHeaders(200, body.length)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    server.start()
    try {
      val t0 = System.nanoTime()
      s.read.format("graft.sources.rest.RestSource")
        .option("chaptersFile", s"$fx/chapters.jsonl")
        .option("transport",
          s"http://127.0.0.1:${server.getAddress.getPort}")
        .option("ratePerSecond", "1000")
        .load().count()
      val sec = (System.nanoTime() - t0) / 1e9
      assert(sec >= 0.3,
        f"expected HTTP-header-driven defer across partitions, took $sec%.2fs")
    } finally {
      server.stop(0)
      graft.sources.rest.Throttle.clearDefer()
    }
  }

  test("an unregistered transport name fails loudly") {
    val e = intercept[Exception] {
      s.read.format("graft.sources.rest.RestSource")
        .option("chaptersFile", s"$fx/chapters.jsonl")
        .option("transport", "no-such-transport")
        .load().count()
    }
    assert(e.getMessage != null || e.getCause != null) // surfaced, not swallowed
  }

  test("low X-Ratelimit-Remaining defers subsequent fetches to reset") {
    graft.sources.rest.Transport.register("ratelimited",
      new graft.sources.rest.Transport {
        override def fetch(adapter: String, chapter: String) =
          graft.sources.rest.RestResponse(Nil,
            rateRemaining = Some(1L),
            rateResetMillis = Some(System.currentTimeMillis() + 400L))
      })
    val t0 = System.nanoTime()
    // 6 chapter partitions; the first response's headers defer the rest
    s.read.format("graft.sources.rest.RestSource")
      .option("chaptersFile", s"$fx/chapters.jsonl")
      .option("transport", "ratelimited")
      .option("ratePerSecond", "1000")
      .load().count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec >= 0.3, f"expected header-driven defer, took $sec%.2fs")
    // don't leak the planted deadline into later tests in this JVM
    graft.sources.rest.Throttle.clearDefer()
  }

  test("token bucket throttles fetch rate") {
    val t0 = System.nanoTime()
    s.read.format("graft.sources.rest.RestSource")
      .option("chaptersFile", s"$fx/chapters.jsonl")
      .option("fixturesDir", fx)
      .option("ratePerSecond", "4") // 6 chapters at 4/s ≥ ~0.5s floor
      .load().count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec >= 0.4, f"expected throttled scan, took $sec%.2fs")
  }
}
