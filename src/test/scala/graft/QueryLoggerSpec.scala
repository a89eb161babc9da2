package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** A10 log sink: the listeners fire per completed query, and every
  * query line is one [[QueryRecord]] in one format, whether
  * [[Bench.materialize]] or the QueryExecutionListener writes it (the
  * log4j2 RollingFile routing is deployment config —
  * src/main/resources/graft-log4j2.xml; the lines are read through an
  * appender on the logger). */
class QueryLoggerSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark

  test("streaming listener fires across a query lifecycle") {
    val l = GraftStreamingLogger.install(s)
    try {
      val before = GraftStreamingLogger.fired.get()
      // cheapest real streaming run: one rate-source-free MemoryStream batch
      import s.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Int]
      val sinkName = "slog_" + System.nanoTime()
      val q = mem.toDF().writeStream.format("memory")
        .queryName(sinkName).outputMode("append").start()
      mem.addData(1, 2, 3)
      q.processAllAvailable()
      q.stop()
      s.catalog.dropTempView(sinkName) // don't leak the sink table
      val deadline = System.nanoTime() + 5_000_000_000L
      while (GraftStreamingLogger.fired.get() < before + 3 &&
             System.nanoTime() < deadline) Thread.sleep(50)
      // started + >=1 progress + terminated
      assert(GraftStreamingLogger.fired.get() >= before + 3,
        "StreamingQueryListener did not see start/progress/termination")
    } finally s.streams.removeListener(l)
  }

  /** `body`'s result and the `query=` lines written on the
    * `graft.queries` logger while it ran. */
  private def queryLines[A](body: => A): (A, Seq[String]) = {
    val lines = ArrayBuffer[String]()
    val app = new AbstractAppender("QueryLoggerSpec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.synchronized { lines += e.getMessage.getFormattedMessage }
    }
    app.start()
    val logger = LogManager.getLogger("graft.queries").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    val out =
      try body
      finally { logger.removeAppender(app); logger.setLevel(level); app.stop() }
    (out, lines.synchronized(lines.filter(_.startsWith("query=")).toList))
  }

  test("listener fires on query completion") {
    val l = GraftQueryLogger.install(s)
    val (_, lines) =
      try queryLines {
        val before = GraftQueryLogger.fired.get()
        import s.implicits._
        Seq(1, 2, 3).toDF("x").groupBy().sum("x").collect()
        // listener callbacks are async (posted to the listener bus)
        val deadline = System.nanoTime() + 5_000_000_000L
        while (GraftQueryLogger.fired.get() == before &&
               System.nanoTime() < deadline) Thread.sleep(50)
        assert(GraftQueryLogger.fired.get() > before,
          "QueryExecutionListener did not fire within 5s")
      } finally s.listenerManager.unregister(l)
    assert(lines.exists(_.startsWith("query=collect status=ok seconds=")), lines)
  }

  test("the record line format") {
    val r = QueryRecord("q_x", 1.5, Seq("analysis" -> 3L, "planning" -> 1L),
      jobs = 3, constructJobs = 1,
      stages = Seq(QueryRecord.Stage(4, "Exchange", 10, 2, 250000000L,
        100L, 20L, 30L, 0L), QueryRecord.Stage(5, "Scan", 5, 1, 0L, 7L, 0L, 0L, 9L)),
      gates = Seq(Gate.Decision("anomaly", Some(12.0), 8.0, large = true),
        Gate.Decision("salt", None, 0.3, large = false)),
      rows = Some(42L))
    assert(GraftQueryLogger.line(r) ==
      "query=q_x status=ok seconds=1.500 phases_ms=analysis:3,planning:1 " +
        "jobs=3 construct_jobs=1 stages=2 tasks=3 cpu_s=0.250 scan_bytes=107 " +
        "shuffle_read_bytes=20 shuffle_write_bytes=30 spill_bytes=9 rows=42 " +
        "exchanges=- gates=anomaly:large:12,salt:small:-")
  }

  test("each materialize run writes its record as its one line") {
    val (r, lines) = queryLines(
      Bench.materialize(s, SparkTestBase.sfDir, "q_agg_hash")(Bench.execute))
    assert(lines == Seq(GraftQueryLogger.line(r)))
    assert(r.jobs > 0 && r.stages.nonEmpty && r.rows.exists(_ > 0), lines)
    assert(lines.head.contains(s" jobs=${r.jobs} construct_jobs=${r.constructJobs} "))
  }
}
