package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the type-adaptive events.ts read (Tables.events + the
  * streaming source). The driver's testdata has shipped ts as BOTH
  * INT64 TIMESTAMP(NANOS) (reads as LongType under nanosAsLong) and
  * native timestamp[us]; hard-coding either assumption broke 22
  * queries when the encoding flipped. Strategy: re-encode the real
  * events table as a raw BIGINT-nanos parquet and assert both read
  * paths produce the identical instants and the identical LTZ type.
  */
class EventsEncodingSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  import s.implicits._

  private lazy val nanosDir = {
    val d = Scratch.deleteOnExit(java.nio.file.Files
      .createTempDirectory("graft-events-nanos").toString)
    // Write ts as BIGINT nanoseconds — byte-identical physical layout
    // to what the nanos-generation testdata reads as under the
    // nanosAsLong flag (LongType), exercising the DIV-1000 branch.
    // The driver testdata ships events.parquet as a single FILE (the
    // streaming source glob-filters on that exact leaf name), so
    // promote the one part file out of Spark's output directory.
    Tables.events(s, SparkTestBase.sfDir) // normalized LTZ ts
      .withColumn("ts", unix_micros($"ts") * 1000L)
      .coalesce(1).write.mode("overwrite").parquet(s"$d/_events_dir")
    val part = new java.io.File(s"$d/_events_dir").listFiles()
      .find(f => f.getName.endsWith(".parquet")).get.toPath
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(s"$d/events.parquet"))
    d
  }

  test("batch: long-nanos and native-timestamp reads agree exactly") {
    val native = Tables.events(s, SparkTestBase.sfDir)
    val nanos  = Tables.events(s, nanosDir)
    assert(native.schema("ts").dataType == TimestampType)
    assert(nanos.schema("ts").dataType == TimestampType)
    val cols = Seq("event_id", "ts", "user_id")
    assert(nanos.select(cols.map(col): _*)
      .except(native.select(cols.map(col): _*)).isEmpty)
    assert(native.select(cols.map(col): _*)
      .except(nanos.select(cols.map(col): _*)).isEmpty)
  }

  test("raw nanos file actually reads as LongType (branch coverage)") {
    // If this ever fails the nanosDir fixture stopped exercising the
    // DIV-1000 branch and the agreement test above proves nothing.
    assert(Tables.t(s, nanosDir, "events").schema("ts").dataType == LongType)
  }

  test("streaming source sees the same event times as the batch read") {
    // s_tumble over both encodings must produce identical windows —
    // this is exactly what silently broke when a BIGINT schema was
    // forced onto a timestamp[us] column (all events shifted to 1970).
    val q = SparkEntry.queries("s_tumble")
    val native = q(s, SparkTestBase.sfDir)
    val nanos  = q(s, nanosDir)
    assert(native.count() > 0)
    assert(nanos.except(native).isEmpty && native.except(nanos).isEmpty)
  }
}
