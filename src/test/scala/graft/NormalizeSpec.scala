package graft

import graft.sources.{Normalize, NormalizeQueries}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Golden-fixture pipeline test, the Spark rendering of the
  * reference's eventbrite shape test (`eventbrite.rkt:123-146`: read
  * captured raw JSON → convert-json → assert cardinality + exact
  * row shape), extended to all three adapters, the error channel and
  * the keyed JSON sink (api-runner.rkt:39-52). */
class NormalizeSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val fx = NormalizeQueries.fixturesDir

  private lazy val all = Normalize.readFixtures(s, fx).cache()

  test("canonical schema is exact (shape assertion, eventbrite.rkt:136-146)") {
    assert(all.schema == Normalize.canonicalSchema)
  }

  // the union above would widen one adapter's drifted type; alone, no
  // adapter can hide one
  Normalize.WORKERS.foreach { a =>
    test(s"${a.name} normalize alone yields the canonical schema") {
      val out = a.normalize(Normalize.readRaw(s, fx, a))
      assert(out.schema == Normalize.canonicalSchema, out.schema.treeString)
    }
  }

  test("unknown adapters: exactly the unregistered and the NULL adapter rows") {
    import s.implicits._
    val chapters = (Normalize.WORKERS.map(_.name) ++ Seq("gopher", null))
      .zipWithIndex.map { case (a, i) => (s"c$i", a) }.toDF("chapter", "adapter")
    val errs = Normalize.unknownAdapterErrors(chapters)
      .select("chapter", "error").collect().map(r => (r.getString(0), r.getString(1)))
    val n = Normalize.WORKERS.size
    assert(errs.sorted.toSeq == Seq(
      (s"c$n", s"ERROR: No adapter gopher found for chapter c$n"),
      (s"c${n + 1}", s"ERROR: No adapter <null> found for chapter c${n + 1}")))
  }

  test("cardinality: every fixture row lands exactly once") {
    // 5 meetup + 4 facebook + 6 eventbrite + 1 unknown-adapter chapter
    assert(all.count() == 16)
  }

  test("error channel: per-row errors, ok/err split partitions the set") {
    val (ok, err) = Normalize.split(all)
    assert(ok.count() == 10)
    assert(err.count() == 6)
    val msgs = err.orderBy("error").collect().map(_.getString(1)).toSeq
    assert(msgs.exists(_.contains("No adapter gopher found for chapter atlantis")))
    assert(msgs.exists(_.contains("missing id for event 'Ghost Event' in chapter london")))
    assert(msgs.exists(_.contains("unparseable start_time 'whenever'")))
    assert(msgs.exists(_.contains("unparseable start.local for event 38448288871")))
    assert(msgs.exists(_.contains("missing start.timezone for event 38448288872")))
  }

  test("meetup normalize: renames, defaults, photos transform (meetup.rkt:39-59)") {
    val r = all.filter(col("event_id") === "219961100").collect()(0)
    assert(r.getAs[String]("url") ==
      "http://www.meetup.com/papers-we-love/events/219961100/")
    assert(r.getAs[Long]("time") == 1423456789000L)
    assert(r.getAs[Long]("utcOffset") == -18000000L)
    val venue = r.getAs[org.apache.spark.sql.Row]("venue")
    assert(venue.getAs[String]("postalCode") == "10001") // zip → postalCode
    val photos = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("photos")
    assert(photos.size == 2)
    assert(photos.head.getAs[String]("url") == "https://photos.example/1.jpg")
    assert(photos.head.isNullAt(1) && photos.head.isNullAt(2)) // width/height null

    // venue/photo_album absent → null venue fields, EMPTY photos (not null)
    val bare = all.filter(col("event_id") === "219961101").collect()(0)
    assert(bare.getAs[org.apache.spark.sql.Row]("venue").isNullAt(0))
    assert(bare.getAs[scala.collection.Seq[_]]("photos").isEmpty)
  }

  test("facebook normalize: URL synthesis, signed offset, markdown (facebook.rkt:35-55)") {
    val r = all.filter(col("event_id") === "1535170340032623").collect()(0)
    assert(r.getAs[String]("url") == "https://facebook.com/1535170340032623")
    // 2017-03-22T19:00:00-0400 = 23:00 UTC
    assert(r.getAs[Long]("time") == 1490223600000L)
    assert(r.getAs[Long]("utcOffset") == -4L * 3600 * 1000) // signed, unlike ref
    assert(r.getAs[String]("description") ==
      "<div class=\"event-api-content\"><h1>Kickoff night</h1>" +
        "<p>Talks about <em>papers</em> we love.</p>" +
        "<ul><li>bring a paper</li><li>bring a friend</li></ul>" +
        "<p>Come join us — <strong>bold</strong> talks and " +
        "<code>live code</code>!</p></div>")
    assert(r.isNullAt(r.fieldIndex("photos"))) // photos 'null for fb
  }

  test("facebook accepts every numeric ISO offset form; NULL adapter " +
      "routes to the error channel (review r12)") {
    import s.implicits._
    // +HH:MM and +HH must parse to the same instant/offset as +HHMM —
    // the DuckDB oracle's %z accepts all three
    val fb = Normalize.normalizeFacebook(Seq(
      ("e1", "c", "2017-03-22T19:00:00-0400", "A", null: String),
      ("e2", "c", "2017-03-22T19:00:00-04:00", "B", null: String),
      ("e3", "c", "2017-03-22T19:00:00-04", "C", null: String))
      .toDF("id", "chapter", "start_time", "name", "description")
      .withColumn("place", lit(null).cast(
        "STRUCT<name: STRING, location: STRUCT<street: STRING," +
          "country: STRING, city: STRING, zip: STRING," +
          "longitude: DOUBLE, latitude: DOUBLE>>")))
      .select(col("event_id"), col("time"), col("utcOffset")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fb == Seq(
      ("e1", 1490223600000L, -14400000L),
      ("e2", 1490223600000L, -14400000L),
      ("e3", 1490223600000L, -14400000L)), s"got $fb")
    // a chapters row with NULL adapter must become an error row, not
    // vanish through the three-valued NOT IN
    val errs = Normalize.unknownAdapterErrors(
      Seq(("ghost-town", null: String), ("atlantis", "gopher"))
        .toDF("chapter", "adapter")).collect()
    assert(errs.length == 2)
    val nullMsg = errs.map(_.getAs[String]("error"))
      .find(_.contains("ghost-town"))
    assert(nullMsg.exists(_.contains("No adapter <null>")), s"got $nullMsg")
  }

  test("reference shape collapses colliding event ids deterministically " +
      "instead of throwing (review r12)") {
    import s.implicits._
    // two ok rows colliding on (chapter, event_id) — the eventbrite
    // stringified-start-millis key makes this reachable; the reference
    // hasheq last-writes where map_from_entries would throw
    val ok = Seq(
      ("1000", "c", "u1", 1L, 0L, "first", "d"),
      ("1000", "c", "u2", 2L, 0L, "second", "d"))
      .toDF("event_id", "chapter", "url", "time", "utcOffset", "title",
        "description")
      .withColumn("venue", lit(null).cast(
        "STRUCT<name: STRING, address1: STRING, address2: STRING," +
          "country: STRING, city: STRING, postalCode: STRING," +
          "lon: DOUBLE, lat: DOUBLE>"))
      .withColumn("photos", lit(null).cast(
        "ARRAY<STRUCT<highres_link: STRING, photo_link: STRING," +
          "thumb_link: STRING>>"))
    val m = Normalize.toReferenceShape(ok).collect()
    assert(m.length == 1)
    val events = m(0).getAs[
      scala.collection.Map[String, org.apache.spark.sql.Row]]("events")
    // the engine's pick is the max event struct (u2 here) — any total
    // order satisfies the contract, it just must not throw or vary
    assert(events.size == 1 && events("1000").getAs[String]("url") == "u2",
      s"got ${events.map { case (k, v) => k -> v.toString }}")
  }

  test("video table: id-keyed JSON object pivots to typed rows (data_formats.md:46-74)") {
    val v = Normalize.readVideos(s, s"$fx/videos.json")
      .orderBy(col("video_id")).collect()
    assert(v.length == 2)
    val first = v.find(_.getString(0) == "fB2UrqbfV-4").get
    assert(first.getAs[String]("embed_url")
      == "https://www.youtube.com/embed/fB2UrqbfV-4")
    assert(first.getAs[java.sql.Timestamp]("published").toInstant
      == java.time.Instant.parse("2017-01-24T05:56:27Z"))
    val thumb = first.getAs[org.apache.spark.sql.Row]("thumb_medium")
    assert(thumb.getAs[String]("url").endsWith("mqdefault.jpg"))
    assert(thumb.getAs[Int]("width") == 320 && thumb.getAs[Int]("height") == 180)
  }

  test("eventbrite normalize: DST-aware tz offset, millis key (eventbrite.rkt:51-85)") {
    // Rome summer (CEST, +2h): local 19:00 → 17:00 UTC
    val summer = all.filter(col("chapter") === "rome" &&
      col("title") === "PWL Rome: Summer Edition").collect()(0)
    assert(summer.getAs[Long]("utcOffset") == 2L * 3600 * 1000)
    assert(summer.getAs[String]("event_id") == summer.getAs[Long]("time").toString)
    // Rome winter (CET, +1h)
    val winter = all.filter(col("title") === "PWL Rome: Winter Edition").collect()(0)
    assert(winter.getAs[Long]("utcOffset") == 1L * 3600 * 1000)
    // Miami (EST, -5h in December)
    val miami = all.filter(col("title") === "PWL Miami: December").collect()(0)
    assert(miami.getAs[Long]("utcOffset") == -5L * 3600 * 1000)
    // lon/lat strings → doubles
    assert(summer.getAs[org.apache.spark.sql.Row]("venue")
      .getAs[Double]("lon") == 12.4964)
  }

  test("sink-edge reference shape: one id→event map per chapter (meetup.rkt:40-41)") {
    val (ok, _) = Normalize.split(all)
    val shaped = Normalize.toReferenceShape(ok)
    val ny = shaped.filter(col("chapter") === "newyork").collect()(0)
    val events = ny.getAs[Map[String, org.apache.spark.sql.Row]]("events")
    assert(events.keySet == Set("219961100", "219961101"))
    assert(events("219961100").getAs[String]("url") ==
      "http://www.meetup.com/papers-we-love/events/219961100/")
    // serialized line matches the reference's envelope: {"id": {event}}
    val out = Scratch.deleteOnExit(
      Files.createTempDirectory("graft-refshape").toString)
    shaped.filter(col("chapter") === "newyork").select("events")
      .coalesce(1).write.mode("overwrite").json(out)
    val line = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".json")).map(f =>
        new String(Files.readAllBytes(f.toPath))).mkString
    assert(line.contains("\"219961100\":{\"url\":"))
  }

  test("keyed JSON sink: one directory per chapter (api-runner.rkt:39-52)") {
    val out = Scratch.deleteOnExit(
      Files.createTempDirectory("graft-sink").toString)
    val (ok, _) = Normalize.split(all)
    Normalize.writeKeyedJson(ok, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("chapter=newyork", "chapter=london", "chapter=berlin",
      "chapter=rome", "chapter=miami"))
    // each chapter dir holds exactly one json part file (repartition by key)
    dirs.foreach { ch =>
      val parts = new java.io.File(s"$out/$ch").listFiles()
        .filter(_.getName.endsWith(".json"))
      assert(parts.length == 1, s"$ch should have exactly one part file")
    }
    // ...written by more than one task: the sink's shuffle keeps one
    // partition per core instead of AQE coalescing it into a single
    // writer (the part file name carries the write task's number)
    val tasks = dirs.flatMap(ch => new java.io.File(s"$out/$ch").list()
      .collect { case n if n.endsWith(".json") => n.take("part-00000".length) })
    assert(tasks.size > 1, s"one write task wrote every chapter: $tasks")
  }
}
