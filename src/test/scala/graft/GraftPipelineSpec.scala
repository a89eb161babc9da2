package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Facade capstone (VERDICT r12 #2): one composed curation pipeline
  * the way a real user would chain it — ingest → qualityScore →
  * scrubPii → dedupExact → nearDuplicateApply → capPerDomain →
  * packSequences — on user-named columns end to end, against a
  * planted corpus whose keeper set and chunk manifest are computed
  * independently in plain Scala. Composition is where column-name
  * collisions, NULL contracts and staged-block releases interact;
  * each method's individual spec can't see those seams. */
class GraftPipelineSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  // ---- planted corpus (user-named columns: docId / body / site) ----
  private val baseA: Array[String] =
    ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
      "omega silver copper iron cobalt nickel zinc").split(" ")
  require(baseA.length == 30)

  private val tail = (e: String) => s" write to $e for details"
  private val bodyA = baseA.mkString(" ") + tail("alice@example.com")
  // near-dup of A: ONE interior word changed + a different address —
  // after the PII scrub they differ in exactly one word
  private val bodyA2 =
    baseA.updated(14, "obsidian").mkString(" ") + tail("bob@example.com")
  // exact dup of A after the scrub: only the address differs
  private val bodyA3 = baseA.mkString(" ") + tail("carol@example.com")
  private val bodyB = "please call +1 555 123 4567 today about the " +
    "granite ledger shipment arriving thursday morning with nine crates"
  private val bodyC = "seven untracked comets crossed the northern " +
    "meridian while the observatory slept through dawn"
  private val bodyD = "a curious heron waded along the estuary " +
    "shallows hunting minnows beneath the pier"
  private val bodyE = "the foundry poured bronze ingots all winter " +
    "and stamped each batch with its furnace number"
  private val bodyF = "twelve violins tuned slowly in the empty " +
    "concert hall before the first rehearsal began"

  private val corpus = Seq(
    (1L, bodyA, "a.com"), (2L, bodyA2, "a.com"), (3L, bodyA3, "a.com"),
    (4L, bodyB, "a.com"), (5L, bodyB, "a.com"), (6L, bodyC, "a.com"),
    (7L, bodyD, "b.com"), (8L, bodyE, "b.com"),
    (9L, null.asInstanceOf[String], "b.com"), (10L, bodyF, "b.com"))

  // ---- independent expectations, plain Scala ----
  private def scrubbed(s: String): String =
    if (s == null) null
    else s
      .replaceAll("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        "[EMAIL]")
      .replaceAll("\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}",
        "[PHONE]")

  private def trigrams(s: String): Set[String] =
    s.split(" ").sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (trigrams(a), trigrams(b))
    (x & y).size.toDouble / (x | y).size
  }

  test("composed curation pipeline: keeper set, chunk manifest, zero leaks") {
    val sc = spark.sparkContext
    ops.Staged.sweep() // drain prior suites' staged blocks
    val before = sc.getPersistentRDDs.keySet

    val docs = corpus.toDF("docId", "body", "site")

    // 1. quality annotation (map-side; gates would go here)
    val scored = docs.withColumn("q", Graft.qualityScore(col("body")))

    // 2. PII scrub BEFORE dedup — contact-only variants become
    //    verbatim-equal
    val clean = Graft.scrubPii(scored, "body")

    // 3. exact dedup on the scrubbed text
    val exact = Graft.dedupExact(clean, "docId", "body")

    // 4. near-dup collapse (MinHash LSH + CC, min-id keeper)
    val near = Graft.nearDuplicateApply(exact, "docId", "body",
      minJaccard = 0.5)

    // 5. per-domain cap
    val capped = Graft.capPerDomain(near, "docId", "site", cap = 2)

    // 6. sequence packing manifest — the null-body doc has no length;
    //    packSequences fails loud on NULL counts, so the caller states
    //    the zero explicitly (the facade's NULL convention)
    val packed = Graft.packSequences(capped, "docId",
      coalesce(size(split(col("body"), " ")).cast("long"), lit(0L)),
      chunkTokens = 16)

    val rows = packed.select("docId", "body", "site", "q", "chunk")
      .collect().map(r => (r.getLong(0), r)).toMap

    // ---- expected keeper set, derived independently ----
    // scrub makes 3 a verbatim copy of 1 (min-id keeper 1) and 5 of 4;
    // doc 9 (null body) is its own keeper by contract
    val afterExact = Set(1L, 2L, 4L, 6L, 7L, 8L, 9L, 10L)
    // the only Jaccard>=0.5 trigram pair among survivors is (1, 2)
    val j12 = jaccard(scrubbed(bodyA), scrubbed(bodyA2))
    assert(j12 >= 0.8, s"planted near-dup drifted: J=$j12")
    for (a <- afterExact; b <- afterExact
         if a < b && (a, b) != ((1L, 2L)) && a != 9L && b != 9L) {
      val j = jaccard(scrubbed(corpus(a.toInt - 1)._2),
        scrubbed(corpus(b.toInt - 1)._2))
      assert(j < 0.5, s"unplanned near-dup ($a,$b): J=$j")
    }
    val afterNear = afterExact - 2L
    // per-domain cap=2 by the portable 60-bit hash rank over docId
    def h60(id: Long): Long =
      functions.Hash60.hash(UTF8String.fromString(id.toString))
    val expectedKept = afterNear.groupBy(id => corpus(id.toInt - 1)._3)
      .flatMap { case (_, ids) =>
        ids.toSeq.sortBy(id => (h60(id), id)).take(2)
      }.toSet
    assert(rows.keySet == expectedKept,
      s"keeper set mismatch: got ${rows.keySet.toSeq.sorted}, " +
        s"expected ${expectedKept.toSeq.sorted}")

    // ---- expected chunk manifest (global stream, chunkTokens=16) ----
    val kept = expectedKept.toSeq.sorted
    var prefix = 0L
    val expectedChunk = kept.map { id =>
      val body = scrubbed(corpus(id.toInt - 1)._2)
      val n = if (body == null) 0L else body.split(" ").length.toLong
      val c = prefix / 16
      prefix += n
      id -> c
    }.toMap
    kept.foreach { id =>
      assert(rows(id).getLong(4) == expectedChunk(id),
        s"doc $id chunk: got ${rows(id).getLong(4)}, " +
          s"expected ${expectedChunk(id)}")
    }

    // ---- surviving payloads are the scrubbed text ----
    kept.filter(_ != 9L).foreach { id =>
      assert(rows(id).getString(1) == scrubbed(corpus(id.toInt - 1)._2))
    }
    assert(rows.get(9L).forall(_.isNullAt(1))) // null body passes through

    // ---- quality annotation sane on survivors ----
    kept.filter(_ != 9L).foreach { id =>
      val q = rows(id).getDouble(3)
      assert(q > 0.0 && q <= 1.0, s"doc $id quality $q out of range")
    }

    // ---- pii counts: planted addresses and phone were counted ----
    val counts = Graft.scrubPii(docs, "body")
      .select(col("docId"), col("pii_counts"))
      .collect().map(r => r.getLong(0) -> r.getMap[String, Any](1)).toMap
    assert(counts(1L)("EMAIL") == 1L && counts(1L)("PHONE") == 0L)
    assert(counts(4L)("EMAIL") == 0L && counts(4L)("PHONE") == 1L)

    // ---- zero leaked block-manager RDDs after the sweep ----
    Graft.sweepStaged()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"pipeline leaked persistent RDDs: ${leaked.toSeq.sorted}")
  }

  test("capPerDomain bounds its shuffle to cap rows per domain per map task") {
    // the 100-TB claim: the cap's shuffle volume is bounded per
    // map-task×domain, so a billion-page host costs like a ten-page
    // one — only true if the partial limit is planned on the facade's
    // generic shape (it is plan-asserted on the scored
    // q_llm_domain_cap; pin the user-facing method too)
    val df = (1L to 100L).map(i => (i, s"site${i % 3}.com"))
      .toDF("docId", "site")
    val capped = Graft.capPerDomain(df, "docId", "site", cap = 5)
    assert(capped.count() == 15)
    TopKPlan.assertShuffleBounded(capped, 5)
  }

  test("scrubPii counts reflect ACTUAL scrubs under overlapping patterns") {
    // the EMAIL's domain contains a phone-shaped digit run; counting
    // against the original text would report PHONE=1 despite no phone
    // replacement ever occurring (review r13)
    val df = Seq((1L, "reach bob@555-123-4567.example.com now"))
      .toDF("docId", "body")
    val r = Graft.scrubPii(df, "body").collect()(0)
    val m = r.getMap[String, Long](r.fieldIndex("pii_counts"))
    assert(m("EMAIL") == 1L && m("PHONE") == 0L,
      s"overlap counting wrong: $m")
    assert(r.getString(r.fieldIndex("body")) == "reach [EMAIL] now")
  }

  test("scrubPii replacement is literal — '$'/'\\' in a pattern name") {
    val df = Seq((1L, "cost 12-345-678 units")).toDF("docId", "body")
    val r = Graft.scrubPii(df, "body",
      Seq("COST$1" -> "[0-9]{2}-[0-9]{3}-[0-9]{3}")).collect()(0)
    assert(r.getString(r.fieldIndex("body")) == "cost [COST$1] units")
  }

  test("new facade methods are identity-shaped on EMPTY inputs") {
    val empty = Seq.empty[(Long, String, String)]
      .toDF("docId", "body", "site")
    assert(Graft.scrubPii(empty, "body").count() == 0)
    assert(Graft.capPerDomain(empty, "docId", "site", cap = 3).count() == 0)
    assert(Graft.packSequences(empty, "docId", lit(1L), 16).count() == 0)
    // schema contracts hold even with no rows
    assert(Graft.scrubPii(empty, "body").columns.contains("pii_counts"))
    assert(Graft.packSequences(empty, "docId", lit(1L), 16)
      .columns.contains("chunk"))
    assert(Graft.capPerDomain(empty, "docId", "site", cap = 3)
      .columns.toSeq == empty.columns.toSeq)
  }

  test("packSequences fails loud on a NULL token count") {
    val df = Seq((1L, "three word doc"), (2L, null.asInstanceOf[String]))
      .toDF("docId", "body")
    val e = intercept[Exception] {
      Graft.packSequences(df, "docId",
        size(split(col("body"), " ")).cast("long"), chunkTokens = 8)
        .collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("NULL token count"))
  }
}
