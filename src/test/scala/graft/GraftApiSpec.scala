package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The public facade's contract: every [[Graft]] method must work on
  * a USER frame with arbitrary column names — no dependence on the
  * test star schema or the engine's internal column vocabulary — and
  * agree with an independently computed reference on small inputs.
  * (The underlying operators' at-scale behavior is pinned by their
  * own specs; this suite proves the boundary adapters.) */
class GraftApiSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  import s.implicits._

  test("connectedComponents clusters an arbitrary edge list") {
    // two components {1,2,3,4} (path) and {7,8}; 9 isolated via self-edge
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (9L, 9L))
      .toDF("left_node", "right_node")
    val cc = Graft.connectedComponents(edges, "left_node", "right_node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(cc.toSeq == Seq(
      (1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L),
      (7L, 7L, 2L), (8L, 7L, 2L), (9L, 9L, 1L)))
  }

  test("pageRank conserves mass and ranks the hub highest") {
    // star: 1 connected to 2,3,4,5 — the hub must outrank the leaves
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
      .toDF("u", "v")
    val pr = Graft.pageRank(edges, "u", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(pr.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(pr(1L) > pr(2L))
    assert(Set(2L, 3L, 4L, 5L).map(pr).size == 1, "leaves tie by symmetry")
    assert(math.abs(pr.values.sum - 1.0) < 1e-4, s"mass drifted: $pr")
    // converged variant: fixpoint masses stay ~1 every iteration
    val (ranks, masses) = Graft.pageRankConverged(edges, "u", "v", iters = 6)
    assert(ranks.count() == 5)
    assert(masses.forall(m => math.abs(m - 1.0) < 1e-4))
  }

  test("candidatePairs emits per-bucket member pairs and nothing across buckets") {
    val df = Seq(("x", 1L), ("x", 2L), ("x", 3L), ("y", 10L), ("y", 11L),
        ("z", 99L))
      .toDF("bucket_key", "item")
    val pairs = Graft.candidatePairs(df, Seq(col("bucket_key")), col("item"))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
  }

  test("ngramHashes tokenizes a user column after registerFunctions") {
    Graft.registerFunctions(s)
    val n = Seq("a b c d e").toDF("body")
      .select(size(Graft.ngramHashes("body", 3)).as("n"))
      .head().getInt(0)
    assert(n == 3, "5 words -> 3 distinct 3-grams")
  }

  test("qualityScore and canonicalUrl are plain column expressions") {
    val r = Seq(("the the the the", "https://www.example.com/a/?utm_source=feed#frag"))
      .toDF("content", "link")
      .select(Graft.qualityScore(col("content")).as("q"),
        Graft.canonicalUrl(col("link")).as("u"))
      .head()
    assert(r.getDouble(0) > 0.0 && r.getDouble(0) < 1.0)
    assert(r.getString(1) == "https://example.com/a")
  }

  test("weightedMovingAverage matches the brute-force weights on a user frame") {
    val df = Seq(("s", 1L, 10.0), ("s", 2L, 20.0), ("s", 3L, 30.0))
      .toDF("sensor", "seq", "reading")
    val got = Graft.weightedMovingAverage(df, "sensor", "seq", "reading", 2)
      .orderBy($"seq").select($"wma").collect().map(_.getDouble(0)).toSeq
    // trailing frames: [10] -> 10; [10,20] w=(1,2) -> 50/3; [10,20,30]
    // w=(1,2,3) -> 140/6; r4-discretized
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    assert(got == Seq(r4(10.0), r4(50.0 / 3), r4(140.0 / 6)))
  }

  test("weightedMovingAverage passes NULL values through (advice r11)") {
    // real logs have null readings; the exact-grid domain guard must
    // treat them as absent (NULL wma contribution -> null-safe frame
    // sums), never fire the out-of-domain raise_error on a NULL
    val df = Seq(("s", 1L, Some(10.0)), ("s", 2L, None), ("s", 3L, Some(30.0)))
      .toDF("sensor", "seq", "reading")
    val got = Graft.weightedMovingAverage(df, "sensor", "seq", "reading", 2)
      .orderBy($"seq").select($"wma").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Double])).toSeq
    // the frames still produce a wma from the non-null members
    assert(got.length == 3 && got.forall(_.isDefined))
  }

  test("resampleGrid fails fast past the array-length grid cap (advice r11)") {
    // two points 10^12 µs apart at step 1 µs = 10^12 cells — far past
    // Spark's array cap; must raise the graft-prefixed error naming
    // the series, not die in codegen allocation
    val df = Seq(("wide", 0L, 1.0), ("wide", 1000000000000L, 2.0))
      .toDF("sensor", "t_us", "reading")
    val e = intercept[Exception] {
      Graft.resampleGrid(df, "sensor", "t_us", "reading", 1L).count()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("graft resampleGrid") && msg.contains("wide"),
      s"unexpected error: $msg")
  }

  test("nearDuplicatePairs + clusters find the planted near-dup on user columns") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val docsF = Seq(
      (10L, base),
      (11L, base + " extra"),                        // near-dup of 10
      (12L, base),                                   // exact dup of 10
      (13L, "completely different words in this unrelated document about spark engines and scale")
    ).toDF("document_key", "body")
    val pairs = Graft.nearDuplicatePairs(docsF, "document_key", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 11L), (10L, 12L), (11L, 12L)))
    val clusters = Graft
      .nearDuplicateClusters(docsF, "document_key", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(clusters == Set((10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L)))
  }

  test("facade methods survive empty inputs") {
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Graft.connectedComponents(noEdges, "a", "b").count() == 0)
    assert(Graft.pageRank(noEdges, "a", "b").count() == 0)
    val noDocs = Seq.empty[(Long, String)].toDF("k", "t")
    assert(Graft.nearDuplicatePairs(noDocs, "k", "t").count() == 0)
    assert(Graft.decontaminate(noDocs, noDocs, "k", "t").count() == 0)
    val noEvents = Seq.empty[(String, Long, Long)].toDF("u", "t", "e")
    assert(Graft.sessionize(noEvents, "u", "t", Seq("e"), 100L).count() == 0)
    assert(Graft.funnel(noEvents, "u", "u", "t", Seq("x", "y")).count() == 0)
    val noVecs = Seq.empty[(Long, Seq[Double])].toDF("k", "v")
    assert(Graft.cosineTopK(noVecs, noVecs, "k", "v", 3).count() == 0)
  }

  test("decontaminate flags the train doc sharing an 8-gram with eval") {
    val leak = "one two three four five six seven eight"
    val train = Seq((1L, leak + " tail words here"),
        (2L, "totally clean training document with no overlap at all present"))
      .toDF("k", "body")
    val eval = Seq((50L, "prefix words " + leak)).toDF("k", "body")
    val got = Graft.decontaminate(train, eval, "k", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 50L, 1L)))
  }

  test("asofJoin matches the latest at-or-before right row per key") {
    val quotes = Seq(("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
        ("B", 15L, 9.0))
      .toDF("sym", "qt", "px")
    val trades = Seq(("A", 5L, 100L), ("A", 20L, 200L), ("A", 25L, 300L),
        ("B", 10L, 400L))
      .toDF("sym", "tt", "qty")
    val got = Graft.asofJoin(trades, quotes, "sym", "tt", "qt")
      .select($"sym", $"tt", $"qty", $"asof_match.px")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      ("A", 5L, 100L, None),          // no quote yet
      ("A", 20L, 200L, Some(2.0)),    // equal time IS visible
      ("A", 25L, 300L, Some(2.0)),
      ("B", 10L, 400L, None)))        // B's quote is later
  }

  test("topKPerGroup keeps k rows per group under the declared order") {
    val df = Seq(("g1", 1), ("g1", 5), ("g1", 3), ("g2", 9), ("g2", 2))
      .toDF("grp", "score")
    val topk = Graft.topKPerGroup(df, Seq($"grp"), Seq($"score".desc), 2)
    val got = topk.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got == Set(("g1", 5), ("g1", 3), ("g2", 9), ("g2", 2)))
    // the facade's plan shape must keep at most k rows per group per
    // map task before the exchange
    TopKPlan.assertShuffleBounded(topk, 2)
  }

  test("cosineTopK ranks corpus vectors by cosine for each query") {
    val queries = Seq((100L, Seq(1.0, 0.0))).toDF("vid", "emb")
    val corpus = Seq(
      (1L, Seq(2.0, 0.0)),   // cos 1.0 with the query
      (2L, Seq(1.0, 1.0)),   // cos ~0.7071
      (3L, Seq(0.0, 1.0))    // cos 0.0
    ).toDF("vid", "emb")
    val got = Graft.cosineTopK(queries, corpus, "vid", "emb", 2)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (100L, 1L, 1L, 1.0), (100L, 2L, 2L, 0.7071)))
  }

  test("sessionize breaks sessions at the gap threshold per user") {
    val ev = Seq(
      ("u1", 0L, 1L), ("u1", 100L, 2L), ("u1", 1000L, 3L), // gap >= 500 breaks
      ("u2", 0L, 4L))
      .toDF("who", "at_us", "eid")
    val got = Graft.sessionize(ev, "who", "at_us", Seq("eid"), gapUs = 500L)
      .select($"who", $"eid", $"session_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("u1", 1L, 1L), ("u1", 2L, 1L), ("u1", 3L, 2L),
      ("u2", 4L, 1L)))
  }

  test("tokenCountEstimate applies the 4-chars-per-token rule per pre-token") {
    // "abcdefgh xy" -> pre-tokens [abcdefgh, xy] -> ceil(8/4)+ceil(2/4) = 3
    val n = Seq("abcdefgh xy").toDF("txt")
      .select(Graft.tokenCountEstimate($"txt")).head().getLong(0)
    assert(n == 3L)
  }

  test("languageId applies the marker ladder to a user column") {
    val got = Seq("der hund und katze", "le chat", "plainword")
      .toDF("t").select(Graft.languageId($"t")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("de", "fr", "und"))
  }

  test("ivfTopK finds the co-directional corpus vector for a flagged query") {
    val vecs = Seq(
      (100L, Seq(1.0, 0.05), "query"),
      (1L, Seq(2.0, 0.1), "corpus"),   // exactly co-directional: cos 1.0
      (2L, Seq(1.0, 0.8), "corpus"),
      (3L, Seq(-1.0, 0.0), "corpus"),
      (4L, Seq(0.0, 1.0), "corpus"))
      .toDF("key", "v", "kind")
    val got = Graft.ivfTopK(vecs, "key", "v", $"kind" === "query",
        k = 2, nprobe = 4)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(got.nonEmpty && got.head == (100L, 1L, 1L, 1.0),
      s"nearest neighbour missed: ${got.toSeq}")
    assert(got.forall(_._1 == 100L))
    // ranks contiguous, cosine non-increasing
    assert(got.map(_._2).toSeq == (1L to got.length).toSeq)
    val cs = got.map(_._4).toSeq
    assert(cs == cs.sorted.reverse)
  }

  test("funnel chains strictly-after anchors over renamed event columns") {
    val ev = Seq(
      (1L, "view", 10L), (1L, "cart", 20L), (1L, "buy", 30L), // full depth
      (2L, "view", 10L), (2L, "cart", 5L),                    // cart BEFORE view
      (3L, "view", 10L)                                       // view only
    ).toDF("uid", "action", "at")
    val f = Graft.funnel(ev, "uid", "action", "at", Seq("view", "cart", "buy"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // depths: user1 -> 3, user2 -> 1 (cart precedes view: not chained),
    // user3 -> 1
    assert(f.toSeq == Seq((1L, 2L, 3L), (3L, 1L, 1L)))
  }

  // ------------------------------------------------- id / name contracts

  test("a non-long-castable id fails loudly, not silently") {
    val edges = Seq(("doc-a", "doc-b"), ("doc-b", "doc-c"))
      .toDF("s", "d")
    val e = intercept[Exception] {
      Graft.connectedComponents(edges, "s", "d").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("not long-castable") &&
      m.contains("doc-a")), s"expected the contract error, got: $e")
  }

  test("withSurrogateIds round-trips a string-keyed graph") {
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("s", "d")
    val (es, smap) = Graft.withSurrogateIds(edges, "s", "sid")
    val (ed, dmap) = Graft.withSurrogateIds(es, "d", "did")
    val cc = Graft.connectedComponents(ed, "sid", "did")
    // translate cluster members back to original keys via both maps
    val names = cc.join(smap.withColumnRenamed("sid", "id")
        .withColumnRenamed("s", "name")
      .union(dmap.withColumnRenamed("did", "id")
        .withColumnRenamed("d", "name")).distinct(), "id")
    val byCluster = names.collect()
      .groupBy(_.getAs[Long]("cluster"))
      .map(_._2.map(_.getAs[String]("name")).toSet).toSet
    assert(byCluster == Set(Set("a", "b", "c"), Set("x", "y")))
  }

  test("generated/appended column collisions fail fast or are avoided") {
    // appended-name collision: loud failure
    val withWma = Seq((1L, 1L, 1.0, 0.0)).toDF("k", "t", "v", "wma")
    val e = intercept[IllegalArgumentException] {
      Graft.weightedMovingAverage(withWma, "k", "t", "v", 2)
    }
    assert(e.getMessage.contains("wma"))
    val withSess = Seq((1L, 1L, 1L)).toDF("u", "t", "session_id")
    intercept[IllegalArgumentException] {
      Graft.sessionize(withSess, "u", "t", Nil, 10L)
    }
    val withMatch = Seq((1L, 1L, "x")).toDF("k", "t", "asof_match")
    intercept[IllegalArgumentException] {
      Graft.asofJoin(withMatch, Seq((1L, 0L)).toDF("k", "t"),
        "k", "t", "t")
    }
    // temp-name collision: topKPerGroup generates a fresh rank name,
    // so a user __graft_rank0 column passes through untouched
    val df = Seq(("g", 3, "keep"), ("g", 1, "keep2"), ("h", 9, "keep3"))
      .toDF("grp", "score", "__graft_rank0")
    val out = Graft.topKPerGroup(df, Seq($"grp"), Seq($"score".desc), 1)
      .orderBy($"grp").collect()
    assert(out.map(_.getAs[String]("__graft_rank0")).toSeq ==
      Seq("keep", "keep3"))
  }

  test("applyKeepers / dedupExact keep the min-id representative per content") {
    val docs = Seq(
      (10L, "same words here"), (3L, "same words here"),
      (7L, "same words here"), (5L, "unique doc")
    ).toDF("doc_key", "body")
    val kept = Graft.dedupExact(docs, "doc_key", "body")
      .select("doc_key").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(3L, 5L), s"kept ${kept.toSeq}")
    // applyKeepers with an explicit keeper frame
    val keepers = Seq(10L, 5L).toDF("keep_id")
    val manual = Graft.applyKeepers(docs, "doc_key", keepers, "keep_id")
      .select("doc_key").collect().map(_.getLong(0)).sorted
    assert(manual.toSeq == Seq(5L, 10L))
  }

  test("nearDuplicateApply drops near-dup copies, keeps one per cluster") {
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    val docs = Seq(
      (1L, base), (2L, base + "iota"),           // near-dups of each other
      (9L, "completely different text entirely " * 8)
    ).toDF("k", "body")
    val kept = Graft.nearDuplicateApply(docs, "k", "body", 0.5)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 9L), s"kept ${kept.toSeq}")
  }

  test("resampleGrid densifies, forward-fills and interpolates a user series") {
    val df = Seq(
      ("a", 0L, 1.0), ("a", 4000L, 5.0),    // gap of 3 cells at step 1000
      ("b", 2000L, 7.0)                      // single-point series
    ).toDF("sensor", "t_us", "reading")
    val got = Graft.resampleGrid(df, "sensor", "t_us", "reading", 1000L)
      .orderBy($"sensor", $"bucket_us")
      .select($"sensor", $"bucket_us", $"n_obs", $"avg_val", $"ff_val",
        $"interp_val")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      ("a", 0L, 1L, Some(1.0), 1.0, 1.0),
      ("a", 1000L, 0L, None, 1.0, 2.0),
      ("a", 2000L, 0L, None, 1.0, 3.0),
      ("a", 3000L, 0L, None, 1.0, 4.0),
      ("a", 4000L, 1L, Some(5.0), 5.0, 5.0),
      ("b", 2000L, 1L, Some(7.0), 7.0, 7.0)), s"got ${got.toSeq}")
  }

  test("resampleGrid: NULL readings keep avg semantics and NULL-time " +
      "series are skipped, not crashed (review r12)") {
    // cell mean must ignore NULL readings (divide by the non-null
    // count, like avg) — the first exact-grid rewrite deflated it by
    // dividing by the all-rows count
    val df = Seq(
      ("a", Some(0L), Some(10.0)), ("a", Some(10L), None),
      ("a", Some(20L), Some(30.0)),
      // every timestamp NULL: series must vanish from the grid (its
      // spine bounds are NULL) — not trip the cell-cap raise via
      // three-valued logic
      ("ghost", None, Some(1.0)), ("ghost", None, Some(2.0)))
      .toDF("sensor", "t_us", "reading")
    val got = Graft.resampleGrid(df, "sensor", "t_us", "reading", 100L)
      .select($"sensor", $"n_obs", $"avg_val").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("a", 3L, 20.0)), s"got ${got.toSeq}")
  }

  test("resampleGrid raises on values outside the exact-grid domain " +
      "(review r12)") {
    val df = Seq(("a", 0L, 2e6)).toDF("sensor", "t_us", "reading")
    val e = intercept[Exception] {
      Graft.resampleGrid(df, "sensor", "t_us", "reading", 100L).count()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("graft resampleGrid") &&
      msg.contains("exact-arithmetic domain"), s"unexpected error: $msg")
  }

  test("facade NULL/degenerate-input contracts fail loud or stay exact " +
      "(review r12, pass 3)") {
    def raises(ctx: String)(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains(ctx), s"expected '$ctx' in: $msg")
    }
    // withSurrogateIds: a NULL key must raise, not alias to the seed
    raises("graft.withSurrogateIds") {
      Graft.withSurrogateIds(
        Seq(Some("a"), None).toDF("k"), "k")._1.count()
    }
    // sessionize: a NULL time must raise, not open phantom sessions
    raises("graft.sessionize") {
      Graft.sessionize(
        Seq(("u", Some(1L), 1L), ("u", None, 2L)).toDF("u", "t", "e"),
        "u", "t", Seq("e"), 100L).count()
    }
    // funnel: empty steps is a contract error, not a bare head crash
    raises("graft.funnel") {
      Graft.funnel(Seq(("u", "a", 1L)).toDF("u", "s", "t"),
        "u", "s", "t", Seq.empty)
    }
    // resampleGrid: a timestamp column would be bucketed as seconds
    raises("graft.resampleGrid") {
      Graft.resampleGrid(
        Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
          .toDF("sensor", "t_us", "reading"),
        "sensor", "t_us", "reading", 1000L)
    }
    // dedupExact: NULL text is unknown content — every null-text row
    // survives; identical non-null text still collapses to min id
    val kept = Graft.dedupExact(
      Seq((1L, Some("same")), (2L, Some("same")), (3L, None), (4L, None))
        .toDF("id", "text"), "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L), s"got $kept")
    // cosineTopK: an all-zeros corpus vector must not become the NaN
    // rank-1 match of every query
    val hits = Graft.cosineTopK(
      Seq((100L, Seq(1.0f, 0.0f))).toDF("id", "e"),
      Seq((1L, Seq(1.0f, 0.1f)), (2L, Seq(0.0f, 0.0f)),
        (3L, Seq(0.9f, 0.2f))).toDF("id", "e"),
      "id", "e", 2)
      .select("rank", "match_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((1L, 1L), (2L, 3L)), s"got $hits")
    // candidatePairs: a duplicated (bucket, member) row must not emit
    // a self-pair
    val pairs = Graft.candidatePairs(
      Seq(("b", 7L), ("b", 7L), ("b", 9L)).toDF("bucket", "m"),
      Seq(col("bucket")), col("m")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((7L, 9L)), s"got $pairs")
    // weightedMovingAverage: a NULL value carries no weight — the two
    // non-null neighbours keep their exact means (width 1 ⇒ frame of
    // 2: row1 [10] → 10.0, row2 [10, NULL] → 10.0, row3 [NULL, 30] →
    // 30.0), where the all-rows triangle deflated them
    val wma = Graft.weightedMovingAverage(
      Seq(("s", 1L, Some(10.0)), ("s", 2L, None), ("s", 3L, Some(30.0)))
        .toDF("k", "i", "v"), "k", "i", "v", 1)
      .orderBy("i").collect()
      .map(r => Option(r.get(r.fieldIndex("wma"))).map(_.asInstanceOf[Double]))
    assert(wma.toSeq == Seq(Some(10.0), Some(10.0), Some(30.0)),
      s"got ${wma.toSeq}")
  }

  test("ngramHashes accepts column names that need quoting") {
    Graft.registerFunctions(s)
    val n = Seq("a b c d e").toDF("body text-col")
      .select(size(Graft.ngramHashes(col("`body text-col`"), 3)).as("n"))
      .head().getInt(0)
    assert(n == 3)
  }

  test("triangleCounts matches hand-counted triangles on a messy edge list") {
    // diamond {1-2,1-3,2-3,2-4,3-4} + pendant 1-5; triangles (1,2,3)
    // and (2,3,4). Reversed duplicate (3,2) and self-loop (2,2) must
    // canonicalize away, not inflate degrees or counts.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
        (1L, 5L), (3L, 2L), (2L, 2L))
      .toDF("from_node", "to_node")
    val got = Graft.triangleCounts(edges, "from_node", "to_node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 3L, 1L), (2L, 3L, 2L), (3L, 3L, 2L), (4L, 2L, 1L),
      (5L, 1L, 0L)), s"got ${got.toSeq}")
    assert(Graft.triangleCounts(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").count() == 0)
  }

  test("triangle orientation auto-switches on a planted hub (verdict r11 #4)") {
    import graft.ops.LlmPipe
    // star: hub 0 ~ spokes 1..40, plus edge (1,2) closing one triangle
    val spokes = (1L to 40L).map(i => (0L, i))
    val edges = (spokes :+ (1L, 2L)).toDF("x", "y")
    val canonical = edges
      .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
      .distinct()
    val degrees = canonical
      .select(explode(array($"a", $"b")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("degree"))
    // candidate volume: the id order puts the hub (id 0) first and
    // wedges C(40,2) pairs at its corner; the degree order points
    // every spoke edge INTO the hub, leaving only the genuine wedge
    val idWedges = LlmPipe.triangleWedges(canonical, degrees,
      byDegree = false)._2.count()
    val degWedges = LlmPipe.triangleWedges(canonical, degrees,
      byDegree = true)._2.count()
    assert(idWedges >= 780L, s"expected the hub blow-up, got $idWedges")
    assert(degWedges <= 40L, s"degree order did not bound wedges: $degWedges")
    // both orders count the same triangles, and the stats probe picks
    // the degree order here (maxDeg 40 > 4·√41) — pin all three equal
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"node").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def forced(side: String) =
      GraftSession.withConf(s, Map(Gate.Key -> side))(
        rows(LlmPipe.triangleCountsOver(edges)))
    val auto = rows(LlmPipe.triangleCountsOver(edges))
    assert(auto == forced("small"))
    assert(auto == forced("large"))
    assert(auto.filter(_._3 > 0).map(_._1) == Seq(0L, 1L, 2L),
      s"triangle corners wrong: $auto")
  }

  test("semanticDedup drops the redundant vector, keeps one per group") {
    // cell A: 1 and 2 nearly parallel (cos ~0.990), 4 a verbatim copy
    // of 2; cell B: 3 orthogonal. SemDeDup keeps the LEAST prototypical
    // member of a redundant pair (lowest cos-to-centroid), so expect
    // drops = {2 (closer to the centroid than 1), 4 (verbatim copy,
    // keep min id of the class)}.
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.99, 0.14, 0.0, 0.0)),
      (4L, Seq(0.99, 0.14, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0))
    ).toDF("vid", "emb")
    val drops = Graft.semanticDedup(vecs, "vid", "emb")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(drops == Set(2L, 4L), s"got $drops")
    val kept = Graft.semanticDedupApply(vecs, "vid", "emb")
      .select("vid").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    // a threshold above the 1-2 cosine spares 1; verbatim copies
    // still collapse (self-cosine 1.0 passes any threshold <= 1)
    val strict = Graft.semanticDedup(vecs, "vid", "emb", minCosine = 0.9999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(strict == Set(4L), s"got $strict")
    assert(Graft.semanticDedup(
      Seq.empty[(Long, Seq[Double])].toDF("k", "v"), "k", "v").count() == 0)
  }
}
