package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-7 operator invariants the hash gate can't see. */
class Round7OpsSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  import s.implicits._

  test("llm_dedup_url: canonical forms are clean, docs conserved, merging real") {
    val q = SparkEntry.queries("q_llm_dedup_url")(s, SparkTestBase.sfDir)
      .collect()
    assert(q.nonEmpty)
    val canon = q.map(_.getAs[String]("canonical_url"))
    // the canonicalization chain's whole point: no tracking params, no
    // fragments, no www alias, no trailing-slash variants survive
    canon.foreach { u =>
      assert(!u.contains("utm_"), s"tracking param survived: $u")
      assert(!u.contains("#"), s"fragment survived: $u")
      assert(!u.contains("://www."), s"www alias survived: $u")
      assert(!u.endsWith("/"), s"trailing slash survived: $u")
      assert(u.startsWith("https://site"), s"unexpected shape: $u")
    }
    // real (non-tracking) query params must SURVIVE canonicalization
    assert(canon.exists(_.contains("?page=2")), "page param kept")
    // every document lands in exactly one canonical group
    val total = q.map(_.getAs[Long]("n_docs")).sum
    val nDocs = Tables.documents(s, SparkTestBase.sfDir).count()
    assert(total == nDocs, "every doc in exactly one URL group")
    // canonicalization merged genuinely different raw strings somewhere
    assert(q.exists(_.getAs[Long]("n_raw_forms") > 1),
      "variant noise merged by the chain")
    // keeper is a member: keeper_doc's own URL canonicalizes to the group
    q.foreach { r =>
      assert(r.getAs[Long]("keeper_doc") >= 0)
      assert(r.getAs[Long]("n_raw_forms") <= r.getAs[Long]("n_docs"))
    }
  }

  test("llm_dedup_url: canonicalization is idempotent on its own output") {
    // a non-idempotent canonicalizer splits groups on incremental
    // re-crawls, where stored keys are already canonical
    val canon = SparkEntry.queries("q_llm_dedup_url")(s, SparkTestBase.sfDir)
      .select($"canonical_url")
    val twice = canon.select($"canonical_url",
      graft.ops.LlmQuality.canonicalizeUrl($"canonical_url").as("again"))
      .filter($"canonical_url" =!= $"again")
    assert(twice.isEmpty, "canon(canon(u)) must equal canon(u)")
  }

  test("graph_triangles: counts match a brute-force check on the edge set") {
    val rows = SparkEntry.queries("q_graph_triangles")(s, SparkTestBase.sfDir)
      .collect()
    assert(rows.nonEmpty, "the dup graph has triangles at every SF")
    // per-node totals sum to 3 x triangle count, and no node exceeds
    // its wedge bound C(degree, 2)
    rows.foreach { r =>
      val deg = r.getAs[Long]("degree")
      val nt = r.getAs[Long]("n_triangles")
      assert(nt >= 1 && nt <= deg * (deg - 1) / 2,
        s"triangles at a node are bounded by its wedges: $r")
    }
    assert(rows.map(_.getAs[Long]("n_triangles")).sum % 3 == 0,
      "each triangle touches exactly 3 nodes")
    // brute force over the (small) collected edge set
    val edges = graft.ops.LlmExt.dedupSimhash(s, SparkTestBase.sfDir)
      .select($"da", $"db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val triCount = scala.collection.mutable.Map.empty[Long, Long]
    for {
      (a, b) <- edges
      c <- nodes if c > b && edges.contains((b, c)) && edges.contains((a, c))
    } Seq(a, b, c).foreach(n => triCount(n) = triCount.getOrElse(n, 0L) + 1)
    val got = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_triangles")).toMap
    assert(got == triCount.toMap, "distributed counts == brute force")
  }

  test("llm_boilerplate: planted footer detected in every doc, body spared") {
    val rows = SparkEntry.queries("q_llm_boilerplate")(s, SparkTestBase.sfDir)
      .collect()
    val nDocs = Tables.documents(s, SparkTestBase.sfDir).count()
    assert(rows.length == nDocs, "one row per document")
    rows.foreach { r =>
      val nl = r.getAs[Long]("n_lines")
      val nb = r.getAs[Long]("n_boiler")
      // the planted footer always crosses the df cut (df ~ N/7 >> 5% N)
      assert(nb >= 1, s"footer missed: $r")
      assert(nb <= nl, s"boiler lines bounded by lines: $r")
      val frac = r.getAs[Double]("boiler_frac")
      assert(frac > 0.0 && frac <= 1.0)
    }
    // the detector is selective: most lines are content, not chrome
    val totLines = rows.map(_.getAs[Long]("n_lines")).sum
    val totBoiler = rows.map(_.getAs[Long]("n_boiler")).sum
    assert(totBoiler.toDouble / totLines < 0.5,
      "boilerplate is a minority of lines")
  }

  test("llm_semdedup: drop set covers every near-dup pair, spares outliers") {
    val dropped = SparkEntry.queries("q_llm_semdedup")(s, SparkTestBase.sfDir)
      .collect()
    assert(dropped.nonEmpty, "the embedding table has near-dup pairs")
    val dropIds = dropped.map(_.getAs[Long]("vec_id")).toSet
    assert(dropIds.size == dropped.length, "each vec dropped at most once")
    dropped.foreach { r =>
      val c = r.getAs[Double]("cos_centroid")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"cosine out of range: $r")
    }
    // the pair definition IS q_llm_dedup_embed's — cross-check against it
    val pairs = SparkEntry.queries("q_llm_dedup_embed")(s, SparkTestBase.sfDir)
      .collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("va"),
        r.getAs[Long]("vb")))
    val participants = pairs.flatMap(p => Seq(p._1 -> p._2, p._1 -> p._3))
      .toSet
    // dropped docs come only from near-dup pairs
    assert(dropIds.subsetOf(participants.map(_._2)),
      "every dropped vec participates in a near-dup pair")
    // the per-pair rule drops exactly one member, so no pair survives whole
    pairs.foreach { case (_, va, vb) =>
      assert(dropIds.contains(va) || dropIds.contains(vb),
        s"pair ($va, $vb) kept both members")
    }
    // diversity preserved: within each cell the member with minimal
    // (cos_centroid, vec_id) can never be dropped, so some participant
    // of every pair-bearing cell survives
    val dropsPerCell = dropped.groupBy(_.getAs[Long]("cell"))
      .view.mapValues(_.length).toMap
    participants.groupBy(_._1).foreach { case (cell, ps) =>
      assert(dropsPerCell.getOrElse(cell, 0) < ps.size,
        s"cell $cell dropped all its pair participants")
    }
  }

  test("llm_sample_importance: realized rate tracks the score within noise") {
    val rows = SparkEntry.queries("q_llm_sample_importance")(
      s, SparkTestBase.sfDir).collect()
    assert(rows.nonEmpty)
    var (totDocs, totKept) = (0L, 0L)
    rows.foreach { r =>
      val (n, k) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))
      val (t, a) = (r.getAs[Double]("target_rate"),
        r.getAs[Double]("actual_rate"))
      assert(k >= 0 && k <= n)
      assert(t >= 0.0 && t <= 1.0, s"target rate is a mean of scores: $r")
      // actual_rate is n_kept/n_docs at r4 — the column is not free-floating
      assert(math.abs(a - math.floor(k.toDouble / n * 1e4 + 0.5) / 1e4)
        < 1e-9, s"actual_rate identity: $r")
      // binomial agreement: the sampler's correctness signal — u < score
      // keeps each doc independently with probability ~score, so the
      // realized rate sits within 4 sigma of the mean score
      val sigma = math.sqrt(t * (1 - t) / n)
      assert(math.abs(a - t) <= 4 * sigma + 1e-4,
        s"realized rate off target beyond binomial noise: $r")
      totDocs += n; totKept += k
    }
    // the sampler neither keeps nor drops everything
    assert(totKept > 0 && totKept < totDocs, "sampling is non-trivial")
    // pure-projection determinism: a re-run agrees row-for-row
    val again = SparkEntry.queries("q_llm_sample_importance")(
      s, SparkTestBase.sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "md5 key-hash sampling is reproducible across runs")
  }

  test("llm_domain_cap: shuffle bounded map-side, kept set is exact") {
    val df = SparkEntry.queries("q_llm_domain_cap")(s, SparkTestBase.sfDir)
    // the scale claim is executable: the row_number-then-filter shape
    // must keep at most cap rows per domain per map task before the
    // exchange
    TopKPlan.assertShuffleBounded(df, 20)
    val rows = df.collect()
    // every domain has > cap docs at every SF, so output is domains x cap
    assert(rows.length == 7 * 20, "7 domains capped at 20 docs each")
    rows.groupBy(_.getAs[String]("domain")).foreach { case (dom, rs) =>
      assert(rs.map(_.getAs[Long]("rn")).sorted.toSeq == (1L to 20L),
        s"ranks not contiguous for $dom")
    }
    // brute-force recompute of the hash-rank selection
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): Long = java.lang.Long.parseLong(
      md.digest(id.toString.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)
    val docs = Tables.documents(s, SparkTestBase.sfDir)
      .select($"doc_id").collect().map(_.getLong(0))
    val want = docs.groupBy(_ % 7).toSeq.flatMap { case (m, ids) =>
      ids.sortBy(id => (h(id), id)).take(20)
        .map(id => s"site$m.example.com" -> id)
    }.toSet
    val got = rows.map(r =>
      r.getAs[String]("domain") -> r.getAs[Long]("doc_id")).toSet
    assert(got == want, "kept set == brute-force hash-rank top-20")
  }

  test("llm_bpe_step: top merge matches a brute-force recount") {
    val rows = SparkEntry.queries("q_llm_bpe_step")(s, SparkTestBase.sfDir)
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[String]("pair").length == 2)
      assert(r.getAs[Long]("n_words") >= 1)
      assert(r.getAs[Long]("n_occ") >= r.getAs[Long]("n_words"),
        "each covering word contributes at least one occurrence")
    }
    val occs = rows.map(_.getAs[Long]("n_occ"))
    assert(occs.zip(occs.tail).forall { case (a, b) => a >= b },
      "ordered by weighted count desc")
    // brute-force pair counting over the collected word-frequency table
    val words = Tables.documents(s, SparkTestBase.sfDir)
      .select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).filter(_._1.length >= 2)
    val brute = scala.collection.mutable.Map.empty[String, (Long, Long)]
    words.foreach { case (w, cnt) =>
      val ps = (0 until w.length - 1).map(i => w.substring(i, i + 2))
      ps.foreach { p =>
        val (o, nw) = brute.getOrElse(p, (0L, 0L))
        brute(p) = (o + cnt, nw)
      }
      ps.distinct.foreach { p =>
        val (o, nw) = brute(p); brute(p) = (o, nw + 1)
      }
    }
    val want = brute.toSeq.map { case (p, (o, nw)) => (p, o, nw) }
      .sortBy { case (p, o, _) => (-o, p) }.take(20)
    val got = rows.map(r => (r.getAs[String]("pair"),
      r.getAs[Long]("n_occ"), r.getAs[Long]("n_words"))).toSeq
    assert(got == want, "distributed top-20 == brute force")
  }

  test("llm_dsir_weight: target-slice docs outscore the rest on average") {
    val rows = SparkEntry.queries("q_llm_dsir_weight")(s, SparkTestBase.sfDir)
      .collect()
    val nDocs = Tables.documents(s, SparkTestBase.sfDir)
      .filter(size(split($"text", " ")) >= 2).count()
    assert(rows.length == nDocs, "one row per (multi-token) document")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_grams") >= 1)
      assert(!r.getAs[Double]("dsir_weight").isNaN, s"weight finite: $r")
    }
    // the selection signal DSIR exists for: documents drawn from the
    // target distribution score higher than documents that are not
    val (en, rest) = rows.partition(_.getAs[String]("lang") == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    def meanPerGram(rs: Array[org.apache.spark.sql.Row]): Double =
      rs.map(r => r.getAs[Double]("dsir_weight") / r.getAs[Long]("n_grams"))
        .sum / rs.length
    assert(meanPerGram(en) > meanPerGram(rest),
      "en docs must be more target-like than non-en docs on average")
  }

  test("llm_colloc: support floor, marginal bounds, PMI identity + ordering") {
    val rows = SparkEntry.queries("q_llm_colloc")(s, SparkTestBase.sfDir)
      .collect()
    assert(rows.length == 20)
    val nTok = Tables.documents(s, SparkTestBase.sfDir)
      .select(explode(split($"text", " ")).as("t")).count()
    rows.foreach { r =>
      val (nxy, nx, ny) = (r.getAs[Long]("n_xy"), r.getAs[Long]("n_x"),
        r.getAs[Long]("n_y"))
      assert(nxy >= 5, "support floor")
      assert(nx >= nxy && ny >= nxy, "joint count bounded by marginals")
      // the reported PMI is exactly ln(n_xy N / (n_x n_y)), r6
      val want = math.floor(
        math.log(nxy.toDouble * nTok / (nx.toDouble * ny)) * 1e6 + 0.5) / 1e6
      assert(math.abs(r.getAs[Double]("pmi") - want) < 1e-9,
        s"PMI identity: $r vs $want")
    }
    val pmis = rows.map(_.getAs[Double]("pmi"))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b },
      "top-k is ordered by PMI desc")
  }
}
