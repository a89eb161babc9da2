package graft.ops

import graft.{QueryModule, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (SURVEY.md §2B north star) over
  * the `documents` / `embeddings` tables: exact + fuzzy deduplication,
  * similarity search, text analysis, multimodal column plumbing.
  *
  * Scale design (the whole point of these at 100 TB):
  *  - Exact dedup is a hash-groupBy — one shuffle on a 32-byte key,
  *    map-side partial counts.
  *  - Fuzzy dedup is banded MinHash-LSH: per-doc signatures (map-only),
  *    explode to (band, key) buckets, self-join INSIDE buckets. The
  *    candidate set is |bucket|² per bucket, never |corpus|² — the
  *    all-pairs O(n²) join only exists in the DuckDB oracle, which is
  *    ground truth at test scale.
  *  - Sim-search broadcasts the (small) query set and scans the corpus
  *    once — brute-force cosine is the exact baseline; the plan keeps
  *    the corpus un-shuffled (the top-k window partitions by query id,
  *    k·|queries| rows post-filter). The 100-TB variant would bucket
  *    by an IVF/LSH cell id first; same downstream shape.
  *  - Text stats explode to (lang, word) and aggregate — classic
  *    map-side-combine word count.
  */
object Llm extends QueryModule {

  private def words(c: Column): Column = split(c, " ")

  /** A numeric array widened to array<double> by one array `cast`, which
    * stays inside whole-stage codegen. A `transform(_, x =>
    * x.cast("double"))` lambda gives the same doubles but is
    * CodegenFallback: it takes its projection out of codegen, and a
    * filter pushed through it into the scan evaluates it again there. */
  private[graft] def widen(c: Column): Column = c.cast("array<double>")

  /** documents scan with forced parallelism: the test table is ONE
    * parquet file → one input partition, which would serialize every
    * heavy per-row derivation (shingling, hashing) onto a single task
    * (measured: the whole fuzzy-dedup signature build ran on 1 task).
    * A cheap hash repartition of the raw text spreads the compute —
    * with an EXPLICIT partition count, because a bare repartition(col)
    * is AQE-coalescible and a few MB of text collapses right back to
    * one partition, re-serializing the downstream projections. On a
    * real multi-file 100 TB table the scan is already parallel and
    * this is one extra small exchange. */
  private[ops] def docs(s: SparkSession, d: String): DataFrame =
    T.par(s, T.documents(s, d), col("doc_id"))

  /** RANGE-partitioned variant of [[docs]] for the per-doc map-side
    * family whose output order leads with doc_id: range(doc_id)
    * satisfies every downstream groupBy/window clustered on doc_id
    * exactly like the hash par, AND carries the final output order, so
    * those queries end in a zero-exchange sortWithinPartitions instead
    * of a global orderBy whose range sampler re-executes the whole
    * per-doc pipeline. ONLY safe when every downstream join is
    * explicitly broadcast (an un-hinted join that plans sort-merge
    * would re-shuffle and silently break the local sort's global-order
    * premise) — callers are audited for that. */
  private[ops] def docsRange(s: SparkSession, d: String): DataFrame =
    T.parRange(s, T.documents(s, d), col("doc_id"))

  /** Bucketed candidate-pair generation shared by the LSH-family
    * dedups: group by bucket key, collect sorted members, expand all
    * unordered member pairs in-array. One pipeline computation — a
    * bands⨝bands self-join would clone the whole signature subplan
    * into both sides. Returns distinct (x, y) member pairs.
    *
    * Buckets are CAPPED at [[MaxBucket]] members: a degenerate bucket
    * (thousands of exact duplicates sharing one signature) would
    * otherwise expand |bucket|² pairs. Band geometry makes this
    * unreachable in normal data; when it IS reached the query fails
    * loudly with the bucket key in the message — the right response is
    * to run exact dedup first (collapse the identical docs), not to
    * silently drop candidate pairs and ship an incomplete dedup
    * result. Scope note: the guard evaluates AFTER collect_list has
    * materialized the bucket, so it bounds the n² expansion and makes
    * the failure diagnosable, but a multi-GB adversarial bucket can
    * still stress the aggregation buffer itself; hardening that needs
    * a bounded custom Aggregator (cap+overflow-flag buffer) or a
    * pre-count pass, both costing a second pass over the signature
    * build — not taken while the cap is orders of magnitude above
    * real bucket sizes. */
  private[ops] val MaxBucket = 1024

  private[graft] def bucketPairs(df: DataFrame, keys: Seq[Column],
                                 member: Column): DataFrame =
    classesOf(df, keys, member)
      .filter(col("m") > 1)
      .select(explode(classPairs(col("ids"), keys)).as("p"))
      .select(col("p.x"), col("p.y"))
      .distinct()

  // ------------------------------------------------------------ class kit

  /** Exact-content class collapse of the near-duplicate family
    * (q_llm_dedup_fuzzy/_ngram/_simhash/_embed, q_llm_semdedup, the
    * simhash class graph): one row per class key with `ids` (sorted,
    * DISTINCT members), `rep` (the min member) and `m` (the member
    * count, long).
    *
    * Why collapse BEFORE blocking and verification: verbatim
    * duplicates share every feature, so member-level blocking inflates
    * each bucket linearly with the duplication factor (10 corpus copies
    * — heavy crawl duplication, or the sf1 scale harness — trip
    * MaxBucket although the DISTINCT near-dup geometry is unchanged)
    * and re-verifies one class pair |class_a|·|class_b| times for one
    * answer. Blocking and verification run over one representative per
    * class; member pairs re-expand afterwards ([[classPairs]] within a
    * class, [[expandClassPairs]] across a verified class pair), so the
    * work tracks distinct-content geometry and the output is unchanged
    * (DedupCollapseSpec, SimhashDupSpec and SemdedupCollapseSpec pin
    * the exact expansion). Members are distinct because a value
    * repeated under one key would otherwise pair with itself, emitting
    * da == db against the da < db contract (review r12). */
  private[graft] def classesOf(df: DataFrame, keys: Seq[Column],
                               member: Column): DataFrame =
    df.groupBy(keys: _*)
      .agg(array_distinct(sort_array(collect_list(member))).as("ids"))
      .select((keys :+ col("ids")) ++ Seq(element_at(col("ids"), 1).as("rep"),
        size(col("ids")).cast("long").as("m")): _*)

  /** Every unordered pair `struct(x, y)` (x < y) of a sorted, distinct
    * `ids` array, expanded in-array — no regrouping. An array over
    * [[MaxBucket]] members fails with the class `keys` in the message
    * (rendered via concat_ws, NOT to_json: StructsToJson is
    * CodegenFallback and would drag the whole projection into
    * interpreted evaluation — measured 2× on every LSH dedup). */
  private[graft] def classPairs(ids: Column, keys: Seq[Column]): Column = {
    val guarded = when(size(ids) <= MaxBucket, ids)
      .otherwise(raise_error(concat(
        lit(s"graft.bucketPairs: bucket exceeds $MaxBucket members " +
          "(degenerate near-duplicate cluster; run exact dedup first) " +
          "at key "),
        concat_ws(",", keys.map(_.cast("string")): _*))))
    flatten(transform(guarded, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y => struct(x.as("x"), y.as("y")))))
  }

  /** m×n re-expansion of verified class pairs: one row per member pair of
    * the `xs` × `ys` id arrays, as (`a`, `b`) with `carry` columns kept.
    * The classes are disjoint, so least/greatest restores the global
    * a < b order. */
  private[graft] def expandClassPairs(df: DataFrame, xs: String, ys: String,
                                      a: String, b: String,
                                      carry: String*): DataFrame = {
    val kept = carry.map(col)
    df.select(kept ++ Seq(explode(col(xs)).as("__a"), col(ys)): _*)
      .select(kept ++ Seq(col("__a"), explode(col(ys)).as("__b")): _*)
      .select(kept ++ Seq(least(col("__a"), col("__b")).as(a),
        greatest(col("__a"), col("__b")).as(b)): _*)
  }

  /** Distinct word-3-shingle HASHES of a text column, via the native
    * codegen [[graft.functions.NgramHash]] expression (one pass, no
    * shingle strings materialized, primitive long[] out — the
    * higher-order-function string formulation was the CPU floor of
    * both fuzzy-dedup scans). Docs with < 3 tokens yield an EMPTY
    * set, matching the DuckDB oracle's range(1, len-1) (a non-empty
    * fallback would let two short docs match each other on the Spark
    * side only). Shingle-set Jaccard on hashes == on strings up to a
    * ~1e-9 collision, the documented corpus-scale trade. */
  private def shingles3(textCol: String): Column =
    expr(s"graft_ngrams($textCol, 3, true)")

  // ----------------------------------------------------- q_llm_dedup_exact

  /** Exact (normalized-key) dedup: documents keyed by sha2-256 of their
    * first-8-word prefix; keeper = min doc_id per group. 476 groups /
    * ~22 multi-member at sf0.01, so the grouping is exercised for real.
    * At 100 TB: single shuffle on the digest, partial-aggregated. */
  private def dedupExact(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        sha2(concat_ws(" ", slice(words(col("text")), 1, 8)), 256).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"),
        count(lit(1)).as("n_copies"),
        array_join(array_sort(collect_set(col("doc_id"))), ",").as("members"))
      .select(col("keeper"), col("n_copies"), col("members"), col("h"))
      .orderBy(col("keeper"))

  private val dedupExactSql =
    """SELECT min(doc_id) AS keeper, count(*) AS n_copies,
      |       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS members,
      |       h
      |FROM (SELECT doc_id,
      |        sha256(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h
      |      FROM documents)
      |GROUP BY h ORDER BY keeper""".stripMargin

  // ----------------------------------------------------- q_llm_dedup_fuzzy

  /** Fuzzy dedup via banded MinHash-LSH + exact verification.
    *
    * Pipeline: 3-shingle sets → 12 minhashes (xxhash64 seeded by slot)
    * → 4 bands × r=3 → explode to (band, k1, k2, k3) bucket keys →
    * self-join within buckets (da < db) → distinct candidate pairs →
    * exact Jaccard on the shingle sets → keep ≥ 0.5.
    *
    * Band geometry: planted near-dups sit at J ≈ 0.99 (background
    * ≲ 0.1), so P(miss) = (1-J³)⁴ ≈ 1e-6 while background pairs
    * collide at J³ ≈ 1e-3 per band — r=3 keeps the candidate set
    * ~100× smaller than r=2 at 5000 docs (false candidates scale with
    * n²·Jᵣ·b, and each one pays an exact-Jaccard verification).
    * The oracle IS all-pairs O(n²): fine as ground truth at test
    * scale, which is exactly what LSH avoids at 100 TB. */
  private def dedupFuzzy(s: SparkSession, d: String): DataFrame =
    fuzzyPairsOver(docs(s, d))

  /** The whole pipeline above over an arbitrary (doc_id, text) frame —
    * package-visible as the [[graft.Graft.nearDuplicatePairs]] facade
    * core, so the user path and the oracle-verified scored path are
    * the same code. */
  private[graft] def fuzzyPairsOver(docsF: DataFrame,
                                    minJaccard: Double = 0.5): DataFrame = {
    val nBands = 4
    // Class kit collapse keyed by the full shingle SET (the signature
    // alone would under-distinguish: equal signatures with different
    // sets must still verify separately). sort_array canonicalizes the
    // key to the SET (round-10 advice): without it, token-permuted docs
    // with identical shingle sets land in separate classes — output
    // stays correct via the LSH cross branch (equal sets ⇒ equal
    // signatures), but the collapse is weaker. Matches dedupNgram.
    val groups = classesOf(
        docsF.select(col("doc_id"), sort_array(shingles3("text")).as("g")),
        Seq(col("g")), col("doc_id"))
      // reused by both branches + the rep join — materialize once;
      // registered with Staged so the blocks release at the owner's
      // query boundary instead of waiting on driver GC
      .transform(Staged.checkpointLazy)
    // Branch 1 — identical-content pairs: J = 1 exactly. Empty
    // shingle sets (< 3 tokens) are excluded on both engines (the
    // oracle's 0/0 division is NULL; here they never reach a band).
    val identical = groups.filter(size(col("g")) > 0 && col("m") > 1)
      .select(explode(classPairs(col("ids"), Seq(col("rep")))).as("p"))
      .select(col("p.x").as("da"), col("p.y").as("db"),
        lit(1.0).as("jaccard"))
    // Branch 2 — cross-class pairs: LSH over one rep per class.
    // Explode the (already-hashed) shingle set, then derive all 12
    // seeded minhashes by re-hashing the 8-byte value — a single
    // map-side-combined aggregation. The tempting per-column
    // array_min(transform(g, ...)) formulation gets projection-collapsed
    // by Catalyst into 12 copies of the shingle construction (measured
    // 9.3s → 2.4s at sf0.1). One shuffle of (rid, 12 longs).
    val reps = groups.select(col("rep").as("rid"), col("g"), col("ids"))
    val sigs = reps
      .select(col("rid"), explode(col("g")).as("h"))
      .groupBy(col("rid"))
      .agg(min(xxhash64(lit(0), col("h"))).as("mh0"),
        (1 until 3 * nBands).map(k =>
          min(xxhash64(lit(k), col("h"))).as(s"mh$k")): _*)
    val bands = sigs.select(col("rid"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          col(s"mh${3 * b}").as("k1"),
          col(s"mh${3 * b + 1}").as("k2"),
          col(s"mh${3 * b + 2}").as("k3"))): _*)).as("bk"))
      .select(col("rid"), col("bk.band"), col("bk.k1"), col("bk.k2"),
        col("bk.k3"))
    // bucket sizes are bounded by distinct-content geometry (r=3),
    // so the collect_list inside bucketPairs is bounded
    val cand = bucketPairs(bands,
        Seq(col("band"), col("k1"), col("k2"), col("k3")), col("rid"))
      .select(col("x").as("ra"), col("y").as("rb"))
    val inter = size(array_intersect(col("ga"), col("gb"))).cast("double")
    val cross = cand
      .join(reps.select(col("rid").as("ra"), col("g").as("ga"),
        col("ids").as("xs")), "ra")
      .join(reps.select(col("rid").as("rb"), col("g").as("gb"),
        col("ids").as("ys")), "rb")
      .select(col("xs"), col("ys"),
        Det.r4(inter / (size(col("ga")) + size(col("gb")) - inter))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .transform(expandClassPairs(_, "xs", "ys", "da", "db", "jaccard"))
    identical.unionByName(cross).orderBy(col("da"), col("db"))
  }

  // Ground truth via an EXACT inverted-index join, not all-pairs
  // (round 8): pairs sharing zero shingles can't reach J ≥ 0.5, so
  // grouping the shared-shingle join by (da, db) counts |A∩B| for
  // every qualifying pair with cost Σ_s cnt(s)² (~2.8M rows at sf0.1,
  // 0.7 s) instead of the n²/2 list_intersect scan (543 s at sf0.1 —
  // the reason this query used to gate at sf0.01 only). Identical
  // output: |A∩B| = len(list_intersect), same r4 floor, same filter.
  private val dedupFuzzySql =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      |ex AS (SELECT doc_id, len(g) AS n, unnest(g) AS s FROM sh),
      |pair AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |         count(*) AS i, max(a.n) AS na, max(b.n) AS nb
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT da, db,
      |       floor((i::DOUBLE / (na + nb - i)) * 10000 + 0.5) / 10000
      |         AS jaccard
      |FROM pair
      |WHERE floor((i::DOUBLE / (na + nb - i)) * 10000 + 0.5) / 10000 >= 0.5
      |ORDER BY da, db""".stripMargin

  // ------------------------------------------------------ q_llm_sim_search

  /** Cosine top-k: query vectors (vec_id < 5) against the corpus
    * (vec_id ≥ 5). */
  private def simSearch(s: SparkSession, d: String): DataFrame = {
    val emb = T.embeddings(s, d)
    cosineTopKOver(
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe")),
        emb.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("match_id"), col("embedding").as("ce")),
        10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The body of q_llm_sim_search and `Graft.cosineTopK`: broadcast
    * `(query_id, qe)` rows × `(match_id, ce)` numeric-array rows on the
    * native `graft_dot` (a fused loop), norms once per row. Zero-norm
    * vectors are dropped: 0/0 = NaN sorts above every cosine (review
    * r12). The norm filter is pushed into the scan, so the double cast
    * is [[widen]], not a lambda. */
  private[graft] def cosineTopKOver(q: DataFrame, c: DataFrame, k: Int)
      : DataFrame = {
    val qn = q.withColumn("qe", widen(col("qe")))
      .withColumn("qn", sqrt(expr("graft_dot(qe, qe)")))
      .filter(col("qn") > 0)
    val cn = c.withColumn("ce", widen(col("ce")))
      .withColumn("cn", sqrt(expr("graft_dot(ce, ce)")))
      .filter(col("cn") > 0)
    val cos = expr("graft_dot(qe, ce)") / (col("qn") * col("cn"))
    broadcast(qn).crossJoin(cn)
      .select(col("query_id"), col("match_id"), Det.r6(cos).as("cos_key"))
      .transform(Relational.topKOver(_, Seq(col("query_id")),
        Seq(col("cos_key").desc, col("match_id")), k, "rank"))
      .select(col("query_id"), col("rank"), col("match_id"),
        Det.r4(col("cos_key")).as("cos_sim"))
  }

  private val simSearchSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |s AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
      |         floor((list_dot_product(q.e, c.e) /
      |                (sqrt(list_dot_product(q.e, q.e)) *
      |                 sqrt(list_dot_product(c.e, c.e)))) * 1000000 + 0.5)
      |           / 1000000 AS cos_key
      |  FROM e q, e c WHERE q.vec_id < 5 AND c.vec_id >= 5),
      |r AS (
      |  SELECT query_id, match_id, cos_key,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cos_key DESC, match_id) AS rank
      |  FROM s)
      |SELECT query_id, rank, match_id,
      |       floor(cos_key * 10000 + 0.5) / 10000 AS cos_sim
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------ q_llm_text_stats

  /** Token analysis: explode → (lang, word) counts → top-10 words per
    * language. Map-side combine keeps the shuffle at vocabulary
    * cardinality, not token cardinality. */
  private def textStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("lang"), explode(words(col("text"))).as("word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
      .transform(Relational.topKOver(_, Seq(col("lang")),
        Seq(col("n").desc, col("word")), 10, "rn"))
      .orderBy(col("lang"), col("rn"))

  private val textStatsSql =
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
      |cnt AS (
      |  SELECT lang, word, count(*) AS n FROM tok GROUP BY lang, word),
      |r AS (
      |  SELECT lang, word, n,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY n DESC, word) AS rn
      |  FROM cnt)
      |SELECT lang, word, n, rn FROM r WHERE rn <= 10
      |ORDER BY lang, rn""".stripMargin

  // ------------------------------------------------------ q_llm_multimodal

  /** Multimodal column plumbing: the text payload re-encoded as a
    * BinaryType column (the pattern for image/audio bytes), digested
    * (md5), measured, and wrapped in a typed metadata struct that is
    * then flattened for output. The decode/feature-extract step for
    * real media is a mapInPandas/Pandas-UDF boundary in production;
    * here the Spark-side plumbing — binary column, struct schema,
    * per-row derivation — is the tested surface. Quality is a
    * length × type-token-ratio heuristic, all portable arithmetic. */
  private def multimodal(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    val nTok = size(w).cast("double")
    val nDis = size(array_distinct(w)).cast("double")
    // docsRange + local sort (see docsRange): the digest/struct
    // projection runs once, not again in a trailing orderBy's sampler
    docsRange(s, d)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(
          col("lang"),
          col("n_chars"),
          size(words(col("text"))).cast("long").as("n_tokens"),
          Det.r4(least(lit(1.0), nTok / 300) *
            (lit(0.5) + lit(0.5) * nDis / nTok)).as("quality"))
          .as("meta"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("byte_len"),
        md5(col("payload")).as("digest"),
        col("meta.lang").as("lang"),
        col("meta.n_chars").as("n_chars"),
        col("meta.n_tokens").as("n_tokens"),
        col("meta.quality").as("quality"))
      .sortWithinPartitions(col("doc_id"))
  }

  private val multimodalSql =
    """SELECT doc_id,
      |  octet_length(encode(text)) AS byte_len,
      |  md5(text) AS digest,
      |  lang, n_chars,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  floor((least(1.0, len(string_split(text, ' ')) / 300.0) *
      |         (0.5 + 0.5 * len(list_distinct(string_split(text, ' ')))::DOUBLE /
      |                      len(string_split(text, ' ')))) * 10000 + 0.5) / 10000
      |    AS quality
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_dedup_exact" -> (dedupExact _),
    "q_llm_dedup_fuzzy" -> (dedupFuzzy _),
    "q_llm_sim_search" -> (simSearch _),
    "q_llm_text_stats" -> (textStats _),
    "q_llm_multimodal" -> (multimodal _),
  )

  val oracles: Map[String, String] = Map(
    "q_llm_dedup_exact" -> dedupExactSql,
    "q_llm_dedup_fuzzy" -> dedupFuzzySql,
    "q_llm_sim_search" -> simSearchSql,
    "q_llm_text_stats" -> textStatsSql,
    "q_llm_multimodal" -> multimodalSql,
  )
}
