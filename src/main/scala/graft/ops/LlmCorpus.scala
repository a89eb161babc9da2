package graft.ops

import graft.{Query, QueryModule, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-statistics operators for the training-data pipeline (round
  * 7): line-level boilerplate detection (the CCNet/Dolma cleaning
  * stage that runs BEFORE content dedup) and PMI collocation
  * extraction (the phrase-mining / tokenizer-vocabulary pass).
  *
  * Both are corpus-global statistics with the same scale contract as
  * the rest of the LLM family: one corpus-linear explode, counts
  * aggregated with map-side combine, global scalars carried as
  * broadcast 1-row frames (never a partition-less window, never a
  * driver collect).
  */
object LlmCorpus extends QueryModule {

  // ------------------------------------------------------ q_llm_boilerplate

  private val LineTokens = 10

  /** Line-level boilerplate detection — the cleaning stage web-corpus
    * pipelines (CCNet §3.1's paragraph dedup, Dolma's paragraph-level
    * filters) run before any content dedup: a "line" occurring in many
    * documents is nav/footer chrome, not content, and dropping it both
    * shrinks the corpus and stops boilerplate from gluing unrelated
    * docs together in the fuzzy-dedup stage.
    *
    * The documents table has no newlines, so pseudo-lines are
    * deterministic [[LineTokens]]-token chunks, plus one PLANTED
    * footer line appended per doc as a pure function of doc_id%7
    * (the q_llm_pii / q_llm_dedup_url in-query synthesis pattern):
    * 7 distinct footers, each shared by ~1/7 of the corpus, so the
    * detector has real signal at every SF while body chunks stay
    * (almost) unique.
    *
    * Shape: explode to distinct (doc, line) — checkpointed ONCE, it
    * feeds both the frequency aggregate and the per-doc reduce — →
    * line doc-frequency via map-side-combined `groupBy(line).count()`
    * → the lines at or above the cut broadcast-joined back as a
    * boilerplate mark → map-side-combined per-doc reduce. The df step
    * deliberately does NOT use a count-over-(partition line) window:
    * a planted footer sits in ~1/7 of all documents, and an unordered
    * window cannot partially aggregate, so at corpus scale ONE task
    * would receive every carrier row of that line. The groupBy
    * partial-aggregates the hot line on every map task, and the
    * broadcast of the join-back side is PROVABLY bounded at any
    * corpus size: Σdf = |(doc,line)| = N·L̄ (L̄ = avg lines/doc), so
    * at most N·L̄/(0.05·N) = 20·L̄ lines can clear the 5% cut —
    * independent of N. The corpus doc count rides in as a broadcast
    * 1-row aggregate. Boilerplate cut: df ≥ max(ceil(5% of docs), 5)
    * — the floor keeps tiny-SF exact-dup groups (df 2–4) out of the
    * boilerplate class; both engines evaluate the identical
    * integer-valued threshold. Shuffle volume is |distinct lines|
    * short strings; production would md5/xxhash lines to 8 bytes
    * first (the dedupNgram trade) — same shape. */
  private def boilerplate(s: SparkSession, d: String): DataFrame = {
    // NOT converted to the docsRange + local-sort shape (r14): `lines`
    // is deliberately checkpointed (it feeds the df aggregate AND the
    // per-doc reduce — without it the corpus-linear explode runs
    // twice), and a localCheckpoint surfaces as LogicalRDD with
    // UnknownPartitioning, so the final reduce re-exchanges anyway and
    // a trailing local sort would order hash partitions, not the
    // output. The checkpoint-for-partitioning trade goes the
    // checkpoint's way at corpus scale.
    val docs = Llm.docs(s, d)
    // body chunks: tokens [i·L+1, i·L+L], i = 0 .. (n_tok-1)/L
    val bodyLines = expr(
      s"""transform(
         |  sequence(0, cast((size(split(text, ' ')) - 1) / $LineTokens as int)),
         |  i -> array_join(slice(split(text, ' '), i * $LineTokens + 1, $LineTokens), ' '))"""
        .stripMargin)
    val footer = concat(lit("subscribe to site"), col("doc_id") % 7,
      lit(" newsletter daily digest"))
    val lines = docs
      .select(col("doc_id"),
        explode(concat(bodyLines, array(footer))).as("line"))
      .distinct() // line frequency = DOC frequency, not occurrence count
      .transform(Staged.checkpointLazy)
    // count over the RAW scan, not the T.par-spread frame: the spread
    // exchange exists to parallelize per-row text compute, and a global
    // count has none — counting `docs` was shuffling |corpus| doc_ids
    // just to count them (plan: Exchange REPARTITION_BY_NUM under the
    // count's partial agg; removed = one exchange + one stage fewer)
    val n = T.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val cut = greatest(ceil(col("n_docs") * lit(0.05)), lit(5L))
    // ≤ 20·L̄ rows at ANY corpus size (see Scaladoc) → always
    // broadcastable; the big side never shuffles for the mark
    val boilerLines = lines
      .groupBy(col("line")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") >= cut)
      .select(col("line"), lit(1L).as("is_boiler"))
    val frac = col("n_boiler").cast("double") / col("n_lines")
    lines
      .join(broadcast(boilerLines), Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
      .select(col("doc_id"), col("n_lines"), col("n_boiler"),
        Det.r4(frac).as("boiler_frac"))
      .orderBy(col("doc_id"))
  }

  private val boilerplateSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |l AS (
       |  SELECT DISTINCT doc_id, line FROM (
       |    SELECT doc_id,
       |           unnest(list_append(
       |             list_transform(range(0, (len(w) - 1) // $LineTokens + 1),
       |               i -> array_to_string(
       |                      w[i * $LineTokens + 1 : i * $LineTokens + $LineTokens],
       |                      ' ')),
       |             'subscribe to site' || (doc_id % 7) ||
       |             ' newsletter daily digest')) AS line
       |    FROM t)),
       |nn AS (SELECT count(*) AS n_docs FROM documents),
       |f AS (
       |  SELECT doc_id, count(*) OVER (PARTITION BY line) AS df
       |  FROM l)
       |SELECT doc_id, count(*) AS n_lines,
       |       sum(CASE WHEN df >= greatest(ceil(nn.n_docs * 0.05), 5)
       |                THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
       |       ${Det.sql4(
            "sum(CASE WHEN df >= greatest(ceil(nn.n_docs * 0.05), 5) " +
            "THEN 1 ELSE 0 END)::DOUBLE / count(*)")} AS boiler_frac
       |FROM f CROSS JOIN nn
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ q_llm_colloc

  private val MinPairCount = 5
  private val TopK = 20

  /** PMI collocation extraction (Church & Hanks 1990) — the corpus-
    * statistics pass phrase mining and tokenizer-vocabulary induction
    * run over a training corpus: adjacent-token pairs whose joint
    * frequency far exceeds the independence prediction,
    * PMI = ln(n_xy·N / (n_x·n_y)), reported for the top-[[TopK]] pairs
    * above a [[MinPairCount]] support floor (raw PMI is dominated by
    * hapax noise without one).
    *
    * Shape at 100 TB: bigram counts are one corpus-linear transform +
    * map-side-combined hash agg (shuffle = |distinct bigrams| ≤
    * vocab²); the unigram table is vocabulary-bounded (Heaps' law) so
    * it BROADCASTS onto the bigram frame twice — the bigram frame
    * never shuffles again — and the corpus token total rides the same
    * broadcast as a 1-row frame. The final cut is orderBy().limit() →
    * TakeOrderedAndProject, a distributed partial top-K. Cross-engine
    * determinism: PMI is a pure function of integer counts through
    * libm ln (the tfidf argument), r6-discretized, with (w1, w2) as
    * the total-order tie-break. */
  private def colloc(s: SparkSession, d: String): DataFrame = {
    val toks = Llm.docs(s, d)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    // bigram pairs via arrays_zip of two shifted slices — codegen'd
    // array ops end to end, replacing the interpreted per-element
    // transform/element_at lambda (CodegenFallback; this build was the
    // query's hottest stage at ~2.5 executor-CPU-s). Same pairs in the
    // same order: zip(w[1..n-1], w[2..n]).
    val bigrams = toks
      .select(explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1))).as("bg"))
      .select(col("bg").getField("0").as("w1"),
        col("bg").getField("1").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= MinPairCount)
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    // corpus token total = Σ unigram counts — a vocabulary-sized
    // reduce of the table we already built, not a third corpus scan
    val n = uni.agg(sum(col("cnt")).as("n_tok"))
    val pmi = Det.r6(log(
      (col("n_xy").cast("double") * col("n_tok")) /
        (col("n_x").cast("double") * col("n_y"))))
    bigrams
      .join(broadcast(uni.select(col("t").as("w1"), col("cnt").as("n_x"))),
        "w1")
      .join(broadcast(uni.select(col("t").as("w2"), col("cnt").as("n_y"))),
        "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(TopK)
  }

  private val collocSql =
    s"""WITH t AS (
       |  SELECT string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |bg AS (
       |  SELECT g, count(*) AS n_xy FROM (
       |    SELECT unnest(list_transform(range(1, len(w)),
       |                    i -> w[i] || ' ' || w[i+1])) AS g
       |    FROM t)
       |  GROUP BY g HAVING count(*) >= $MinPairCount),
       |sp AS (
       |  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
       |         n_xy
       |  FROM bg),
       |uni AS (
       |  SELECT tk, count(*) AS cnt FROM (SELECT unnest(w) AS tk FROM t)
       |  GROUP BY tk),
       |nn AS (SELECT count(*) AS n_tok FROM (SELECT unnest(w) FROM t))
       |SELECT w1, w2, n_xy, ux.cnt AS n_x, uy.cnt AS n_y,
       |       ${Det.sql6(
            "ln(n_xy::DOUBLE * nn.n_tok / (ux.cnt::DOUBLE * uy.cnt))")}
       |         AS pmi
       |FROM sp JOIN uni ux ON sp.w1 = ux.tk
       |        JOIN uni uy ON sp.w2 = uy.tk CROSS JOIN nn
       |ORDER BY pmi DESC, w1, w2 LIMIT $TopK""".stripMargin

  // ---------------------------------------------------------- q_llm_bpe_step

  private val BpeTopK = 20

  /** One BPE merge iteration (Sennrich et al., ACL 2016 — the
    * tokenizer-vocabulary induction step): count adjacent character
    * pairs across the corpus, weighted by word frequency — the
    * highest-count pair is the merge the tokenizer would learn next;
    * the top-[[BpeTopK]] are reported with their occurrence and
    * word-coverage counts.
    *
    * The scale trick is WHERE the pair counting runs: one corpus-linear
    * explode builds the word-frequency table, and every subsequent pass
    * — the pair explode, the pair agg — runs on the VOCAB frame, which
    * Heaps' law bounds at ~√corpus regardless of corpus size (the BPE
    * implementations everyone uses do exactly this: merge loops touch
    * the vocab, never the corpus). A word containing the same pair
    * twice ("aaa" → "aa"×2) contributes each adjacency, weighted by
    * the word's corpus count; n_words counts distinct vocab entries
    * covering the pair. Final cut is orderBy().limit() →
    * TakeOrderedAndProject with (n_occ DESC, pair) as the total order.
    * All counts are integers — no FP portability surface at all. */
  private def bpeStep(s: SparkSession, d: String): DataFrame = {
    val wc = Llm.docs(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("word")) >= 2)
    wc.select(col("word"), col("cnt"), explode(expr(
        "transform(sequence(1, length(word) - 1), " +
          "i -> substring(word, i, 2))")).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("cnt")).as("n_occ"),
        countDistinct(col("word")).as("n_words"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(BpeTopK)
  }

  private val bpeStepSql =
    s"""WITH t AS (
       |  SELECT string_split(text, ' ') AS w FROM documents),
       |wc AS (
       |  SELECT tk AS word, count(*) AS cnt
       |  FROM (SELECT unnest(w) AS tk FROM t)
       |  GROUP BY tk HAVING length(tk) >= 2),
       |p AS (
       |  SELECT word, cnt,
       |         unnest(list_transform(range(1, length(word)),
       |           i -> substring(word, i, 2))) AS pair
       |  FROM wc)
       |SELECT pair, sum(cnt)::BIGINT AS n_occ,
       |       count(DISTINCT word) AS n_words
       |FROM p GROUP BY pair
       |ORDER BY n_occ DESC, pair LIMIT $BpeTopK""".stripMargin

  // -------------------------------------------------------- q_llm_dsir_weight

  private val DsirBuckets = 1024

  /** DSIR importance weighting (Xie et al., NeurIPS 2023 — "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how target-like its hashed-n-gram distribution
    * is, w(doc) = Σ_g [ln p_target(g) − ln p_raw(g)] over the doc's
    * bigrams, with both LMs built over [[DsirBuckets]] hash buckets
    * (the paper's hashed-ngram feature space — vocabulary-free, so the
    * LM is a CONSTANT-size table at any corpus size) and add-one
    * smoothing so absent buckets stay finite. The target distribution
    * here is the corpus's `lang='en'` slice (production: the
    * high-quality reference corpus); q_llm_sample_importance then
    * resamples on a score like this one.
    *
    * Shape at 100 TB: ONE corpus-linear explode → per-(doc, bucket)
    * counts (map-side-combined; shuffle ≤ |docs|·min(grams/doc,
    * buckets) rows), localCheckpointed because all four consumers —
    * raw LM, target LM, totals, and the final per-doc reduce — derive
    * from it, never from a second corpus scan. Both LMs collapse to
    * ≤[[DsirBuckets]] rows and BROADCAST back as a log-ratio table;
    * the two totals ride a broadcast 1-row frame (allowlisted).
    * Determinism: the per-bucket log-ratio is r6-discretized BEFORE
    * the per-doc sum, so both engines sum the identical multiset of
    * doubles. The OUTPUT grid must then also be r6: integer-weighted
    * sums of 1e-6-grid terms are themselves (near-exact) 1e-6-grid
    * points, so a COARSER grid (r4) puts ~1 in 10 sums exactly on a
    * rounding boundary where ~1e-13 summation-order noise picks the
    * side (observed at sf0.001: -6.62665 flipped between engines);
    * re-discretizing to the grid the value already lies on is stable
    * by construction — x·1e6 sits within 1e-7 of an integer, 7 orders
    * from the boundary. */
  private def dsirWeight(s: SparkSession, d: String): DataFrame = {
    // graft_ngram_h60: the old split → interpreted transform/concat
    // lambda → per-gram graft_hash60 chain evaluated on the
    // CodegenFallback path at ~14 µs/gram (11 of this query's 16
    // executor-CPU-s at sf0.1 sat in this checkpoint stage). The
    // native expression digests each bigram's byte range of the
    // original text in one codegen'd pass — same md5-based h60 the
    // DuckDB oracle recomputes, NgramH60Spec pins the equivalence.
    // docsRange (see Llm.docsRange): range(doc_id) clusters the
    // (doc_id, lang, b) counts, so the count aggregation runs with no
    // exchange of the exploded gram rows. The FINAL reduce still
    // re-exchanges and keeps its global orderBy: docBuckets is
    // checkpointed (all four consumers must share one materialization)
    // and a localCheckpoint surfaces as UnknownPartitioning, so a
    // trailing local sort would order hash partitions, not the output.
    val docBuckets = Llm.docsRange(s, d)
      .select(col("doc_id"), col("lang"),
        explode(call_function("graft_ngram_h60", col("text"), lit(2)))
          .as("h"))
      .select(col("doc_id"), col("lang"),
        (col("h") % DsirBuckets).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("n"))
      .transform(Staged.checkpoint)
    val isTgt = col("lang") === "en"
    // explicit isnotnull(b): semantically a no-op (b = h % buckets of a
    // non-null hash), but the ratio join below pushes this exact filter
    // into ITS copy of the lm subtree — writing it here makes the two
    // lm branches canonically identical, so the totals branch rides a
    // ReusedExchange instead of re-scanning the checkpoint.
    val lms = docBuckets.filter(col("b").isNotNull).groupBy(col("b"))
      .agg(sum(col("n")).as("cr"),
        sum(when(isTgt, col("n")).otherwise(0L)).as("ct"))
    // corpus totals = Σ over the ≤DsirBuckets lm rows — the same
    // integer sums reassociated (exact), computed off the lm aggregate
    // instead of a THIRD full pass over the checkpointed (doc, bucket)
    // frame (that pass was 4.3 executor-CPU-s at sf0.1). The lms
    // subtree here canonicalizes identically to the ratio branch's, so
    // its shuffle is a ReusedExchange: the totals side replays ≤
    // |map tasks|·DsirBuckets combined rows, never the corpus.
    val totals = lms
      .agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val ratio = lms.crossJoin(broadcast(totals))
      .select(col("b"), Det.r6(
        log((col("ct") + 1).cast("double") / (col("tt") + DsirBuckets)) -
          log((col("cr") + 1).cast("double") / (col("tr") + DsirBuckets)))
        .as("lr"))
    docBuckets.join(broadcast(ratio), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n")).as("n_grams"),
        Det.r6(sum(col("n") * col("lr"))).as("dsir_weight"))
      .orderBy(col("doc_id"))
  }

  private val dsirWeightSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |g AS (
       |  SELECT doc_id, lang,
       |         unnest(list_transform(range(1, len(w)),
       |           i -> ('0x' || substring(md5(w[i] || ' ' || w[i+1]), 1, 15))
       |                  ::BIGINT % $DsirBuckets)) AS b
       |  FROM t),
       |db AS (
       |  SELECT doc_id, lang, b, count(*) AS n FROM g GROUP BY 1, 2, 3),
       |lm AS (
       |  SELECT b, sum(n)::BIGINT AS cr,
       |         sum(CASE WHEN lang = 'en' THEN n ELSE 0 END)::BIGINT AS ct
       |  FROM db GROUP BY b),
       |tot AS (
       |  SELECT sum(n)::BIGINT AS tr,
       |         sum(CASE WHEN lang = 'en' THEN n ELSE 0 END)::BIGINT AS tt
       |  FROM db),
       |r AS (
       |  SELECT lm.b,
       |         ${Det.sql6(
            s"ln((lm.ct + 1)::DOUBLE / (tot.tt + $DsirBuckets)) - " +
            s"ln((lm.cr + 1)::DOUBLE / (tot.tr + $DsirBuckets))")} AS lr
       |  FROM lm CROSS JOIN tot)
       |SELECT db.doc_id, db.lang, sum(db.n)::BIGINT AS n_grams,
       |       ${Det.sql6("sum(db.n * r.lr)")} AS dsir_weight
       |FROM db JOIN r ON r.b = db.b
       |GROUP BY db.doc_id, db.lang ORDER BY db.doc_id""".stripMargin

  // -------------------------------------------------------------- registry

  val table: Seq[Query] = Seq(
    Query("q_llm_boilerplate", boilerplate, Some(boilerplateSql)),
    Query("q_llm_colloc", colloc, Some(collocSql)),
    Query("q_llm_bpe_step", bpeStep, Some(bpeStepSql)),
    Query("q_llm_dsir_weight", dsirWeight, Some(dsirWeightSql)),
  )
}
