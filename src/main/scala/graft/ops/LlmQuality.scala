package graft.ops

import graft.{Query, QueryModule, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Remaining driver-brief LLM-data operators: n-gram Jaccard dedup via
  * PREFIX FILTERING (the AllPairs/PPJoin family — Bayardo et al.,
  * WWW'07 — a different scale path than the MinHash-LSH of
  * q_llm_dedup_fuzzy: exact, no probabilistic recall argument), and
  * per-document quality scoring (length / lexical-diversity / stopword
  * heuristics, the C4/Gopher-style filter stage).
  */
object LlmQuality extends QueryModule {

  private val JaccardT = 0.6

  // ----------------------------------------------------- q_llm_dedup_ngram

  /** Distinct word-4-gram HASHES per doc (positional order irrelevant).
    * Gram width matters for the blocking, not just the similarity: this
    * corpus's bigram vocabulary is ~1k (avg doc-frequency ~275 of 5000
    * docs at sf0.1 — measured), which makes ANY bigram-token blocking
    * effectively all-pairs (12.8M candidates). 4-grams push the
    * vocabulary to ~210k with max doc-frequency 6, so prefix buckets
    * hold ≤ a handful of docs (~5k candidate pairs).
    *
    * The gram build is the native codegen [[graft.functions.NgramHash]]
    * expression — one pass over the string bytes, each word hashed
    * once, primitive long[] out (the r3 version carried 40-char gram
    * strings through every stage; the r5 higher-order-function version
    * still cost ~6 µs/gram on the interpreted path).
    * Distinct-on-hashes == distinct-on-grams up to a |vocab|²/2⁶⁵
    * ≈ 1e-9 collision chance, the standard trade for exact set
    * similarity at corpus scale. */
  private[graft] def ngramHashes(textCol: String, width: Int,
                                 distinct: Boolean = true): Column =
    ngramHashesOf(col(textCol), width, distinct)

  /** Column-based form: resolves the registered function directly, so
    * the text argument is a Column, never SQL text — a user column
    * name needing quoting (spaces, dots, hyphens) works, and an
    * arbitrary SQL fragment can't ride in through the facade. */
  private[graft] def ngramHashesOf(text: Column, width: Int,
                                   distinct: Boolean = true): Column =
    call_function("graft_ngrams", text, lit(width), lit(distinct))

  /** (doc, gram-hash) pairs; hashes are distinct per doc. */
  private def ngramToks(s: SparkSession, d: String): DataFrame =
    Llm.docs(s, d)
      .select(col("doc_id"), explode(ngramHashes("text", 4)).as("h"))

  /** The blocking stage alone: candidate (da, db) pairs from the
    * prefix buckets. Package-visible so BucketPairsSpec can assert
    * the pruning ratio vs all-pairs — the property the whole
    * AllPairs design stands on. */
  private[ops] def ngramCandidates(s: SparkSession, d: String): DataFrame =
    ngramCandidatesFrom(ngramToks(s, d))

  private def ngramCandidatesFrom(toks: DataFrame): DataFrame = {
    val freq = toks.groupBy(col("h")).agg(count(lit(1)).as("freq"))
    val ord = Window.partitionBy(col("doc_id"))
      .orderBy(col("freq"), col("h"))
    val prefix = toks.join(freq, "h")
      .select(col("doc_id"), col("h"),
        row_number().over(ord).as("rn"),
        count(lit(1)).over(Window.partitionBy(col("doc_id"))).as("sz"))
      .filter(col("rn") <=
        col("sz") - ceil(lit(JaccardT - 1e-4) * col("sz")) + 1)
    Llm.bucketPairs(prefix.select(col("doc_id"), col("h")),
        Seq(col("h")), col("doc_id"))
      .select(col("x").as("da"), col("y").as("db"))
  }

  /** Exact n-gram Jaccard self-join with prefix filtering.
    *
    * Every doc's 4-gram set is ordered by a GLOBAL total order —
    * ascending corpus frequency, gram hash as tie-break (rare first).
    * If J(x, y) ≥ t, then |x∩y| ≥ ⌈t·|x|⌉, so the first
    * |x| − ⌈t·|x|⌉ + 1 grams of x (and symmetrically y) must contain
    * a common gram: blocking on prefix grams finds EVERY qualifying
    * pair, and the exact-Jaccard verification removes every false
    * candidate — output is identical to the all-pairs join the oracle
    * runs, with candidates ~ Σ|gram bucket|² over RARE grams instead
    * of n². At 100 TB the frequency table is vocabulary-bounded and
    * the heavy join never materializes non-candidate pairs.
    *
    * Physical design (this is what makes it fast — the r3 string-array
    * formulation serialized onto single tasks and cost 27 s at sf0.1):
    *  - 4-grams are hashed to BIGINT at the source (ngramHashes4);
    *    the frequency ordering, prefix selection, bucketing and
    *    verification all run on 8-byte longs, never 40-char strings.
    *  - Prefix selection is a per-doc row_number window over the
    *    exploded (doc, hash) pairs — no collect_list / array_sort /
    *    slice round-trip through per-doc string arrays
    *    (ngramCandidates above).
    *  - Verification touches the exploded pairs ONCE: each candidate
    *    pair unpivots to two (pair, doc) rows, joins (doc, h), and a
    *    groupBy (pair, h) counts 2 for shared grams, 1 otherwise —
    *    giving BOTH |x∩y| (count of 2s) and |x∪y| (distinct h count)
    *    in one aggregation, with no per-doc set-size table and no
    *    per-row gram arrays rebuilt or broadcast.
    *  - Candidate generation runs at threshold t' = t − 1e-4: the
    *    output filter admits pairs whose r4-ROUNDED jaccard ≥ t, i.e.
    *    true J ≥ t − 5e-5, so blocking at exactly t could miss a pair
    *    rounding up across the boundary. The slack makes the prefix
    *    one gram longer only when ⌈t'·n⌉ < ⌈t·n⌉ (n ≳ 4000). */
  private def dedupNgram(s: SparkSession, d: String): DataFrame = {
    // Class kit collapse before the prefix-filter join, keyed by the
    // SORTED gram set so set-equal docs unify regardless of gram order.
    // The prefix-filter recall guarantee is untouched: it requires only
    // a consistent global gram order (class doc-frequency is as valid
    // as corpus doc-frequency), and class-level J equals every member
    // pair's J (identical sets).
    val groups = Llm.classesOf(
        Llm.docs(s, d)
          .select(col("doc_id"), sort_array(ngramHashes("text", 4)).as("g")),
        Seq(col("g")), col("doc_id"))
      .transform(Staged.checkpointLazy)
    // identical-content pairs: J = 1 exactly; gram-less docs
    // (< 4 words) excluded on both engines
    val identical = groups.filter(size(col("g")) > 0 && col("m") > 1)
      .select(explode(Llm.classPairs(col("ids"), Seq(col("rep")))).as("p"))
      .select(col("p.x").as("da"), col("p.y").as("db"),
        lit(1.0).as("jaccard"))
    // materialize the rep gram build ONCE: toks feeds three join
    // branches (frequency table, prefix selection, verification), and
    // without a checkpoint each branch re-runs the explode from the
    // grouped frame. This is the "tokenize once" stage a 100 TB
    // pipeline would persist to DFS; localCheckpoint is its
    // single-JVM equivalent (~16 bytes/gram).
    val toks = groups
      .select(col("rep").as("doc_id"), explode(col("g")).as("h"))
      .transform(Staged.checkpoint)
    val cand = ngramCandidatesFrom(toks)
    val repPairs = cand
      .select(col("da"), col("db"),
        explode(array(col("da"), col("db"))).as("doc_id"))
      .join(toks, "doc_id")
      .groupBy(col("da"), col("db"), col("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("da"), col("db"))
      .agg(sum(when(col("n") === 2, 1L).otherwise(0L)).cast("double")
          .as("inter"),
        count(lit(1)).cast("double").as("uni"))
      .select(col("da"), col("db"),
        Det.r4(col("inter") / col("uni")).as("jaccard"))
      .filter(col("jaccard") >= JaccardT)
    val cross = repPairs
      .join(groups.select(col("rep").as("da"), col("ids").as("xs")), "da")
      .join(groups.select(col("rep").as("db"), col("ids").as("ys")), "db")
      .transform(Llm.expandClassPairs(_, "xs", "ys", "da", "db", "jaccard"))
    identical.unionByName(cross).orderBy(col("da"), col("db"))
  }

  // Ground truth via an EXACT inverted-index join (round 8, same
  // rewrite as the fuzzy oracle): a pair at J ≥ t shares ≥ 1 gram, so
  // the shared-gram join grouped by (da, db) yields |A∩B| for every
  // qualifying pair at Σ_g cnt(g)² cost — 0.4 s at sf0.1 where the
  // all-pairs list_intersect scan DNF'd. Output identical to all-pairs.
  private val dedupNgramSql =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(w) - 2),
       |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |  WHERE len(w) >= 4),
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
       |WHERE floor((i::DOUBLE / (na + nb - i)) * 10000 + 0.5) / 10000
       |      >= $JaccardT
       |ORDER BY da, db""".stripMargin

  // --------------------------------------------------------- q_llm_quality

  private val stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** The composite quality score over a `text` column, package-visible
    * so q_llm_sample_importance (LlmTrain) samples with EXACTLY the
    * scoring function q_llm_quality reports — a sampler keyed to a
    * near-copy of the filter score silently diverges from the filter. */
  private[ops] def qualityScore: Column = qualityScoreOf(col("text"))

  /** The same composite over an arbitrary text column — the
    * [[graft.Graft]] facade's entry point. */
  private[graft] def qualityScoreOf(text: Column): Column = {
    val w = split(text, " ")
    val nTok = size(w).cast("double")
    val ttr = size(array_distinct(w)).cast("double") / nTok
    val stopRatio =
      size(filter(w, x => x.isin(stopwords: _*))).cast("double") / nTok
    Det.r4(least(lit(1.0), nTok / 300.0) *
      (lit(0.4) + lit(0.3) * ttr + lit(0.3) * (lit(1.0) - stopRatio)))
  }

  /** The identical DuckDB rendering over a word-list expression. */
  private[ops] def qualityScoreSql(w: String): String = {
    val in = stopwords.map(s => s"'$s'").mkString(", ")
    s"""floor(least(1.0, len($w) / 300.0) *
       |          (0.4 + 0.3 * (len(list_distinct($w))::DOUBLE / len($w)) +
       |           0.3 * (1.0 - len(list_filter($w, x -> x IN ($in)))::DOUBLE
       |                        / len($w))) * 10000 + 0.5) / 10000""".stripMargin
  }

  /** Per-document quality scoring: token count, mean word length
    * (text is single-space-joined, so chars-sans-spaces / tokens),
    * type-token ratio, stopword ratio, a composite score, and a
    * high/medium/low bucket. Pure map-side scan → the classic corpus
    * filter stage; at 100 TB this is one pass, no shuffle. All
    * arithmetic is +,*,/ — portable at the r4 discretization; the
    * bucket label is derived from the ROUNDED score so the two engines
    * can't disagree at a threshold boundary. */
  private def quality(s: SparkSession, d: String): DataFrame = {
    val w = split(col("text"), " ")
    val nTok = size(w).cast("double")
    val ttr = size(array_distinct(w)).cast("double") / nTok
    val stopRatio =
      size(filter(w, x => x.isin(stopwords: _*))).cast("double") / nTok
    val meanWl = (col("n_chars") - (nTok - 1)) / nTok
    val score = qualityScore
    // docsRange + local sort: the scoring projection (regex + array
    // lambdas) runs once, after the one exchange — a trailing orderBy
    // re-executed it in the range sampler (see Llm.docsRange).
    Llm.docsRange(s, d)
      .select(col("doc_id"), col("lang"),
        size(w).cast("long").as("n_tokens"),
        Det.r4(meanWl).as("mean_word_len"),
        Det.r4(ttr).as("ttr"),
        Det.r4(stopRatio).as("stopword_ratio"),
        score.as("score"),
        when(score >= 0.5, "high").when(score >= 0.25, "medium")
          .otherwise("low").as("bucket"))
      .sortWithinPartitions(col("doc_id"))
  }

  private val qualitySql = {
    val in = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH m AS (
       |  SELECT doc_id, lang,
       |    len(w)::BIGINT AS n_tokens,
       |    (n_chars - (len(w) - 1))::DOUBLE / len(w) AS mwl,
       |    len(list_distinct(w))::DOUBLE / len(w) AS ttr0,
       |    len(list_filter(w, x -> x IN ($in)))::DOUBLE / len(w) AS sr,
       |    floor(least(1.0, len(w) / 300.0) *
       |          (0.4 + 0.3 * (len(list_distinct(w))::DOUBLE / len(w)) +
       |           0.3 * (1.0 - len(list_filter(w, x -> x IN ($in)))::DOUBLE
       |                        / len(w))) * 10000 + 0.5) / 10000 AS score
       |  FROM (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS w
       |        FROM documents))
       |SELECT doc_id, lang, n_tokens,
       |  floor(mwl * 10000 + 0.5) / 10000 AS mean_word_len,
       |  floor(ttr0 * 10000 + 0.5) / 10000 AS ttr,
       |  floor(sr * 10000 + 0.5) / 10000 AS stopword_ratio,
       |  score,
       |  CASE WHEN score >= 0.5 THEN 'high'
       |       WHEN score >= 0.25 THEN 'medium' ELSE 'low' END AS bucket
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------- q_llm_entropy

  /** Character-level Shannon entropy per document (nats) plus the
    * distinct-character count and top-character mass — the
    * randomness/degeneracy axis of quality filtering that the ratio
    * heuristics in q_llm_quality can't see (boilerplate, base64 blobs
    * and keyboard-mash all have distinctive entropy signatures).
    * Shape: explode to (doc, char) → count (map-side combined) →
    * per-doc aggregation of the c·ln(c) terms — two bounded shuffles.
    * At 100 TB the explode is |chars| rows; production would fold the
    * histogram into a fixed-width byte-count expression (one pass, no
    * explode), but the aggregation algebra — H = ln(n) − Σc·ln(c)/n —
    * is identical. ln (not log2) keeps both engines on the same libm
    * call, r6-discretized like the rest of the libm family. */
  private def entropy(s: SparkSession, d: String): DataFrame =
    // docsRange + local sort (see Llm.docsRange): range(doc_id)
    // clusters BOTH groupBys, so the whole query is one exchange and
    // the per-char explode runs once, not again in a sort sampler.
    Llm.docsRange(s, d)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("len_chars"),
        count(lit(1)).as("n_distinct"),
        Det.r6(log(sum(col("c"))) -
          sum(col("c") * log(col("c"))) / sum(col("c"))).as("entropy_nats"),
        Det.r6(max(col("c")) / sum(col("c"))).as("top_char_frac"))
      .sortWithinPartitions(col("doc_id"))

  private val entropySql =
    s"""WITH ch AS (
       |  SELECT doc_id, unnest(string_split(text, '')) AS ch
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, ch, count(*) AS c FROM ch
       |  WHERE ch <> '' GROUP BY doc_id, ch)
       |SELECT doc_id, sum(c)::BIGINT AS len_chars,
       |       count(*) AS n_distinct,
       |       ${Det.sql6("ln(sum(c)) - sum(c * ln(c)) / sum(c)")}
       |         AS entropy_nats,
       |       ${Det.sql6("max(c) / sum(c)")} AS top_char_frac
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ q_llm_repetition

  /** Gopher-style within-document repetition signals (Rae et al. 2021
    * §A1.1 use them as corpus filters): fraction of 2-grams taken by
    * the single most frequent 2-gram, and fraction of 3-grams that
    * occur more than once. Grams are xxhash64'd before the count
    * shuffle (8-byte keys, same trade as dedupNgram; the oracle counts
    * strings — identical up to a ~1e-9 collision). Two map-side-
    * combined aggregations per gram width, then a per-doc reduce:
    * shuffle volume is O(distinct grams), and at 100 TB this is the
    * same shape as a word count. Flag thresholds follow Gopher's
    * published cut points (0.20 / 0.18), applied to the ROUNDED
    * fractions so both engines agree at the boundary. */
  private def repetition(s: SparkSession, d: String): DataFrame = {
    val base = Llm.docs(s, d)
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 3)
    def gramFracs(width: Int): DataFrame = {
      // distinct = false: occurrence counts, not the gram set
      base.select(col("doc_id"),
          explode(ngramHashes("text", width, distinct = false)).as("h"))
        .groupBy(col("doc_id"), col("h"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg((max(col("n")).cast("double") / sum(col("n"))).as("top_frac"),
          (sum(when(col("n") > 1, col("n")).otherwise(0L)).cast("double") /
            sum(col("n"))).as("dup_frac"))
    }
    val f2 = gramFracs(2).select(col("doc_id"), col("top_frac").as("t2"))
    val f3 = gramFracs(3).select(col("doc_id"), col("dup_frac").as("d3"))
    f2.join(f3, "doc_id")
      .select(col("doc_id"),
        Det.r4(col("t2")).as("top2_frac"),
        Det.r4(col("d3")).as("dup3_frac"),
        (Det.r4(col("t2")) >= 0.20 || Det.r4(col("d3")) >= 0.18)
          .as("repetitive"))
      .orderBy(col("doc_id"))
  }

  private val repetitionSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |g2 AS (
       |  SELECT doc_id, g, count(*) AS n FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(w)),
       |                                 i -> w[i] || ' ' || w[i+1])) AS g
       |    FROM t)
       |  GROUP BY doc_id, g),
       |a2 AS (SELECT doc_id, max(n)::DOUBLE / sum(n) AS t2 FROM g2
       |       GROUP BY doc_id),
       |g3 AS (
       |  SELECT doc_id, g, count(*) AS n FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(w) - 1),
       |                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
       |    FROM t)
       |  GROUP BY doc_id, g),
       |a3 AS (SELECT doc_id,
       |         sum(CASE WHEN n > 1 THEN n ELSE 0 END)::DOUBLE / sum(n) AS d3
       |       FROM g3 GROUP BY doc_id)
       |SELECT a2.doc_id AS doc_id,
       |       ${Det.sql4("t2")} AS top2_frac,
       |       ${Det.sql4("d3")} AS dup3_frac,
       |       (${Det.sql4("t2")} >= 0.20 OR ${Det.sql4("d3")} >= 0.18)
       |         AS repetitive
       |FROM a2 JOIN a3 ON a2.doc_id = a3.doc_id
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- q_llm_dedup_apply

  /** The pipeline stage that CONSUMES dedup output: materialize the
    * deduplicated corpus (keep = min doc_id per exact-dup group, the
    * q_llm_dedup_exact keeper rule) and summarize what survived per
    * language — kept docs, kept chars, and drop rate vs the raw
    * corpus. At 100 TB this is the same single digest shuffle as the
    * dedup itself plus a semi-join of keepers back to the scan —
    * broadcast at test scale (AQE sees a few KB), a doc_id-partitioned
    * shuffle semi-join at corpus scale where keepers ≈ the corpus; no
    * second pass over the text either way. */
  private def dedupApply(s: SparkSession, d: String): DataFrame = {
    val docs = Llm.docs(s, d)
    val keepers = docs
      .select(col("doc_id"),
        sha2(concat_ws(" ", slice(split(col("text"), " "), 1, 8)), 256).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val kept = docs.join(keepers, Seq("doc_id"), "left_semi")
    // per-lang count over the RAW scan: a groupBy-count partial-
    // aggregates at the scan, so the T.par spread exchange on this
    // branch moved |corpus| rows for nothing (r15; the n_docs fix)
    val raw = T.documents(s, d).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_raw"))
    kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).cast("long").as("chars_kept"))
      .join(raw, "lang")
      .select(col("lang"), col("n_kept"), col("chars_kept"),
        Det.r4(lit(1.0) - col("n_kept").cast("double") / col("n_raw"))
          .as("drop_rate"))
      .orderBy(col("lang"))
  }

  private val dedupApplySql =
    s"""WITH k AS (
       |  SELECT min(doc_id) AS doc_id FROM (
       |    SELECT doc_id,
       |      sha256(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h
       |    FROM documents)
       |  GROUP BY h),
       |kept AS (SELECT d.* FROM documents d SEMI JOIN k ON d.doc_id = k.doc_id),
       |raw AS (SELECT lang, count(*) AS n_raw FROM documents GROUP BY lang)
       |SELECT kept.lang AS lang, count(*) AS n_kept,
       |       sum(n_chars)::BIGINT AS chars_kept,
       |       ${Det.sql4("1.0 - count(*)::DOUBLE / any_value(n_raw)")}
       |         AS drop_rate
       |FROM kept JOIN raw ON kept.lang = raw.lang
       |GROUP BY kept.lang ORDER BY lang""".stripMargin

  // -------------------------------------------------- q_llm_decontaminate

  /** Train/eval decontamination (the GPT-3 appendix-C / Dolma stage):
    * find training documents sharing verbatim word-8-grams with an
    * evaluation set. The eval set here is a deterministic doc_id
    * slice (mod 7, ~14% of docs) standing in for a benchmark suite;
    * report every (train, eval) pair with its shared-8-gram count.
    * Physical shape is the canonical one at 100 TB: benchmarks are
    * tiny, so the eval-set gram index BROADCASTS and the full training
    * corpus streams once map-side against it — no shuffle touches the
    * training set (the (train,eval,h) join output is |collisions|,
    * not |corpus|). The one-corpus mod-7 split is a test artifact: in
    * production the eval suite is its own small table, each side is
    * scanned once and no checkpoint is needed. Grams are xxhash64
    * longs as in dedupNgram; the oracle joins the string grams. */
  private def decontaminate(s: SparkSession, d: String): DataFrame = {
    val (trainG, evalG) = modSplitGrams(s, d)
    sharedGramPairs(trainG, evalG).orderBy(col("train_id"), col("eval_id"))
  }

  /** `(train (train_id, h), eval (eval_id, h))` 8-gram tables of the
    * mod-7 split, checkpointed once so both sides don't re-run the
    * gram build (2× the query's CPU); shared with the bloom variant. */
  private[ops] def modSplitGrams(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val grams = Llm.docs(s, d)
      .select(col("doc_id"), col("doc_id").mod(7).as("m"),
        explode(ngramHashes("text", 8)).as("h"))
      .transform(Staged.checkpoint)
    (grams.filter(col("m") =!= 0).select(col("doc_id").as("train_id"), col("h")),
      grams.filter(col("m") === 0).select(col("doc_id").as("eval_id"), col("h")))
  }

  /** Every (train_id, eval_id) pair sharing a gram `h`, counted as
    * `n_shared`, eval side broadcast; also `Graft.decontaminate`'s. */
  private[graft] def sharedGramPairs(train: DataFrame, eval: DataFrame)
      : DataFrame =
    train.join(broadcast(eval), "h")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))

  /** Also q_llm_decontaminate_bloom's oracle: the bloom variant is
    * exact, so its ground truth is this same SQL. */
  private[ops] val decontaminateSql =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 7 AS m,
      |         unnest(list_distinct(list_transform(range(1, len(w) - 6),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
      |                || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
      |                || ' ' || w[i+7]))) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 8)
      |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
      |       count(*) AS n_shared
      |FROM g t JOIN g e ON t.g = e.g
      |WHERE t.m <> 0 AND e.m = 0
      |GROUP BY t.doc_id, e.doc_id
      |ORDER BY train_id, eval_id""".stripMargin

  // ------------------------------------------------------------ q_llm_tfidf

  /** TF-IDF top-3 terms per document — the topicality / keyword
    * signal quality-filter stacks and cluster-labelers use (salient
    * terms also feed dedup triage: near-dups share them). Shape:
    * (doc, term) counts via hash agg (checkpointed ONCE — it feeds
    * both the df aggregate and the score projection), document
    * frequency as a map-side-combined `groupBy(term).count()` joined
    * back, then a per-doc row_number for the top-3 cut. The df step
    * deliberately does NOT use a `count over (partition term)` window:
    * term frequency is Zipfian — a stopword term appears in ~every
    * document — and an unordered window cannot partially aggregate,
    * so at corpus scale ONE task would receive every carrier row of
    * the hot term. The groupBy partial-aggregates the hot term on
    * every map task (shuffle = |vocab| partials), and the join back
    * is an equi-join AQE can broadcast when the Heaps-bounded vocab
    * is small and skew-split when it is not.
    * The ORDER is total (score DESC, term ASC): score is a pure
    * function of integer (tf, df, N) through libm `ln` — identical
    * doubles on both engines — and the term tie-break pins equal
    * scores, so ranks are deterministic under any partitioning. N
    * rides in as a broadcast 1-row frame, never a driver collect. */
  private def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Llm.docs(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(Staged.checkpointLazy)
    // count over the RAW scan, not the T.par-spread `docs`: a global
    // count has no per-row compute to parallelize, and counting the
    // spread frame shuffles |corpus| doc_ids first (r15: one exchange
    // + one stage removed, same fix as q_llm_boilerplate's n_docs)
    val n = T.documents(s, d).agg(count(lit(1)).as("n_docs"))
    // tf rows are distinct (doc, term), so count-per-term IS the
    // document frequency
    val dfByTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfByTerm, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      // RANGE exchange where the top-3 window needed a hash exchange
      // anyway: range(doc_id) satisfies the window's clustering AND
      // leads the output order, so the trailing orderBy — whose
      // sampler re-executed the join + window subtree — becomes a
      // zero-exchange local sort (one exchange fewer end to end).
      .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
      .transform(Relational.topKOver(_, Seq(col("doc_id")),
        Seq(col("score").desc, col("term")), 3, "rank"))
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), Det.r6(col("score")).as("tfidf"))
      .sortWithinPartitions(col("doc_id"), col("rank"))
  }

  private val tfidfSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE term <> '' GROUP BY doc_id, term),
       |sc AS (
       |  SELECT doc_id, term, tf,
       |         count(*) OVER (PARTITION BY term) AS df,
       |         tf * ln((SELECT count(*) FROM documents)::DOUBLE /
       |                 count(*) OVER (PARTITION BY term)) AS score
       |  FROM tf),
       |r AS (
       |  SELECT doc_id, term, tf, df, score,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY score DESC, term) AS rank
       |  FROM sc)
       |SELECT doc_id, rank, term, tf, df,
       |       ${Det.sql6("score")} AS tfidf
       |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // -------------------------------------------------------- q_llm_dedup_url

  /** URL-level dedup after canonicalization — the cheapest dedup stage
    * a web corpus runs (Dolma/CC pipelines drop exact-URL re-crawls
    * BEFORE any content pass; at 100 TB it replaces a content scan
    * with a metadata scan). The documents table carries no URL, so a
    * deterministic one is synthesized per doc with PLANTED variant
    * noise, each a pure function of doc_id (the q_llm_pii pattern):
    * host site{id%7}.example.com, path /art/{id%13}, plus a www.
    * prefix (id%7=0), trailing slash (id%2=0), utm_source tracking
    * param (id%3=0), real page param that must SURVIVE (id%11=0), and
    * a fragment (id%5=0). Canonicalization is a codegen'd
    * regexp_replace chain — strip fragment, strip www, drop the utm
    * param while keeping real ones, collapse '/?'→'?' and the trailing
    * slash — then ONE map-side-combined hash agg per canonical URL:
    * doc count, distinct-raw-form count (>1 proves the chain merged
    * genuinely different strings), min-doc keeper. Shuffle volume is
    * |distinct URLs| short strings, independent of document size. */
  /** The canonicalization chain, package-visible so the spec can
    * assert IDEMPOTENCE (canon∘canon = canon — a non-idempotent
    * canonicalizer silently splits groups on incremental re-crawls
    * where stored keys are already canonical). */
  private[graft] def canonicalizeUrl(u: Column): Column =
    Seq[Column => Column](
      c => regexp_replace(c, lit("#[a-z0-9-]*$"), lit("")),
      c => regexp_replace(c, lit("://www\\."), lit("://")),
      c => regexp_replace(c, lit("\\?utm_source=feed&"), lit("?")),
      c => regexp_replace(c, lit("\\?utm_source=feed$"), lit("")),
      c => regexp_replace(c, lit("/\\?"), lit("?")),
      c => regexp_replace(c, lit("/$"), lit("")))
      .foldLeft(u)((acc, f) => f(acc))

  private def dedupUrl(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val raw = concat(lit("https://"),
      when(id % 7 === 0, lit("www.")).otherwise(lit("")),
      lit("site"), id % 7, lit(".example.com/art/"), id % 13,
      when(id % 2 === 0, lit("/")).otherwise(lit("")),
      when(id % 3 === 0, lit("?utm_source=feed")).otherwise(lit("")),
      when(id % 11 === 0,
        concat(when(id % 3 === 0, lit("&")).otherwise(lit("?")),
          lit("page=2"))).otherwise(lit("")),
      when(id % 5 === 0, lit("#section-1")).otherwise(lit("")))
    Llm.docs(s, d)
      .select(id, raw.as("raw_url"), canonicalizeUrl(raw).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_url")).as("n_raw_forms"),
        min(col("doc_id")).as("keeper_doc"))
      .orderBy(col("canonical_url"))
  }

  private val dedupUrlSql =
    """WITH u AS (
      |  SELECT doc_id,
      |         'https://' ||
      |         CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END ||
      |         'site' || (doc_id % 7) || '.example.com/art/' ||
      |         (doc_id % 13) ||
      |         CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
      |         CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END ||
      |         CASE WHEN doc_id % 11 = 0 THEN
      |           (CASE WHEN doc_id % 3 = 0 THEN '&' ELSE '?' END) || 'page=2'
      |           ELSE '' END ||
      |         CASE WHEN doc_id % 5 = 0 THEN '#section-1' ELSE '' END
      |           AS raw_url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, raw_url,
      |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |           regexp_replace(regexp_replace(raw_url,
      |           '#[a-z0-9-]*$', ''),
      |           '://www\.', '://'),
      |           '\?utm_source=feed&', '?'),
      |           '\?utm_source=feed$', ''),
      |           '/\?', '?'),
      |           '/$', '') AS canonical_url
      |  FROM u)
      |SELECT canonical_url, count(*) AS n_docs,
      |       count(DISTINCT raw_url) AS n_raw_forms,
      |       min(doc_id) AS keeper_doc
      |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin

  // -------------------------------------------------------- q_llm_domain_cap

  /** Per-domain document capping — the crawl-bias control every web
    * corpus applies at mixture time (a handful of giant hosts otherwise
    * dominate the token budget): keep at most `DomainCap` docs per
    * domain, chosen by the portable 60-bit md5 key-hash rank — a
    * uniform random subset of the domain, yet a pure projection, so
    * re-runs, engines and retries select the SAME docs (q_sample_hash's
    * reproducibility argument; a seeded RNG agrees on none of those).
    * The domain reuses q_llm_dedup_url's synthesized host universe
    * (site{id%7}.example.com — a pure function of doc_id).
    *
    * Scale shape: [[Relational.topKOver]]'s map-side partial limit, so
    * a billion-page host is pruned where it is read. Spec-asserted that
    * the partial limit sits below the exchange and that the kept set
    * matches a brute-force recompute. */
  private def domainCap(s: SparkSession, d: String): DataFrame = {
    val DomainCap = 20
    val id = col("doc_id")
    Llm.docs(s, d)
      .select(id, concat(lit("site"), id % 7, lit(".example.com")).as("domain"))
      .transform(hashCapOver(_, "doc_id", "domain", DomainCap, "rn"))
      .select(col("domain"), col("rn"), col("doc_id"))
      .orderBy(col("domain"), col("rn"))
  }

  /** The body of q_llm_domain_cap and `Graft.capPerDomain`: at most
    * `cap` rows per `domain`, by the 60-bit md5 rank of `id`, appended
    * as `rank`. NULL ids raise. */
  private[graft] def hashCapOver(docs: DataFrame, id: String, domain: String,
                                 cap: Int, rank: String): DataFrame = {
    val h = when(col(id).isNotNull,
      call_function("graft_hash60", col(id).cast("string")))
      .otherwise(raise_error(lit(
        s"graft.capPerDomain: NULL $id — a null key has no hash rank; " +
          "filter or fill it first")))
    Relational.topKOver(docs, Seq(col(domain)), Seq(h, col(id)), cap, rank)
  }

  private val domainCapSql =
    """WITH t AS (
      |  SELECT doc_id,
      |         'site' || (doc_id % 7) || '.example.com' AS domain,
      |         ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM documents)
      |SELECT domain, rn, doc_id FROM (
      |  SELECT domain, doc_id,
      |         row_number() OVER (PARTITION BY domain
      |                            ORDER BY h, doc_id) AS rn
      |  FROM t) WHERE rn <= 20
      |ORDER BY domain, rn""".stripMargin

  // -------------------------------------------------------- q_llm_perplexity

  /** Unigram-LM cross-entropy scoring — the perplexity-filter stage of
    * CCNet/Gopher-style corpus cleaning, with the corpus itself as the
    * language model, vocabulary CAPPED with UNK backoff (the
    * production formulation: a word-level vocab is Heaps-bounded but a
    * pipeline still pins its size so the broadcast is a constant, and
    * every out-of-vocab token scores against the aggregated tail
    * mass): the LM keeps the top-`VocabCap` words by (count DESC, word
    * ASC) — a total order, so both engines cut identically — and
    * P(UNK) = (n_total − Σ in-vocab counts) / n_total. Each doc is
    * scored by avg −ln P(w) plus the exp() of that (the perplexity
    * proxy a filter thresholds on), with its OOV token count reported.
    * Scale shape: the token explode is the standard corpus-linear
    * pass; the LM is a map-side-combined count aggregation capped by
    * orderBy().limit() — TakeOrderedAndProject, a distributed partial
    * top-K, NOT a partition-less window over the vocab frame (the
    * round-6 formulation; at 100 TB an uncapped vocab frame would
    * serialize onto one task) — and the corpus totals ride in as a
    * broadcast 1-ROW stats frame. Scoring is one broadcast left join +
    * one reduce by doc. VocabCap = 24 < the synthetic corpus's 31-word
    * vocab so the UNK path is exercised at every SF; production sizes
    * it to memory (e.g. 10⁵–10⁶). */
  private def llmPerplexity(s: SparkSession, d: String): DataFrame = {
    val VocabCap = 24
    val words = Llm.docsRange(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val wc = words.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val vocab = wc.orderBy(col("cnt").desc, col("w")).limit(VocabCap)
    // one broadcast 1-row frame carries both scalars: corpus total and
    // the UNK tail mass (total − in-vocab sum). The total is Σ over
    // the per-word count table — the same integers reassociated
    // (exact) — NOT a `words.agg(count)`: that was a second full
    // corpus explode pass, where this is a vocabulary-sized reduce
    // riding the word-count aggregation's ReusedExchange (r15; the
    // colloc/dsir totals trick). coalesce pins the empty-corpus row
    // to 0 like count(1) returned.
    val stats = wc.agg(coalesce(sum(col("cnt")), lit(0L)).as("n_total"))
      .crossJoin(broadcast(vocab.agg(sum(col("cnt")).as("in_vocab"))))
      .select(col("n_total"),
        (col("n_total") - col("in_vocab")).as("unk_cnt"))
    val nll = -log(coalesce(col("cnt"), col("unk_cnt")).cast("double") /
      col("n_total"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
        // deliberately NOT the exact-grid long-sum form (SCALE.md r12):
        // nll terms are logs — continuous, so an r4-boundary
        // coincidence is negligible and grid-flooring them would ADD
        // a per-row cross-engine rounding hazard
        Det.r4(avg(nll)).as("xent"),
        Det.r4(exp(avg(nll))).as("ppl"))
      // local sort: words derives from docsRange and both joins are
      // explicit broadcasts, so range(doc_id) survives to here (see
      // Llm.docsRange) — no final exchange, no sampler re-run of the
      // explode + score pipeline
      .sortWithinPartitions(col("doc_id"))
  }

  private val llmPerplexitySql =
    s"""WITH w AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents)
       |  WHERE length(w) > 0),
       |c AS (SELECT w, count(*) AS cnt FROM w GROUP BY w),
       |v AS (SELECT w, cnt FROM c ORDER BY cnt DESC, w LIMIT 24),
       |st AS (
       |  SELECT (SELECT count(*) FROM w) AS n_total,
       |         (SELECT count(*) FROM w) - (SELECT sum(cnt) FROM v)
       |           AS unk_cnt)
       |SELECT doc_id, count(*) AS n_words,
       |       sum(CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END)::BIGINT
       |         AS n_oov,
       |       ${Det.sql4(
            "avg(-ln(coalesce(v.cnt, st.unk_cnt)::DOUBLE / st.n_total))")}
       |         AS xent,
       |       ${Det.sql4(
            "exp(avg(-ln(coalesce(v.cnt, st.unk_cnt)::DOUBLE / st.n_total)))")}
       |         AS ppl
       |FROM w LEFT JOIN v USING (w) CROSS JOIN st
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- registry

  val table: Seq[Query] = Seq(
    Query("q_llm_dedup_ngram", dedupNgram, Some(dedupNgramSql)),
    Query("q_llm_quality", quality, Some(qualitySql)),
    Query("q_llm_entropy", entropy, Some(entropySql)),
    Query("q_llm_repetition", repetition, Some(repetitionSql)),
    Query("q_llm_dedup_apply", dedupApply, Some(dedupApplySql)),
    Query("q_llm_decontaminate", decontaminate, Some(decontaminateSql)),
    Query("q_llm_tfidf", tfidf, Some(tfidfSql)),
    Query("q_llm_dedup_url", dedupUrl, Some(dedupUrlSql)),
    Query("q_llm_domain_cap", domainCap, Some(domainCapSql)),
    Query("q_llm_perplexity", llmPerplexity, Some(llmPerplexitySql)),
  )
}
