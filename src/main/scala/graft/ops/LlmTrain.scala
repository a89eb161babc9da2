package graft.ops

import graft.{QueryModule, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-set assembly operators — the stages BETWEEN a cleaned
  * corpus and a training run: sequence packing into fixed context
  * windows, temperature-based language mixture weighting, and
  * bloom-filter decontamination (the scalable form of the exact
  * 8-gram pass in [[LlmQuality]]).
  */
object LlmTrain extends QueryModule {

  // ------------------------------------------------------------ q_llm_pack

  private val ChunkTokens = 2048
  private val PackShards = 8

  /** GPT-style sequence packing: concatenate documents in order and
    * cut the token stream every [[ChunkTokens]] tokens; a document's
    * chunk is the one holding its first token. Packing is inherently
    * sequential (each doc's position depends on every predecessor), so
    * the scalable unit is the SHARD: docs are bucketed into
    * (lang, doc_id mod [[PackShards]]) streams packed independently —
    * at 100 TB each shard's prefix-sum window runs in parallel and no
    * single task ever sees a whole language (a bare
    * `Window.partitionBy(lang)` would put all of English on one
    * executor; production would size shards to ~partition volume).
    * Output: per-chunk document count, token count, and doc-id span —
    * the manifest a packer job would hand the tokenizer. */
  private def pack(s: SparkSession, d: String): DataFrame =
    Llm.docs(s, d)
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(PackShards)).cast("long").as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .transform(chunkOver(_, "doc_id", col("n_tokens"), ChunkTokens,
        Seq(col("lang"), col("shard"))))
      .groupBy(col("lang"), col("shard"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("chunk_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("shard"), col("chunk"))

  /** The body of q_llm_pack and `Graft.packSequences`: appends
    * `chunk`, the exclusive token prefix in `id` order per `streams`
    * cell over `chunkTokens`. A NULL count would silently shift every
    * successor's chunk, so it raises. */
  private[graft] def chunkOver(docs: DataFrame, id: String, nTokens: Column,
                               chunkTokens: Int, streams: Seq[Column])
      : DataFrame = {
    val nt = when(nTokens.isNotNull, nTokens)
      .otherwise(raise_error(lit("graft.packSequences: NULL token count " +
        "— an unknown length cannot be packed; coalesce it explicitly " +
        "if zero is intended")))
    val w = Window.partitionBy(streams: _*).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.withColumn("chunk",
      floor(coalesce(sum(nt).over(w), lit(0L)) /
        lit(chunkTokens.toLong)).cast("long"))
  }

  private val packSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang, doc_id % $PackShards AS shard,
       |         len(string_split(text, ' '))::BIGINT AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT *, coalesce(sum(n_tokens) OVER (
       |      PARTITION BY lang, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
       |  FROM t)
       |SELECT lang, shard, floor(strt / $ChunkTokens)::BIGINT AS chunk,
       |       count(*) AS n_docs, sum(n_tokens)::BIGINT AS chunk_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY lang, shard, chunk
       |ORDER BY lang, shard, chunk""".stripMargin

  // --------------------------------------------------------- q_llm_mixture

  private val Temperature = 0.3

  /** Temperature-based language mixture weighting (the multilingual
    * sampling rule of mBERT/XLM-R/mT5: p_l ∝ f_l^α with α < 1 to
    * up-sample low-resource languages). Input is one aggregated row
    * per language — the window normalizations run over a
    * |languages|-row frame, so the unpartitioned window is fine HERE
    * (it would be a scale bug over row-level data). Boost is the
    * effective over/under-sampling factor the data loader applies. */
  private def mixture(s: SparkSession, d: String): DataFrame = {
    val all = Window.partitionBy()
    Llm.docs(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
      .withColumn("nf",
        col("n_docs").cast("double") / sum(col("n_docs")).over(all))
      .withColumn("wr", pow(col("nf"), lit(Temperature)))
      .withColumn("sw", col("wr") / sum(col("wr")).over(all))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        Det.r6(col("nf")).as("nat_frac"),
        Det.r6(col("sw")).as("samp_weight"),
        Det.r4(col("sw") / col("nf")).as("boost"))
      .orderBy(col("lang"))
  }

  private val mixtureSql =
    s"""WITH c AS (
       |  SELECT lang, count(*) AS n_docs,
       |         sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
       |  FROM documents GROUP BY lang),
       |f AS (
       |  SELECT *, n_docs::DOUBLE / sum(n_docs) OVER () AS nf,
       |         pow(n_docs::DOUBLE / sum(n_docs) OVER (), $Temperature) AS wr
       |  FROM c),
       |g AS (SELECT *, wr / sum(wr) OVER () AS sw FROM f)
       |SELECT lang, n_docs, n_tokens,
       |       ${Det.sql6("nf")} AS nat_frac,
       |       ${Det.sql6("sw")} AS samp_weight,
       |       ${Det.sql4("sw / nf")} AS boost
       |FROM g ORDER BY lang""".stripMargin

  // ------------------------------------------- q_llm_decontaminate_bloom

  /** Bloom-filter decontamination — the 100 TB form of
    * [[LlmQuality]]'s exact 8-gram pass (Dolma/Gopher build a bloom
    * over the benchmark grams and stream the corpus through it).
    * The eval-side gram set builds ONE bloom filter (Spark's own
    * internal BloomFilterAggregate, exposed as `graft_bloom_agg`),
    * which ships to every task as a ~0.5 MB binary literal; the
    * training corpus is then filtered map-side (`graft_bloom_contains`
    * = BloomFilterMightContain) so the exact join only ever sees the
    * ~|collisions| surviving rows, not |corpus| grams. No false
    * negatives + the same exact pair count ⇒ output IDENTICAL to
    * q_llm_decontaminate (same oracle SQL), while the shuffled volume
    * drops to the bloom's ~1% false-positive leak. */
  private def decontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val (trainG, evalG) = LlmQuality.modSplitGrams(s, d)
    // build the bloom once, driver-side (it IS the distributable
    // artifact — ~0.5 MB for 500k estimated grams at ~1% fpp)
    val bf = evalG
      .agg(expr("graft_bloom_agg(h, CAST(500000 AS BIGINT), " +
        "CAST(4000000 AS BIGINT))").as("bf"))
      .first().getAs[Array[Byte]]("bf")
    val pre =
      if (bf == null) trainG.filter(lit(false)) // empty eval set
      else trainG.filter(
        call_function("graft_bloom_contains", lit(bf), col("h")))
    LlmQuality.sharedGramPairs(pre, evalG)
      .orderBy(col("train_id"), col("eval_id"))
  }

  // ----------------------------------------------------------- q_llm_chunk

  private val ChunkSize = 32
  private val ChunkStride = 24

  /** RAG/context-window chunking: slice each document's token stream
    * into overlapping windows of [[ChunkSize]] tokens every
    * [[ChunkStride]] (8-token overlap), emitting the chunk manifest
    * (index, start, length, content digest) a downstream embedder
    * consumes. Pure map-side: tokenize → explode the start offsets →
    * `slice` — no shuffle at all before the output sort, so it scales
    * as a single corpus scan. Complements q_llm_pack (packing
    * concatenates docs INTO windows; chunking splits docs ACROSS
    * windows). */
  private def chunk(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    Llm.docs(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0),
          greatest(size(col("toks")) - 1, lit(0)), lit(ChunkStride))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").cast("long").as("strt"),
        slice(col("toks"), col("col") + 1, lit(ChunkSize)).as("ct"))
      .select(col("doc_id"), col("chunk_idx"), col("strt"),
        size(col("ct")).cast("long").as("chunk_len"),
        md5(array_join(col("ct"), " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val chunkSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s AS (
       |  SELECT doc_id, toks, i AS chunk_idx, i * $ChunkStride AS strt
       |  FROM t, range(0, 16) r(i)
       |  WHERE i * $ChunkStride <= greatest(len(toks) - 1, 0))
       |SELECT doc_id, chunk_idx, strt,
       |       len(list_slice(toks, strt + 1, strt + $ChunkSize))::BIGINT
       |         AS chunk_len,
       |       md5(array_to_string(
       |         list_slice(toks, strt + 1, strt + $ChunkSize), ' '))
       |         AS chunk_md5
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------- q_llm_kmeans

  /** One Lloyd iteration over the embedding corpus — the iterative-ML
    * primitive behind IVF codebook training (q_llm_sim_ann's cells)
    * and embedding-space clustering: current centroids (per-label
    * means, trained on the driver by `LlmExt.trainCodebook`) shipped
    * to every task as a constant, each vector assigned to its nearest
    * centroid by squared L2 (argmin over the 10-row centroid table),
    * then the reassignment matrix (label → assigned, counts + mean
    * distance) summarizes the step. Scale shape: one training pass +
    * ONE corpus scan + one |k|²-bounded aggregation — the corpus
    * never shuffles for the centroids; a full k-means run is this
    * step iterated, each materializing only new centroids.
    *
    * Cross-engine determinism: centroid components are r6-discretized
    * on BOTH sides before any distance math, so the d² inputs are
    * bit-identical; d² uses the dot-product expansion (graft_dot /
    * list_dot_product, both sequential 64-element loops); argmin
    * tie-breaks on (d2, clabel). */
  private def kmeansStep(s: SparkSession, d: String): DataFrame = {
    val raw = T.embeddings(s, d)
    // trained on the scan itself: the codebook job needs no shuffle
    val cent = LlmExt.trainCodebook(
      raw.select(col("label").as("clabel"), Llm.widen(col("embedding")).as("e")),
      "clabel")
    val emb = T.par(s, raw).select(col("label"), Llm.widen(col("embedding")).as("e"))
    // argmin as a PER-ROW fold over the literal codebook (the LlmExt
    // codebook kit, shared with q_llm_sim_ann), so no |vecs|-row
    // exchange re-groups the corpus to take a min; the reassignment
    // matrix aggregates straight to |labels|·|k| partials.
    // KmeansArgminSpec pins fold-vs-agg equality.
    emb.withColumn("cbook", cent)
      .select(col("label"), array_min(LlmExt.codeDistances("clabel")).as("best"))
      .groupBy(col("label"), col("best.clabel").as("assigned"))
      .agg(count(lit(1)).as("n_vecs"),
        Det.r6(avg(col("best.d2"))).as("avg_d2"))
      .orderBy(col("label"), col("assigned"))
  }

  private val kmeansSql =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (
       |  SELECT label AS clabel, i AS dim,
       |         ${Det.sql6("avg(v[i])")} AS m
       |  FROM e, range(1, 65) t(i) GROUP BY clabel, i),
       |cl AS (SELECT clabel, list(m ORDER BY dim) AS cv FROM c GROUP BY clabel),
       |d AS (
       |  SELECT e.vec_id, e.label, cl.clabel,
       |         list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, cl.cv)
       |           + list_dot_product(cl.cv, cl.cv) AS d2
       |  FROM e CROSS JOIN cl),
       |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                   ORDER BY d2, clabel) AS rn
       |      FROM d)
       |SELECT label, clabel AS assigned, count(*) AS n_vecs,
       |       ${Det.sql6("avg(d2)")} AS avg_d2
       |FROM r WHERE rn = 1
       |GROUP BY label, assigned ORDER BY label, assigned""".stripMargin

  // ---------------------------------------------------- q_sample_stratified

  /** Language-rebalancing stratified sample — the downsampling half of
    * what q_llm_mixture's temperature weights prescribe: cap every
    * language at ~50 docs by keeping each doc iff its portable 60-bit
    * md5 key-hash lands under floor(cap·10⁶ / n_lang) out of 10⁶.
    * Per-stratum Bernoulli by KEY HASH, not `df.sample()` — the same
    * reproducibility argument as q_sample_hash (re-runs, engines and
    * partitionings agree row-for-row), done per group. The stratum
    * rate table is a |languages|-row broadcast; the corpus side is one
    * scan + map-side filter — nothing about the heavy side shuffles,
    * which is the whole point at 100 TB (rebalancing must not cost a
    * repartition). Expected sample size ≈ cap per language (hash
    * binomial, not exact-k: exact-k would need a per-stratum top-k
    * shuffle; the binomial spread is ±√cap, irrelevant at corpus
    * scale and deterministic here). */
  private def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val cap = 50L
    val docs = T.documents(s, d)
    val rates = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"))
      .withColumn("thr",
        least(lit(1000000.0), floor(lit(cap * 1000000.0) / col("n_lang"))))
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
      16, 10).cast("long") % 1000000L
    docs.join(broadcast(rates), "lang")
      .filter(h < col("thr"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("n_lang")).as("n_total"),
        sum(col("n_chars")).as("sampled_chars"))
      .withColumn("kept_ratio",
        Det.r6(col("n_sampled").cast("double") / col("n_total")))
      .orderBy(col("lang"))
  }

  private val sampleStratifiedSql =
    s"""WITH rates AS (
       |  SELECT lang, count(*) AS n_lang,
       |         least(1000000.0, floor(50000000.0 / count(*))) AS thr
       |  FROM documents GROUP BY lang),
       |kept AS (
       |  SELECT d.lang, d.n_chars, r.n_lang
       |  FROM documents d JOIN rates r USING (lang)
       |  WHERE ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
       |        % 1000000 < r.thr)
       |SELECT lang, count(*) AS n_sampled, min(n_lang) AS n_total,
       |       sum(n_chars)::BIGINT AS sampled_chars,
       |       ${Det.sql6("count(*)::DOUBLE / min(n_lang)")} AS kept_ratio
       |FROM kept GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------ q_llm_sample_importance

  /** Quality-weighted importance sampling — the data-selection stage
    * (the DSIR / quality-classifier-resampling family: Xie et al.
    * 2023): each document's inclusion probability IS its quality
    * score, so high-quality docs survive at their score rate and junk
    * is mostly dropped, shifting the kept distribution toward quality
    * without a hard cutoff. Keep doc ⇔ u(doc) < score(doc), where u
    * is the portable 60-bit md5 key-hash scaled to [0,1) — the
    * q_sample_hash reproducibility argument (pure projection: re-runs,
    * engines, partitionings and retries agree row-for-row; a seeded
    * RNG agrees on none of those), and score is EXACTLY
    * q_llm_quality's composite ([[LlmQuality.qualityScore]], shared
    * code — a sampler keyed to a near-copy of the filter silently
    * diverges from the filter). Per-language report: doc counts,
    * kept counts, the target rate (avg score = expected keep rate)
    * next to the realized rate — the two agreeing within binomial
    * noise is the sampler's correctness signal, spec-asserted. Scale:
    * one map-side scan + filter, one |langs|-row aggregation; nothing
    * shuffles but the summary. */
  private def sampleImportance(s: SparkSession, d: String): DataFrame = {
    val u = expr("graft_hash60(cast(doc_id as string))")
      .cast("double") / lit(1.152921504606846976e18)
    val kept = col("u") < col("score")
    Llm.docs(s, d)
      .select(col("doc_id"), col("lang"),
        LlmQuality.qualityScore.as("score"), u.as("u"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        // deliberately NOT the exact-grid long-sum form (SCALE.md r12):
        // score is a continuous per-row composite, so an r4-boundary
        // coincidence is ~1e-7-improbable, while grid-flooring each
        // score would ADD a per-row cross-engine rounding hazard
        Det.r4(avg(col("score"))).as("target_rate"),
        Det.r4(sum(when(kept, 1.0).otherwise(0.0)) / count(lit(1)))
          .as("actual_rate"))
      .orderBy(col("lang"))
  }

  private val sampleImportanceSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
       |k AS (
       |  SELECT doc_id, lang,
       |         ${LlmQuality.qualityScoreSql("w")} AS score,
       |         ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT
       |           / 1152921504606846976.0 AS u
       |  FROM t)
       |SELECT lang, count(*) AS n_docs,
       |       sum(CASE WHEN u < score THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |       ${Det.sql4("avg(score)")} AS target_rate,
       |       ${Det.sql4(
            "sum(CASE WHEN u < score THEN 1.0 ELSE 0.0 END) / count(*)")}
       |         AS actual_rate
       |FROM k GROUP BY lang ORDER BY lang""".stripMargin

  // -------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_pack" -> (pack _),
    "q_llm_mixture" -> (mixture _),
    "q_llm_chunk" -> (chunk _),
    "q_llm_decontaminate_bloom" -> (decontaminateBloom _),
    "q_llm_kmeans" -> (kmeansStep _),
    "q_sample_stratified" -> (sampleStratified _),
    "q_llm_sample_importance" -> (sampleImportance _),
  )

  val oracles: Map[String, String] = Map(
    "q_llm_pack" -> packSql,
    "q_llm_mixture" -> mixtureSql,
    "q_llm_chunk" -> chunkSql,
    // exactness: the bloom is a pre-filter, not an approximation —
    // ground truth is the same exact-join SQL as q_llm_decontaminate
    "q_llm_decontaminate_bloom" -> LlmQuality.decontaminateSql,
    "q_llm_kmeans" -> kmeansSql,
    "q_sample_stratified" -> sampleStratifiedSql,
    "q_llm_sample_importance" -> sampleImportanceSql,
  )
}
