package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The public, column-parameterized library surface.
  *
  * The scored `SparkEntry.queries` prove every operator against the
  * DuckDB oracle on the test star schema; this facade is how a USER
  * calls the same engine code on their own frames — each method is a
  * thin adapter (boundary checks, rename user columns onto the
  * internal contract, call the ONE `ops` body its scored query runs,
  * rename back), so the facade and the scored queries can never
  * diverge in semantics. Everything scale-critical about the internals
  * (stats-driven local-vs-distributed graph strategy, data-sized loop
  * partitioning, checkpointed iteration, map-side combined
  * aggregation, degenerate-bucket caps) is inherited, not
  * reimplemented. Four deliberate exceptions keep separate code:
  *  - [[resampleGrid]] averages over non-NULL readings, where
  *    `TimeSeries.hourlyAvg`'s oracle divides by count(*);
  *  - `LlmExt.ivfTopKFrom` carries `cell` for AnnSpec's cost ladder;
  *  - `LlmExt.simAnnGrid` is AnnSpec's independent recall baseline;
  *  - q_graph_triangles is class-contracted, unlike [[triangleCounts]].
  *
  * Column arguments are names (not Columns) where the value must be
  * referenced on both sides of an internal self-join — the rename
  * happens once at the boundary, so user frames never need the
  * engine's internal column vocabulary.
  *
  * Id columns (graph nodes, document ids, vector ids) must be
  * LONG-CASTABLE — the internals key their joins, mins and structs on
  * longs. This contract is ENFORCED, not just documented: a non-null
  * id whose long cast comes back NULL raises at execution time with
  * the offending value, instead of silently corrupting clusters and
  * ranks. For string-keyed frames use [[withSurrogateIds]] first and
  * keep its mapping frame to translate back.
  */
object Graft {

  /** Fail fast when a user frame already contains a column name the
    * method is about to generate or append — `withColumn`/`drop` on a
    * clashing name would silently shadow or delete the user's data. */
  private def requireFresh(df: DataFrame, method: String,
                           reserved: String*): Unit = {
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"graft.$method: input frame already has column(s) " +
        s"${clash.mkString(", ")}, which this method generates " +
        "internally or appends to the output — rename them first")
  }

  /** Long cast with the id contract enforced map-side: a NON-NULL
    * value that casts to NULL (string key, uuid, …) raises with the
    * value instead of flowing through as NULL and corrupting joins.
    * `try_cast` so the SAME contract message fires under ANSI and
    * non-ANSI sessions alike. Zero extra jobs — the check rides
    * inside the existing scan. */
  private def longId(c: Column, method: String): Column = {
    val cast = c.try_cast("long")
    when(c.isNotNull && cast.isNull,
      raise_error(concat(
        lit(s"graft.$method: id value '"), c.cast("string"),
        lit("' is not long-castable — derive a surrogate first " +
          "(Graft.withSurrogateIds) and keep its mapping frame"))))
      .otherwise(cast)
  }

  /** String/arbitrary-keyed frames → the engine's long-id contract:
    * returns (the frame with an appended xxhash64 surrogate column,
    * the distinct (surrogate, original) mapping frame to translate
    * results back). The surrogate is content-derived, so it is stable
    * across retries, engines and runs — the same property the
    * engine's sampling keys rely on. 64-bit hashing means collisions
    * are birthday-bounded (~2^-64 per pair); for corpora in the many
    * billions of keys, pre-check with a distinct-count comparison of
    * the two columns before trusting cluster boundaries. */
  def withSurrogateIds(df: DataFrame, idCol: String,
                       surrogate: String = "graft_id")
      : (DataFrame, DataFrame) = {
    requireFresh(df, "withSurrogateIds", surrogate)
    // fail loud on a NULL key: xxhash64(NULL) returns the seed
    // constant, which would silently alias every null-keyed row to
    // ONE identity — the exact corruption the long-id contract exists
    // to prevent (review r12)
    val withId = df.withColumn(surrogate,
      when(col(idCol).isNotNull, xxhash64(col(idCol)))
        .otherwise(raise_error(lit(s"graft.withSurrogateIds: NULL $idCol " +
          "— a null key has no identity; filter or fill it first"))))
    (withId, withId.select(col(surrogate), col(idCol)).distinct())
  }

  /** Register the engine's native SQL functions (the
    * [[functions.GraftFunctions]] table) on a session that was not
    * built with `spark.sql.extensions=graft.GraftExtensions`. */
  def registerFunctions(s: SparkSession): Unit =
    _root_.graft.functions.GraftFunctions.register(s)

  /** Deterministically release the staged checkpoint blocks that
    * lazily-consumed operators (rank slicing, overlap split, the
    * distributed graph paths) leave in the block manager. Call at
    * pipeline boundaries in a long-lived session — every result you
    * intend to keep must be materialized first (a swept checkpoint
    * cannot be recomputed). Without a sweep, the GC-driven
    * ContextCleaner still reclaims the blocks, just at an unbounded
    * delay. Returns the number of checkpoints released. */
  def sweepStaged(): Int = _root_.graft.ops.Staged.sweep()

  // ------------------------------------------------------------------ graph

  /** Connected components over an undirected edge list — the dedup
    * clustering core (q_llm_dedup_cc). Input: any frame with two id
    * columns; output: one row per node, `(id, cluster, cluster_size)`
    * with `cluster` = the component's minimum id. Inherits the
    * checkpointed star-contraction loop with data-sized partitions;
    * at most O(diameter) rounds of two shuffles each. */
  def connectedComponents(edges: DataFrame, src: String, dst: String)
      : DataFrame =
    ops.LlmPipe.withStaged(
        edges.select(longId(col(src), "connectedComponents").as("da"),
          longId(col(dst), "connectedComponents").as("db")))(
        st => ops.LlmPipe.dedupCcLoop(st.df))
      .withColumnRenamed("doc_id", "id")

  /** One damped PageRank pass (d = 0.85) over an undirected edge
    * list: `(id, rank)`. The node-count scalar rides in as a 1-row
    * broadcast — never a window over the node set. */
  def pageRank(edges: DataFrame, src: String, dst: String): DataFrame =
    ops.LlmPipe.pagerankOver(
        edges.select(longId(col(src), "pageRank").as("da"),
          longId(col(dst), "pageRank").as("db")))
      .withColumnRenamed("doc_id", "id")

  /** Iterated PageRank to a fixpoint probe: `(ranks, massPerIter)`.
    * Ranks are r6-discretized each round, so iteration is
    * deterministic across partitionings. */
  def pageRankConverged(edges: DataFrame, src: String, dst: String,
                        iters: Int = 12): (DataFrame, Seq[Double]) = {
    val (ranks, masses) = ops.LlmPipe.withStaged(
        edges.select(longId(col(src), "pageRankConverged").as("da"),
          longId(col(dst), "pageRankConverged").as("db")))(
        st => ops.LlmPipe.pagerankConvOver(st.df, iters))
    (ranks.withColumnRenamed("doc_id", "id"), masses)
  }

  /** Per-node triangle statistics over an undirected edge list:
    * `(id, degree, n_triangles)` for every node with at least one
    * edge — the local-clustering signal q_graph_triangles uses to
    * grade dedup clusters (triangle-dense ⇒ clique-like mutual
    * near-dups; triangle-free chains ⇒ borderline transitive
    * merges). Any orientation, duplicate edges and self-loops
    * tolerated (canonicalized away). Oriented "forward" wedge
    * algorithm — each triangle counted exactly once. The orientation
    * order is picked automatically by the `triangle` [[Gate]] on an
    * exact degree probe: id order on flat graphs, (degree, id) order
    * once the max degree passes 4·√m — which caps wedge volume at
    * O(m^1.5) instead of hub-quadratic, so skewed graphs need no
    * manual relabeling. */
  def triangleCounts(edges: DataFrame, src: String, dst: String)
      : DataFrame =
    ops.LlmPipe.triangleCountsOver(
        edges.select(longId(col(src), "triangleCounts"),
          longId(col(dst), "triangleCounts")))
      .withColumnRenamed("node", "id")

  // ------------------------------------------------------------------ joins

  /** As-of join: every `left` row joined to the LATEST `right` row
    * with `rightTime` at-or-before its `leftTime` under the same
    * `key` — appended as a nullable `asof_match` struct of the right
    * row's columns. One shuffle on the key (union-both-sides + a
    * single window pass), never the O(left × right) range-join
    * blowup. Keep `(key, rightTime)` unique on the right side for a
    * fully deterministic match at colliding instants. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String): DataFrame = {
    requireFresh(left, "asofJoin", "asof_match")
    ops.Relational.asofOver(left, right, key, leftTime, rightTime)
  }

  /** Top k rows per group, ordered by `order` (append tie-break
    * columns to make the cut deterministic). The shuffle is bounded by
    * k·|groups| per map task regardless of skew, for k ≤
    * `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000);
    * a larger k plans the plain window (correct, unbounded). */
  def topKPerGroup(df: DataFrame, keys: Seq[Column], order: Seq[Column],
                   k: Int): DataFrame = {
    // collision-proof temp name: first __graft_rankN the frame lacks
    val rank = Iterator.from(0).map(i => s"__graft_rank$i")
      .find(n => !df.columns.contains(n)).get
    ops.Relational.topKOver(df, keys, order, k, rank).drop(rank)
  }

  // ------------------------------------------------------------------ dedup

  /** LSH-style blocking: group by `keys` (band hashes, IVF cells,
    * simhash bands — anything), emit each bucket's member pairs
    * `(da, db)` with `da < db`. The standard candidate-generation
    * step of every near-dup family; a degenerate bucket (> 1024
    * members) fails loudly instead of exploding quadratically —
    * collapse exact-duplicate content to one representative first
    * (see q_llm_dedup_fuzzy's class collapse) if you hit it. */
  def candidatePairs(df: DataFrame, keys: Seq[Column], member: Column)
      : DataFrame =
    ops.Llm.bucketPairs(df, keys, member)
      .withColumnRenamed("x", "da").withColumnRenamed("y", "db")

  /** MinHash-LSH near-duplicate pairs over any (id, text) frame — the
    * full q_llm_dedup_fuzzy pipeline (exact-content class collapse →
    * 12 seeded minhashes over one rep per class → 4 bands × r=3 →
    * bucket join → exact shingle-set Jaccard verification → member
    * re-expansion): `(da, db, jaccard)` with `da < db` and jaccard ≥
    * `minJaccard`. Candidate cost tracks DISTINCT-content geometry —
    * verbatim duplication (heavy in every crawl corpus) adds output
    * rows, not verification work. */
  def nearDuplicatePairs(docs: DataFrame, id: String, text: String,
                         minJaccard: Double = 0.5): DataFrame = {
    registerFunctions(docs.sparkSession)
    ops.Llm.fuzzyPairsOver(
      docs.select(longId(col(id), "nearDuplicatePairs").as("doc_id"),
        col(text).as("text")),
      minJaccard)
  }

  /** [[nearDuplicatePairs]] composed with [[connectedComponents]]:
    * one row per document that belongs to a near-dup cluster,
    * `(id, cluster, cluster_size)` — pick `min(id)` per cluster as
    * the keeper and anti-join the rest away for the classic corpus
    * dedup stage (q_llm_dedup_apply's shape). */
  def nearDuplicateClusters(docs: DataFrame, id: String, text: String,
                            minJaccard: Double = 0.5): DataFrame =
    connectedComponents(
      nearDuplicatePairs(docs, id, text, minJaccard), "da", "db")

  /** Train/eval decontamination (the GPT-3 appendix-C / Dolma stage)
    * over two user frames: every (train_id, eval_id) pair sharing at
    * least one verbatim word `gramWidth`-gram, with the shared-gram
    * count. The physical shape is q_llm_decontaminate's — benchmarks
    * are tiny, so the eval gram index BROADCASTS and the training
    * corpus streams once map-side against it; no shuffle touches the
    * corpus until the post-join pair aggregation. */
  def decontaminate(train: DataFrame, eval: DataFrame, id: String,
                    text: String, gramWidth: Int = 8): DataFrame = {
    registerFunctions(train.sparkSession)
    def grams(df: DataFrame, as: String) =
      df.select(longId(col(id), "decontaminate").as(as),
          col(text).as("__t"))
        .select(col(as),
          explode(ops.LlmQuality.ngramHashes("__t", gramWidth)).as("h"))
    ops.LlmQuality.sharedGramPairs(grams(train, "train_id"),
      grams(eval, "eval_id"))
  }

  /** Distinct 64-bit hashes of the word `width`-grams of a text
    * column — the exact-set-similarity token stage (q_llm_dedup_ngram).
    * Needs [[registerFunctions]] (or the GraftExtensions session
    * config): backed by the native `graft_ngrams` expression, one
    * pass over the string bytes, primitive long[] out. */
  def ngramHashes(textCol: String, width: Int): Column =
    ngramHashes(col(textCol), width)

  /** Column form — the name overload resolves via `col`, so both
    * treat the argument as an identifier, never as SQL text. */
  def ngramHashes(text: Column, width: Int): Column =
    ops.LlmQuality.ngramHashesOf(text, width)

  /** SemDeDup (semantic dedup, Abbas et al. 2023) over any
    * (id, vector) frame: clusters vectors into IVF cells, scores each
    * against its cell centroid, and DROPS the HIGHER-cos-to-centroid
    * member of every in-cell pair with cosine ≥ `minCosine` (exact
    * ties toward the higher id) — keeping the least prototypical
    * example per redundant group, the paper's rule. Returns the DROP
    * set
    * `(vec_id, cell, cos_centroid)` — anti-join it away, or call
    * [[semanticDedupApply]]. Inherits q_llm_semdedup's contracted
    * shape: pair geometry runs once per DISTINCT vector with member
    * re-expansion by class algebra, so verbatim-duplicated embeddings
    * (the norm in crawl corpora) add output rows, not quadratic pair
    * work; the in-cell join is co-partitioned on cell, never n²
    * across cells. */
  def semanticDedup(vectors: DataFrame, id: String, vec: String,
                    minCosine: Double = 0.35): DataFrame = {
    registerFunctions(vectors.sparkSession)
    ops.LlmExt.semdedupOver(
      vectors.select(longId(col(id), "semanticDedup").as("vec_id"),
        transform(col(vec), x => x.cast("double")).as("e")),
      minCosine)
  }

  /** [[semanticDedup]], applied: the input frame minus the dropped
    * rows — one survivor per group of semantically-redundant vectors,
    * all other columns untouched. */
  def semanticDedupApply(vectors: DataFrame, id: String, vec: String,
                         minCosine: Double = 0.35): DataFrame = {
    val drops = semanticDedup(vectors, id, vec, minCosine)
      .select(col("vec_id").as("__drop"))
    vectors.join(drops, vectors(id).cast("long") === drops("__drop"),
      "left_anti")
  }

  // ------------------------------------------------------------- similarity

  /** Exact brute-force cosine top-k: for each row of `queries`
    * (BOUNDED — it is broadcast; the scale path for an unbounded
    * query side is [[ivfTopK]]), the k highest-cosine rows of
    * `corpus`. Vector columns are arrays of numerics. Output:
    * `(query_id, rank, match_id, cos_sim)` with a discretized-cosine
    * + id tie-break so row order can't flip on a last-ulp
    * disagreement. Zero-norm vectors (no direction) are dropped. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, id: String,
                 vec: String, k: Int): DataFrame = {
    registerFunctions(queries.sparkSession)
    ops.Llm.cosineTopKOver(
      queries.select(col(id).as("query_id"), col(vec).as("qe")),
      corpus.select(col(id).as("match_id"), col(vec).as("ce")), k)
  }

  /** Trained-IVF approximate nearest neighbour — the scale path when
    * the query side is too large to broadcast for [[cosineTopK]]:
    * one frame holding queries AND corpus (`isQuery` marks the query
    * rows), a ≤32-cell codebook grid-seeded and refined by one Lloyd
    * iteration over the frame, each query probing its `nprobe`
    * nearest cells with exact cosine rerank inside. Every pass is one
    * corpus scan against the broadcast codebook; the probe join
    * touches ~nprobe/cells of the corpus. Recall rises with `nprobe`
    * (AnnSpec's measured ladder); q_llm_sim_ann is this same code on
    * the test embeddings. */
  def ivfTopK(vectors: DataFrame, id: String, vec: String,
              isQuery: Column, k: Int, nprobe: Int = 2): DataFrame = {
    registerFunctions(vectors.sparkSession)
    ops.LlmExt.ivfTopKOver(
      vectors.select(longId(col(id), "ivfTopK").as("vec_id"),
        transform(col(vec), x => x.cast("double")).as("e"),
        isQuery.as("qf")),
      k, nprobe)
  }

  // ------------------------------------------------------------------ text

  /** Marker-word language-ID heuristic over a text column (fixed
    * priority ladder de → fr → es → zh → en → und) — q_llm_lang_id's
    * predictor. Pure map-side expression; swap in an n-gram model's
    * scores for production-grade ID, the plumbing is identical. */
  def languageId(text: Column): Column =
    ops.LlmExt.langIdOf(text)

  /** BPE token-count estimate over a text column: GPT-2-shape
    * pre-tokenization (letter/digit/punctuation runs) with the
    * ~4-chars-per-token budgeting rule per pre-token — the standard
    * estimate when the merge table isn't at hand (q_llm_tokenize's
    * n_bpe_est). Pure map-side expression. */
  def tokenCountEstimate(text: Column): Column =
    ops.LlmExt.bpeTokenEstimate(text)

  /** Composite quality score in [0, 1] over a text column (length,
    * type-token ratio, stopword ratio — the C4/Gopher-style corpus
    * filter of q_llm_quality). Pure map-side expression. */
  def qualityScore(text: Column): Column =
    ops.LlmQuality.qualityScoreOf(text)

  /** URL canonicalization (fragment / www / utm / trailing-slash
    * normalization) — q_llm_dedup_url's key derivation. */
  def canonicalUrl(url: Column): Column =
    ops.LlmQuality.canonicalizeUrl(url)

  /** Default [[scrubPii]] patterns: RE2-∩-Java syntax only (character
    * classes, +, {m,n} — no lookarounds), the q_llm_pii discipline,
    * so the same automaton compiles on any engine the corpus is later
    * audited with. */
  val DefaultPiiPatterns: Seq[(String, String)] = Seq(
    "EMAIL" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "PHONE" -> "\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}")

  /** Regex PII redaction over a user text column: each pattern's
    * matches are replaced by `[NAME]` in order, and a `pii_counts` map
    * column records how many matches of each pattern were scrubbed.
    * Pure map-side codegen'd expression chain — at 100 TB this fuses
    * into whatever pass already reads the text; no shuffle, no UDF.
    * Run BEFORE dedup: two docs differing only in contact details
    * become verbatim-equal once scrubbed, and the dedup stages then
    * collapse them (the composition GraftPipelineSpec pins). */
  def scrubPii(docs: DataFrame, text: String,
               patterns: Seq[(String, String)] = DefaultPiiPatterns)
      : DataFrame = {
    require(patterns.nonEmpty, "graft.scrubPii: no patterns given")
    requireFresh(docs, "scrubPii", ops.LlmPipe.scrubColumns(patterns): _*)
    ops.LlmPipe.scrubOver(docs, text, patterns)
  }

  /** Per-domain document capping — the crawl-bias control: keep at
    * most `cap` rows per `domain` value, chosen by the portable 60-bit md5
    * key-hash rank over `id`, so re-runs, engines and retries keep
    * the SAME uniform-random subset (a seeded RNG agrees on none of
    * those). Planned like [[topKPerGroup]]: a billion-page host
    * costs the shuffle of a ten-page one. NULL ids raise (a null key
    * has no rank). */
  def capPerDomain(docs: DataFrame, id: String, domain: String,
                   cap: Int): DataFrame = {
    require(cap > 0, "graft.capPerDomain: cap must be > 0")
    requireFresh(docs, "capPerDomain", "__rn")
    registerFunctions(docs.sparkSession)
    ops.LlmQuality.hashCapOver(docs, id, domain, cap, "__rn").drop("__rn")
  }

  /** GPT-style sequence packing: concatenate documents in `id` order
    * within each `streams` cell and cut the token stream every
    * `chunkTokens` tokens; each row gains a `chunk` column — the
    * zero-based chunk holding the document's first token. Group the
    * result by (streams, chunk) for the packer manifest. `streams` IS
    * the scale knob: an empty seq runs one global prefix-sum window;
    * production shards into ~partition-sized streams, e.g.
    * `Seq(col("lang"), pmod(col("id"), lit(64)))`. A NULL token count
    * raises. */
  def packSequences(docs: DataFrame, id: String, nTokens: Column,
                    chunkTokens: Int,
                    streams: Seq[Column] = Nil): DataFrame = {
    require(chunkTokens > 0, "graft.packSequences: chunkTokens must be > 0")
    requireFresh(docs, "packSequences", "chunk")
    ops.LlmTrain.chunkOver(docs, id, nTokens, chunkTokens, streams)
  }

  // ------------------------------------------------------- dedup apply

  /** Keep only the rows of `docs` whose `id` appears in
    * `keepers(keeperId)` — the semi-join materialization step that
    * CONSUMES any dedup stage's keeper set (q_llm_dedup_apply's
    * shape). Broadcast when the keeper set is small; a key-partitioned
    * shuffle semi-join at corpus scale — AQE picks. No second pass
    * over the payload columns either way. */
  def applyKeepers(docs: DataFrame, id: String,
                   keepers: DataFrame, keeperId: String): DataFrame =
    docs.join(keepers, docs(id) === keepers(keeperId), "left_semi")

  /** Exact-content dedup, applied: keep the minimum-`id` row per
    * identical `text` value, dropping the other verbatim copies.
    * Groups on the 256-bit content digest, so the shuffle carries
    * 32 bytes per row instead of the document text; `id` can be any
    * orderable type (min picks the keeper). */
  def dedupExact(docs: DataFrame, id: String, text: String): DataFrame = {
    // NULL text is UNKNOWN content, not identical content: sha2(NULL)
    // is NULL and a plain groupBy would collapse every null-text row
    // into one group, keeping a single survivor — silent data loss
    // (review r12). Null-text rows are each their own keeper.
    val k = docs
      .select(col(id).as("__gid"), sha2(col(text).cast("string"), 256).as("__h"))
      .filter(col("__h").isNotNull)
      .groupBy(col("__h")).agg(min(col("__gid")).as("__keep"))
      .select(col("__keep"))
      .unionByName(docs.filter(col(text).isNull).select(col(id).as("__keep")))
    applyKeepers(docs, id, k, "__keep")
  }

  /** [[nearDuplicateClusters]], applied: drop every clustered
    * document except its cluster's minimum-id representative —
    * verbatim AND near-duplicate copies collapse to one survivor.
    * Cluster labels ARE the min member id, so the drop set is just
    * the members that aren't their own label; unclustered docs pass
    * through untouched via the anti-join. */
  def nearDuplicateApply(docs: DataFrame, id: String, text: String,
                         minJaccard: Double = 0.5): DataFrame = {
    val losers = nearDuplicateClusters(docs, id, text, minJaccard)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("__drop"))
    docs.join(losers, docs(id).cast("long") === losers("__drop"),
      "left_anti")
  }

  // ------------------------------------------------------------ resampling

  /** Regular-grid resampling of an irregular (series, time, value)
    * log — the q_ts_gapfill / q_ts_interp spine on a user frame:
    * buckets `timeUs` (epoch µs) onto the `stepUs` grid, averages
    * `value` per cell (`avg_val`, r4), then emits each series' DENSE
    * grid from its first to last observed cell with `n_obs`,
    * `avg_val` (null in gaps), `ff_val` (last observation carried
    * forward) and `interp_val` (linear between neighbors, edge
    * fallback). The heavy input collapses to |series × cells| rows at
    * the first aggregation; the spine derives from each series' own
    * bounds (no calendar cartesian); both fill directions share one
    * series-partitioned exchange. */
  def resampleGrid(df: DataFrame, series: String, timeUs: String,
                   value: String, stepUs: Long): DataFrame = {
    require(stepUs > 0, s"graft.resampleGrid: stepUs must be > 0")
    requireFresh(df, "resampleGrid",
      "bucket_us", "n_obs", "avg_val", "ff_val", "interp_val")
    // a TIMESTAMP cast to long yields epoch SECONDS, which would be
    // bucketed as if they were µs — every observation for months in
    // one cell, silently (review r12). Demand the integral µs form.
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType)
        .contains(df.schema(timeUs).dataType),
      s"graft.resampleGrid: $timeUs must be an epoch-µs integral " +
        s"column (got ${df.schema(timeUs).dataType.simpleString}) — " +
        "convert timestamps with unix_micros() first")
    val buckets = df
      .select(col(series),
        // floor-to-grid in pure long arithmetic: t - pmod(t, step) ==
        // floor(t/step)*step for any sign of t, with no double
        // division (which is only exact for |t| < 2^53)
        (col(timeUs).cast("long") -
          pmod(col(timeUs).cast("long"), lit(stepUs))).as("bucket_us"),
        // exact-grid average (the q_ts_gapfill/interp convention):
        // avg(double) is summation-order-dependent and the order is
        // scheduling-dependent, so a cell mean near an r4 boundary
        // would flip between runs; the 1e-6-grid long sum is exact.
        // gridN is the shared raise-don't-wrap guard: NULLs pass
        // through (absent from the mean, like avg's), |value| > 1e6
        // raises; with the ≤ 9.2e6-observations-per-cell guard below,
        // |Σ per-cell value·1e6| stays within Long.
        ops.TimeSeries.gridN(col(value).cast("double"), 1e6, 1e6,
          "resampleGrid").as("__v6"))
      .groupBy(col(series), col("bucket_us"))
      .agg(count(lit(1)).as("n_obs"),
        // divide by the NON-NULL count (avg semantics); the cell-size
        // guard closes the long-sum domain before a value is emitted
        ops.Det.r4(sum(col("__v6")).cast("double") / 1e6 /
          count(col("__v6"))).as("avg_val"))
      .select(col(series), col("bucket_us"),
        when(col("n_obs") <= lit(9200000L), col("n_obs"))
          .otherwise(raise_error(concat(
            lit("graft resampleGrid: series "), col(series).cast("string"),
            lit(" has a grid cell with more than 9.2e6 observations — " +
              "outside the exact-arithmetic domain; pre-aggregate or " +
              "use a finer step")))).as("n_obs"),
        col("avg_val"))
    ops.TimeSeries.gridSpineOver(buckets, series, "bucket_us", "avg_val",
        stepUs)
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
  }

  // ------------------------------------------------------- event analytics

  /** Linearly-weighted moving average over the trailing `width`+1
    * rows per series, appended as a `wma` column. `order` (plus
    * `tiebreak`) must be a total order within a series — pass the
    * event id; real logs collide on timestamps constantly. One
    * shuffle on the series key, O(1) state per row (the weighted sum
    * decomposes into plain frame sums — exact at any scale). */
  def weightedMovingAverage(df: DataFrame, series: String, order: String,
                            value: String, width: Int,
                            tiebreak: Seq[String] = Nil): DataFrame = {
    requireFresh(df, "weightedMovingAverage",
      "wma", "rn", "v4w", "s1", "s0", "c", "swr", "nn")
    ops.TimeSeries.wmaOver(df, series, order, value, width, tiebreak)
  }

  /** Gaps-and-islands sessionization: appends a per-`user`
    * `session_id` (1-based) that increments wherever consecutive
    * `timeUs` values (µs epoch) are ≥ `gapUs` apart. `timeUs` plus
    * `tiebreak` must totally order a user's events — pass the event
    * id; collisions are the rule in real logs. One shuffle on the
    * user key, which a per-session `groupBy(user, "session_id")`
    * downstream reuses. */
  def sessionize(events: DataFrame, user: String, timeUs: String,
                 tiebreak: Seq[String], gapUs: Long): DataFrame = {
    requireFresh(events, "sessionize", "session_id", "brk")
    // fail loud on NULL times: they sort first in the user partition
    // and make lag() NULL for their successor, silently opening a new
    // session at every null row (review r12)
    ops.Reshape.sessionIdsOver(
      events.withColumn(timeUs,
        when(col(timeUs).isNotNull, col(timeUs))
          .otherwise(raise_error(concat(
            lit(s"graft.sessionize: NULL $timeUs for user "),
            coalesce(col(user).cast("string"), lit("<null>")),
            lit(" — a session boundary needs a time; filter or fill " +
              "null timestamps first"))))),
      user, timeUs, tiebreak, gapUs)
  }

  /** Strictly-ordered funnel over an event stream: for each user the
    * step-k anchor is their first step-k event strictly after their
    * step-(k−1) anchor; output is `(depth, n_users, n_reached,
    * conversion)` per funnel depth. One aggregation per step, all on
    * the user key. */
  def funnel(events: DataFrame, user: String, step: String, time: String,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty,
      "graft.funnel: steps must name at least one funnel stage")
    ops.Reshape.funnelOver(
      events.select(col(user).as("user_id"), col(step).as("event_type"),
        col(time).cast("long").as("tus")), steps)
  }
}
