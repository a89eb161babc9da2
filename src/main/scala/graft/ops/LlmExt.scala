package graft.ops

import scala.jdk.CollectionConverters._

import graft.{Query, QueryModule, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

/** Extended LLM-training-data operators (driver brief: dedup family
  * beyond MinHash, ANN scale path, text analysis, multimodal decode):
  * SimHash near-dup, embedding-cosine near-dup scoped to cells,
  * IVF-style bucketed ANN, language-ID heuristic, winnowing document
  * fingerprints, and a typed mapPartitions media-decode boundary.
  *
  * Cross-engine portability rule for anything hash-dependent: the only
  * hash both engines compute identically is md5, so word/gram hashes
  * are the first 15 hex digits of md5 parsed as a 60-bit integer —
  * pure integer arithmetic after that, bit-identical in Spark and
  * DuckDB.
  */
object LlmExt extends QueryModule {

  /** Portable 60-bit hash: md5 hex prefix → BIGINT. Spark side —
    * the NATIVE [[graft.functions.Hash60]] expression (digest bytes →
    * long directly; Hash60Spec pins equality with the
    * conv(substring(md5(x),1,15),16,10) chain every oracle runs).
    * The chain form this replaced materialized a 32-char hex string
    * and base-16-parsed 15 digits PER WORD — the dominant term of the
    * simhash fingerprint stage that feeds six scored queries. The
    * session must carry the graft functions: `graft.GraftExtensions`
    * injects them, `Graft.registerFunctions` adds them otherwise. */
  private def h60(c: Column): Column =
    call_function("graft_hash60", c.cast("string"))
  /** The identical DuckDB rendering. */
  private def h60Sql(e: String): String =
    s"('0x' || substring(md5($e), 1, 15))::BIGINT"

  // ---------------------------------------------------- q_llm_dedup_simhash

  private val SimBits = 64

  /** SimHash near-dup detection with EXACT banding recall: 64-bit
    * fingerprints (sign of per-bit sums of ±1 word-hash contributions,
    * term-frequency weighted), split into 4×16-bit bands. A pair at
    * Hamming distance ≤ 3 differs in ≤ 3 bands, so by pigeonhole at
    * least one band matches → the band self-join provably yields every
    * qualifying pair (no probabilistic recall argument needed, unlike
    * MinHash banding). Verification = bit_count(xor) ≤ 3.
    * Scale shape: one explode + one map-side-combined groupBy for the
    * fingerprints; candidates from byte-bucket joins, never n². */
  /** The (doc_id, fp) fingerprint frame — the corpus-scale scan both
    * the scored pair query and the class-graph accessor below start
    * from. Lazy-checkpointed: every consumer reuses the one
    * materialization of the 64-sum fingerprint aggregation. */
  private def simhashFps(s: SparkSession, d: String): DataFrame = {
    // hash each word ONCE in a projection below the aggregation: the
    // 64 per-bit sums all reference the same md5-derived hash, and
    // inlining it into 64 aggregate-update expressions leaves the
    // dedup to codegen subexpression elimination inside HashAggregate
    // — a named column makes the single evaluation structural (this
    // prelude feeds six scored queries; its cost is ~10 executor-CPU-s
    // per query at sf0.1).
    val wh = col("wh")
    // Lane-packed bit counting (r15): `(wh >> k) & 0x1_0000_0001` pulls
    // bit k into lane 0 and bit k+32 into lane 32 with ONE shift + ONE
    // mask, so 32 packed sums + one count replace the previous 64
    // branchy ±1 CASE sums — half the aggregation buffers, and each
    // update is straight-line long arithmetic (this aggregation was
    // the top executor-CPU stage of all six simhash-graph consumers:
    // 5–9 CPU-s per query at sf0.1). No lane carries or overflows:
    // c_k ≤ n, the length of one doc's `split` array, and a JVM array
    // holds at most 2^31 − 1 (the strict bound matters: separator-only
    // text gives n empty tokens sharing every bit), so lane 0 < 2^32,
    // lane 32 < 2^31 and the packed sum < 2^63. SimhashFpFormSpec pins
    // bit-identity against the ±1 formulation.
    val lanes = (0 until SimBits / 2).map(k =>
      sum(shiftright(wh, k).bitwiseAND(lit(0x0000000100000001L)))
        .as(s"s$k"))
    val fp = (0 until SimBits).map { k =>
      val c = if (k < 32) col(s"s$k").bitwiseAND(lit(0xFFFFFFFFL))
        else shiftrightunsigned(col(s"s${k - 32}"), 32)
      // bit k = sign of the old ±1 sum: c_k voted +1, (n − c_k) voted
      // −1, so s_k_old = 2·c_k − n and s_k_old ≥ 0 ⟺ 2·c_k ≥ n —
      // identical integer arithmetic, no FP involved
      when(c * 2 >= col("nw"), lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
    Llm.docs(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"), h60(col("word")).as("wh"))
      .groupBy(col("doc_id"))
      .agg(lanes.head, (lanes.tail :+ count(lit(1)).as("nw")): _*)
      .select(col("doc_id"), fp.as("fp"))
      .transform(Staged.checkpointLazy)
  }

  /** CLASS-CONTRACTED view of the simhash near-dup graph, for the
    * iterative graph family (LlmPipe's CC/keeper): verbatim duplicates
    * share a fingerprint, so connectivity questions are answered on
    * one node per DISTINCT fingerprint and members re-expand only at
    * output time — iterative cost becomes duplication-invariant (the
    * scored pair list is inherently quadratic in duplication; the
    * graph algorithms on top of it are not, and re-expanding just to
    * re-contract made them so).
    * Returns (classes, classEdges):
    *   classes    = (rep, ids, m): one row per fingerprint class —
    *                sorted member ids, rep = min member, m = |ids|
    *   classEdges = (ra, rb): rep pairs at fp hamming 1..3 (hamming-0
    *                never crosses classes by construction; intra-class
    *                connectivity is implied by the class itself)
    * The expanded pair graph is exactly: the m≥2 classes' member
    * cliques ∪ the complete bipartite expansion of every class edge —
    * the identity dedupSimhash's scored output materializes and
    * SimhashDupSpec pins. */
  private[graft] def simhashClassGraph(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val classes = Llm.classesOf(simhashFps(s, d), Seq(col("fp")), col("doc_id"))
      .transform(Staged.checkpointLazy)
    val classEdges = bandedClassPairs(classes, "rep")
      .select(col("x").as("ra"), col("y").as("rb"))
    (classes.select(col("rep"), col("ids"), col("m")), classEdges)
  }

  /** Class pairs at fingerprint hamming 1..3, found by banding each
    * class's `fp` into 4×16-bit keys: a pair at Hamming distance ≤ 3
    * differs in ≤ 3 bands, so one band matches (pigeonhole recall, an
    * fp-level argument the class collapse leaves untouched). The
    * `payload` column rides through the buckets and comes out as
    * (`x`, `y`, `hamming`); hamming 0 never crosses classes. */
  private def bandedClassPairs(classes: DataFrame, payload: String)
      : DataFrame = {
    val bands = classes.select(col("fp"), col(payload),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"),
          shiftright(col("fp"), 16 * b).bitwiseAND(lit(65535L)).as("k"))): _*))
        .as("bk"))
      .select(col("fp"), col(payload), col("bk.b"), col("bk.k"))
    Llm.bucketPairs(bands, Seq(col("b"), col("k")),
        struct(col("fp"), col(payload)))
      .select(col(s"x.$payload").as("x"), col(s"y.$payload").as("y"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** q_llm_dedup_simhash's pair set — the expanded graph the
    * distributed side of the iterative graph queries (LlmPipe) loops
    * over, so every operator shares one definition of "near-duplicate
    * pair". Class kit collapse per fingerprint (the composition the
    * bucketPairs guard message prescribes); the bands carry each
    * class's member list, so the re-expansion needs no join back. */
  private[graft] def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    val groups = Llm.classesOf(simhashFps(s, d), Seq(col("fp")), col("doc_id"))
    // Branch 1 — hamming-0 pairs: every member pair of one fingerprint
    // class (capped at MaxBucket: beyond that the prescribed collapse
    // is q_llm_dedup_exact/apply)
    val identical = groups.filter(col("m") > 1)
      .select(explode(Llm.classPairs(col("ids"), Seq(col("fp")))).as("p"))
      .select(col("p.x").as("da"), col("p.y").as("db"), lit(0L).as("hamming"))
    // Branch 2 — cross-class pairs over the distinct fingerprints
    val cross = bandedClassPairs(groups, "ids")
      // fan the m×n re-expansion out BEFORE the explodes: the class-
      // pair frame is post-aggregation small (AQE coalesces it to ~2
      // partitions by input bytes), but each row explodes to
      // |xs|·|ys| output rows that feed six downstream graph
      // consumers — without the spread the whole expansion serializes
      // onto those 2 tasks (measured 8.5 s of a 42 s sf3 keeper run).
      // One tiny round-robin exchange buys output-proportional
      // parallelism — the T.par rationale, post-aggregation.
      .repartition(s.sparkContext.defaultParallelism)
      .transform(Llm.expandClassPairs(_, "x", "y", "da", "db", "hamming"))
    identical.unionByName(cross).orderBy(col("da"), col("db"))
  }

  /** The fingerprint CTE chain (`tok`/`sums`/`fps`) shared by the
    * simhash oracle and the connected-components oracle in LlmPipe. */
  private[ops] val simhashFpsCtes: String = {
    val sums = (0 until SimBits).map(k =>
      s"sum(CASE WHEN (wh >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS s$k")
      .mkString(",\n      ")
    val fp = (0 until SimBits).map(k =>
      s"CASE WHEN s$k >= 0 THEN ${1L << k} ELSE 0 END").mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, ${h60Sql("unnest(string_split(text, ' '))")} AS wh
       |  FROM documents),
       |sums AS (
       |  SELECT doc_id,
       |      $sums
       |  FROM tok GROUP BY doc_id),
       |fps AS (SELECT doc_id, $fp AS fp FROM sums)""".stripMargin
  }

  private val dedupSimhashSql =
    s"""WITH $simhashFpsCtes
       |SELECT a.doc_id AS da, b.doc_id AS db,
       |       bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
       |FROM fps a JOIN fps b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= 3
       |ORDER BY da, db""".stripMargin

  // --------------------------------------------------- shared IVF cell grid

  /** Deterministic 32-cell IVF grid assignment, shared by q_llm_sim_ann
    * and q_llm_dedup_embed: 2·argmax|v[1..16]| + sign of that component.
    * A trained k-means codebook in production; a fixed grid here so the
    * DuckDB oracle can replicate the assignment exactly. */
  private def ivfCell(e: Column): Column = {
    val head = slice(e, 1, 16)
    val absH = transform(head, abs(_))
    val amax = array_position(absH, array_max(absH))
    (amax * 2 +
      when(element_at(head, amax.cast("int")) >= 0, 1).otherwise(0))
      .cast("long")
  }

  // ------------------------------------------------------ codebook kit
  //
  // Shared by q_llm_sim_ann's IVF training and probing
  // (ivfCandidatesOver), q_llm_kmeans (LlmTrain.kmeansStep) and
  // q_llm_semdedup's per-cell centroids: [[trainCodebook]] computes a
  // codebook on the driver and [[codeDistances]] folds a row's vector
  // over it.

  /** One codebook round: the r6-rounded mean of the vector column `e`
    * for every value of the `key` column of `frame`, returned as a
    * literal `array<struct<key, cv>>` sorted by key (a null key
    * first), the `cbook` that [[codeDistances]] reads. It runs when
    * it is called, as ONE `mapPartitions` job: each task returns its
    * per-key, per-dimension sums and the driver merges them in
    * partition-index order, so every run and every task retry
    * produces the same doubles (`RDD.aggregate` and `treeAggregate`
    * merge in task-completion order), then divides and rounds with
    * [[Det.r6d]]. This is how MLlib's KMeans and faiss-style IVF train
    * (Johnson et al. 2017): each round costs one job and no exchange,
    * and the next round's assignment reads the previous codebook as a
    * constant. Driver memory per round: partitions × keys × dim ×
    * 17 B (a double sum, a long weight and a flag per slot).
    *
    * The arithmetic is that of `avg(x)` per (key, dimension) after a
    * posexplode, or with `weight` that of `sum(x * w) / sum(w)`:
    *  - a null or empty vector adds nothing, so a key with no
    *    component has no entry;
    *  - a null component is skipped in its dimension; a dimension with
    *    no value is NULL;
    *  - vectors of different lengths are averaged per position, and
    *    `cv` is as long as the key's longest vector;
    *  - weighted, `sum(w)` counts every row whose vector reaches the
    *    dimension, null component or not, and a null weight adds
    *    nothing.
    * TrainCodebookSpec pins both forms against those aggregates. */
  private[graft] def trainCodebook(frame: DataFrame, key: String,
                                   weight: Option[Column] = None): Column = {
    val keyType = frame.schema(key).dataType
    val weighted = weight.isDefined
    val parts = frame
      .select(col(key), col("e"), weight.getOrElse(lit(1L)).cast("long"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val acc = new java.util.HashMap[Any, CodeSums]()
        rows.foreach { r =>
          val n = if (r.isNullAt(1)) 0 else r.getArray(1).numElements()
          if (n > 0) {
            val k = if (r.isNullAt(0)) null
              else InternalRow.copyValue(r.get(0, keyType))
            val sums = acc.computeIfAbsent(k, _ => new CodeSums)
            sums.reach(n)
            if (!r.isNullAt(2)) sums.add(r.getArray(1), r.getLong(2), weighted)
          }
        }
        Iterator(acc.asScala.toArray)
      }
      .collect()
    val merged = new java.util.HashMap[Any, CodeSums]()
    for (part <- parts; (k, sums) <- part)
      merged.computeIfAbsent(k, _ => new CodeSums).merge(sums)
    val entries = merged.asScala.toArray
      .sortBy { case (k, _) => Option(k) }(
        Ordering.Option(TypeUtils.getInterpretedOrdering(keyType)))
      .map { case (k, sums) => InternalRow(k, sums.means) }
    val cbookType = ArrayType(StructType(Seq(
      StructField(key, keyType), StructField("cv", ArrayType(DoubleType),
        nullable = false))), containsNull = false)
    lit(Literal(new GenericArrayData(entries), cbookType))
  }

  /** One key's running sums in [[trainCodebook]], per dimension: the
    * (weighted) sum of the non-null components, the weight of the rows
    * counted in the mean's denominator, and whether any component was
    * non-null. */
  private final class CodeSums extends Serializable {
    private var sum = Array.emptyDoubleArray
    private var den = Array.emptyLongArray
    private var has = Array.emptyBooleanArray

    def reach(n: Int): Unit = if (n > sum.length) {
      sum = java.util.Arrays.copyOf(sum, n)
      den = java.util.Arrays.copyOf(den, n)
      has = java.util.Arrays.copyOf(has, n)
    }

    def add(v: ArrayData, w: Long, weighted: Boolean): Unit = {
      var i = 0
      while (i < v.numElements()) {
        if (!v.isNullAt(i)) {
          sum(i) += (if (weighted) v.getDouble(i) * w else v.getDouble(i))
          den(i) += w
          has(i) = true
        } else if (weighted) den(i) += w
        i += 1
      }
    }

    def merge(o: CodeSums): Unit = {
      reach(o.sum.length)
      var i = 0
      while (i < o.sum.length) {
        sum(i) += o.sum(i); den(i) += o.den(i); has(i) |= o.has(i)
        i += 1
      }
    }

    def means: ArrayData = new GenericArrayData(Array.tabulate[Any](sum.length) { i =>
      if (has(i) && den(i) != 0) Det.r6d(sum(i) / den(i)) else null
    })
  }

  /** `(d2, key)` per entry of the `cbook` column, for the row's vector
    * `e`: squared L2 by the dot-product expansion, the same arithmetic
    * as the DuckDB oracles' list_dot_product form. array_min over it is
    * the argmin, with the (d2, key) tie-break of a min(struct) agg;
    * array_sort orders the nearest entries first. */
  private[ops] def codeDistances(key: String): Column =
    transform(col("cbook"), x => struct(
      (call_function("graft_dot", col("e"), col("e"))
        - lit(2) * call_function("graft_dot", col("e"), x.getField("cv"))
        + call_function("graft_dot", x.getField("cv"), x.getField("cv")))
        .as("d2"),
      x.getField(key).as(key)))

  /** The identical DuckDB rendering over a DOUBLE[] expression `v`. */
  private def ivfCellSql(v: String): String =
    s"""(list_position(list_transform($v[1:16], x -> abs(x)),
       |              list_max(list_transform($v[1:16], x -> abs(x))))
       | * 2 +
       | CASE WHEN $v[list_position(list_transform($v[1:16], x -> abs(x)),
       |              list_max(list_transform($v[1:16], x -> abs(x))))]
       |           >= 0 THEN 1 ELSE 0 END)::BIGINT""".stripMargin

  // ------------------------------------------------------ q_llm_dedup_embed

  /** Embedding-cosine near-dup scoped to a cluster cell: candidate
    * pairs come only from the same IVF cell — the shuffle
    * co-partitions both sides on the cell key, so at 100 TB the n²
    * blowup is bounded per cell, the standard embedding-dedup shape
    * (exact within cell). The cell is the COMPUTED [[ivfCell]] grid
    * assignment shared with q_llm_sim_ann — the operator is
    * self-contained, not dependent on a pre-labeled column. */
  private def dedupEmbed(s: SparkSession, d: String): DataFrame = {
    // Class kit collapse keyed by the vector itself: the in-cell join
    // cost tracks DISTINCT-vector geometry. Intra-class cos is computed
    // from the class vector (self-cosine ≡ 1 under r4, but computed,
    // not assumed, so the oracle's arithmetic is mirrored bit-for-bit).
    val groups = Llm.classesOf(
        T.embeddings(s, d)
          .select(col("vec_id"), Llm.widen(col("embedding")).as("e")),
        Seq(col("e")), col("vec_id"))
      .withColumn("cell", ivfCell(col("e")))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
      .transform(Staged.checkpointLazy)
    val selfCos = Det.r4(expr("graft_dot(e, e)") / (col("nrm") * col("nrm")))
    val identical = groups.filter(col("m") > 1)
      .select(col("cell"), selfCos.as("cos_sim"),
        explode(Llm.classPairs(col("ids"), Seq(col("rep")))).as("p"))
      .select(col("cell"), col("p.x").as("va"), col("p.y").as("vb"),
        col("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
    val cos = expr("graft_dot(a.e, b.e)") / (col("a.nrm") * col("b.nrm"))
    val cross = groups.as("a").join(groups.as("b"),
        col("a.cell") === col("b.cell") && col("a.rep") < col("b.rep"))
      .select(col("a.cell").as("cell"), col("a.ids").as("xs"),
        col("b.ids").as("ys"), Det.r4(cos).as("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
      .transform(Llm.expandClassPairs(_, "xs", "ys", "va", "vb",
        "cell", "cos_sim"))
    identical.unionByName(cross).orderBy(col("cell"), col("va"), col("vb"))
  }

  private lazy val dedupEmbedSql =
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |e AS (SELECT vec_id, v, ${ivfCellSql("v")} AS cell FROM e0)
       |SELECT a.cell AS cell, a.vec_id AS va, b.vec_id AS vb,
       |       floor((list_dot_product(a.v, b.v) /
       |              (sqrt(list_dot_product(a.v, a.v)) *
       |               sqrt(list_dot_product(b.v, b.v)))) * 10000 + 0.5) / 10000
       |         AS cos_sim
       |FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE floor((list_dot_product(a.v, b.v) /
       |             (sqrt(list_dot_product(a.v, a.v)) *
       |              sqrt(list_dot_product(b.v, b.v)))) * 10000 + 0.5) / 10000
       |      >= 0.35
       |ORDER BY cell, va, vb""".stripMargin

  // -------------------------------------------------------- q_llm_sim_ann

  /** IVF approximate nearest neighbour with a TRAINED codebook
    * (round 10, verdict r9 #3): the argmax+sign grid — whose cell
    * boundaries ignore the data, so a boundary-sitting vector misses
    * its neighbour cell by construction — now only SEEDS the
    * codebook. Training is [[AnnLloydIters]] Lloyd rounds: per-dim
    * means per grid cell (the seed centroids), every vector
    * re-assigned to its nearest centroid, means recomputed. Queries
    * probe their [[AnnNProbe]] nearest trained cells and rank exactly
    * within them — the standard IVF recall lever (Johnson et al.
    * 2017, faiss). All centroid components are r6-rounded so both
    * engines carry identical doubles; argmin is min(struct(d2, cell))
    * — a map-side-combined hash agg with a deterministic cell
    * tie-break, no per-vector sort window. The oracle replicates the
    * SAME training + probe pipeline in SQL — the hash-match checks
    * implementation equivalence; recall (and its uplift over the
    * untrained grid at nprobe 1 and 2) is measured in AnnSpec.
    * Scale: each training round is one corpus pass whose per-task
    * sums merge on the driver ([[trainCodebook]]; training over the
    * full corpus here, production trains on a sample — same shape),
    * and the probe join touches nprobe/|cells| of the corpus. */
  /** Scored ANN configuration — the KNEE of AnnSpec's measured
    * recall ladder (recall@5 vs exact top-k at test SF):
    * {{{
    *   lloyd=1: nprobe 1 → 0.24   2 → 0.44   4 → 0.60
    *   lloyd=2: nprobe 1 → 0.24   2 → 0.52   4 → 0.72
    * }}}
    * nprobe=4 reranks 4/32 of the corpus per query (still 8× under
    * brute force); the second Lloyd round costs one more corpus
    * pass (one job) at TRAIN time only. r10 shipped
    * (2, 1) = 0.44; (4, 2) = 0.72 clears the ≥0.6 bar the verdict
    * set at a rerank cost production IVF deployments run routinely
    * (faiss default nprobe is 1-16 at far higher cell counts). */
  private[graft] val AnnNProbe = 4
  private[graft] val AnnLloydIters = 2

  private def simAnn(s: SparkSession, d: String): DataFrame =
    simAnnTrained(s, d, AnnNProbe)

  /** The scored query/corpus split of the embeddings table —
    * package-visible so AnnSpec can run [[ivfCandidatesOver]] on the
    * same frame the scored query uses. */
  private[graft] def simAnnFrame(s: SparkSession, d: String): DataFrame = {
    T.embeddings(s, d)
      .select(col("vec_id"),
        Llm.widen(col("embedding")).as("e"),
        (col("vec_id") < 5).as("qf"))
  }

  private[graft] def simAnnTrained(s: SparkSession, d: String,
                                   nprobe: Int,
                                   lloydIters: Int = AnnLloydIters)
      : DataFrame =
    // parRange(query_id) below the top-k window serves the window's
    // clustering AND the output order, so the trailing global orderBy
    // (whose range sampler re-executed the rerank join) becomes a
    // zero-exchange local sort — the r14 conversion pattern, pinned by
    // LocalSortOrderSpec.
    ivfTopKFrom(
        T.parRange(s,
          ivfCandidatesOver(simAnnFrame(s, d), nprobe, lloydIters),
          col("query_id")),
        k = 5)
      .sortWithinPartitions(col("query_id"), col("rank"))

  /** The trained-IVF pipeline over an arbitrary (vec_id, e, qf)
    * frame — `qf` = true marks the query rows, everything else is
    * corpus. Package-visible as the [[graft.Graft.ivfTopK]] facade
    * core (the scored q_llm_sim_ann is the vec_id<5 split of the
    * embeddings table through the SAME code). The codebook trains on
    * ALL vectors of the frame (grid seed + `lloydIters` rounds), when
    * this is called; production trains on a sample — identical
    * shape. */
  private[graft] def ivfTopKOver(e0: DataFrame,
                                 k: Int, nprobe: Int,
                                 lloydIters: Int = AnnLloydIters)
      : DataFrame =
    ivfTopKFrom(ivfCandidatesOver(e0, nprobe, lloydIters), k)

  /** Training + probing + the rerank join, WITHOUT the final top-k:
    * one row per (query, probed-cell corpus vector) — the exact
    * per-query rerank bill the nprobe knob buys recall with. */
  private[graft] def ivfCandidatesOver(e0: DataFrame, nprobe: Int,
                                       lloydIters: Int = AnnLloydIters)
      : DataFrame = {
    val e = e0
      .withColumn("gcell", ivfCell(col("e")))
      .transform(Staged.checkpointLazy) // feeds the seed, Lloyd rounds, final probe
    def nearestCell: Column = array_min(codeDistances("ccell")).getField("ccell")
    // Lloyd: assign every vector to its nearest current centroid (a
    // fold over the literal codebook), recompute the means: one
    // training job for the grid seed and one per round, all run here
    val code = (1 to lloydIters).foldLeft(
        trainCodebook(e.select(col("gcell").as("ccell"), col("e")), "ccell")) {
      (cb, _) =>
        trainCodebook(e.select(col("e"), cb.as("cbook"))
          .select(nearestCell.as("ccell"), col("e")), "ccell")
    }
    val scored = e.withColumn("cbook", code)
    // corpus: final assignment to the TRAINED codebook (argmin fold)
    val corpus = scored.filter(!col("qf"))
      .select(col("vec_id").as("match_id"), col("e").as("ce"),
        nearestCell.as("cell"),
        sqrt(expr("graft_dot(e, e)")).as("cn"))
    // queries: nprobe nearest trained cells = the first nprobe entries
    // of the distance-sorted array (same (d2, ccell) ordering the old
    // row_number window used, without its per-query exchange)
    val probes = scored.filter(col("qf"))
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        explode(slice(array_sort(codeDistances("ccell")), 1, nprobe)).as("pc"),
        sqrt(expr("graft_dot(e, e)")).as("qn"))
      .select(col("query_id"), col("qe"),
        col("pc").getField("ccell").as("cell"), col("qn"))
    val cos = expr("graft_dot(qe, ce)") / (col("qn") * col("cn"))
    broadcast(probes).join(corpus, "cell")
      .select(col("query_id"), col("match_id"), col("cell"),
        Det.r6(cos).as("cos_key"))
  }

  /** Top-k over [[ivfCandidatesOver]]'s rerank set. The candidates
    * frame is exposed separately so AnnSpec can pin the COST side of
    * the recall ladder: rerank rows per query at each (nprobe, Lloyd)
    * operating point — the recall claim is only honest with its
    * candidate bill attached. */
  private[graft] def ivfTopKFrom(candidates: DataFrame, k: Int)
      : DataFrame =
    Relational.topKOver(candidates, Seq(col("query_id")),
        Seq(col("cos_key").desc, col("match_id")), k, "rank")
      .select(col("query_id"), col("rank"), col("match_id"), col("cell"),
        Det.r4(col("cos_key")).as("cos_sim"))

  /** The retired untrained-grid nprobe=1 variant, kept package-visible
    * ONLY as AnnSpec's recall baseline (not scored). */
  private[graft] def simAnnGrid(s: SparkSession, d: String): DataFrame = {
    val e = T.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("cell", ivfCell(col("e")))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("cell").as("qcell"), col("nrm").as("qn"))
    val c = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("match_id"), col("e").as("ce"), col("cell"),
        col("nrm").as("cn"))
    val cos = expr("graft_dot(qe, ce)") / (col("qn") * col("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_key").desc, col("match_id"))
    broadcast(q).join(c, col("qcell") === col("cell"))
      .select(col("query_id"), col("match_id"), col("cell"),
        Det.r6(cos).as("cos_key"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("match_id"), col("cell"),
        Det.r4(col("cos_key")).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  private lazy val simAnnSql = {
    // d2 inline (no alias reuse inside OVER) — identical arithmetic to
    // the Spark side's graft_dot expansion
    def dd(v: String, cv: String) =
      s"""list_dot_product($v, $v) - 2 * list_dot_product($v, $cv)
         |               + list_dot_product($cv, $cv)""".stripMargin
    // one Lloyd round: assignment of e against codebook `prev`,
    // recomputed per-dim means — generated AnnLloydIters times, the
    // exact mirror of ivfTopKOver's foldLeft
    def lloydRound(j: Int): String = {
      val prev = if (j == 1) "c0" else s"c${j - 1}"
      s"""a$j AS (
         |  SELECT e.vec_id, e.v, $prev.ccell,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${dd("e.v", s"$prev.cv")}, $prev.ccell) AS rn
         |  FROM e CROSS JOIN $prev),
         |asg$j AS (SELECT vec_id, v, ccell FROM a$j WHERE rn = 1),
         |c${j}d AS (
         |  SELECT ccell, i AS dim, ${Det.sql6("avg(v[i])")} AS m
         |  FROM asg$j, range(1, 65) t(i) GROUP BY ccell, dim),
         |c$j AS (SELECT ccell, list(m ORDER BY dim) AS cv
         |        FROM c${j}d GROUP BY ccell)""".stripMargin
    }
    val rounds = (1 to AnnLloydIters).map(lloydRound).mkString(",\n")
    val last = s"c$AnnLloydIters"
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |e AS (
      |  SELECT vec_id, v, ${ivfCellSql("v")} AS gcell
      |  FROM e0),
      |c0d AS (
      |  SELECT gcell AS ccell, i AS dim, ${Det.sql6("avg(v[i])")} AS m
      |  FROM e, range(1, 65) t(i) GROUP BY ccell, dim),
      |c0 AS (SELECT ccell, list(m ORDER BY dim) AS cv FROM c0d GROUP BY ccell),
      |$rounds,
      |fa AS (
      |  SELECT e.vec_id, e.v, $last.ccell,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY ${dd("e.v", s"$last.cv")}, $last.ccell) AS rn
      |  FROM e CROSS JOIN $last),
      |corpus AS (
      |  SELECT vec_id AS match_id, v AS mv, ccell AS cell
      |  FROM fa WHERE rn = 1 AND vec_id >= 5),
      |probes AS (
      |  SELECT vec_id AS query_id, v AS qv, ccell AS cell
      |  FROM fa WHERE rn <= $AnnNProbe AND vec_id < 5),
      |s AS (
      |  SELECT query_id, match_id, cell,
      |         floor((list_dot_product(qv, mv) /
      |                (sqrt(list_dot_product(qv, qv)) *
      |                 sqrt(list_dot_product(mv, mv)))) * 1000000 + 0.5)
      |           / 1000000 AS cos_key
      |  FROM probes JOIN corpus USING (cell)),
      |r AS (
      |  SELECT query_id, match_id, cell, cos_key,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cos_key DESC, match_id) AS rank
      |  FROM s)
      |SELECT query_id, rank, match_id, cell,
      |       floor(cos_key * 10000 + 0.5) / 10000 AS cos_sim
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------------------------- q_llm_lang_id

  /** Marker-word language-ID heuristic with a fixed priority ladder
    * (de → fr → es → zh → en → und), reported as a confusion matrix
    * against the labelled lang column. On this synthetic corpus the
    * vocabulary is shared across languages, so the heuristic mostly
    * resolves to 'en' — the matrix makes that honest rather than
    * hiding it behind an accuracy scalar. */
  /** The marker-word ladder over an arbitrary text column — the
    * [[graft.Graft.languageId]] facade core. */
  private[graft] def langIdOf(text: Column): Column = {
    val words = split(text, " ")
    def has(ws: String*): Column =
      ws.map(w => array_contains(words, w)).reduce(_ || _)
    when(has("der", "die", "das", "und"), "de")
      .when(has("le", "les", "une"), "fr")
      .when(has("el", "los", "una"), "es")
      .when(has("的", "是"), "zh")
      .when(has("the", "a", "of"), "en")
      .otherwise("und")
  }

  private def langId(s: SparkSession, d: String): DataFrame = {
    Llm.docs(s, d)
      .select(col("lang"), langIdOf(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  private val langIdSql =
    """WITH p AS (
      |  SELECT lang,
      |    CASE
      |      WHEN list_contains(w, 'der') OR list_contains(w, 'die')
      |        OR list_contains(w, 'das') OR list_contains(w, 'und') THEN 'de'
      |      WHEN list_contains(w, 'le') OR list_contains(w, 'les')
      |        OR list_contains(w, 'une') THEN 'fr'
      |      WHEN list_contains(w, 'el') OR list_contains(w, 'los')
      |        OR list_contains(w, 'una') THEN 'es'
      |      WHEN list_contains(w, '的') OR list_contains(w, '是') THEN 'zh'
      |      WHEN list_contains(w, 'the') OR list_contains(w, 'a')
      |        OR list_contains(w, 'of') THEN 'en'
      |      ELSE 'und' END AS predicted
      |  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))
      |SELECT lang, predicted, count(*) AS n FROM p
      |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin

  // ----------------------------------------------------- q_llm_fingerprint

  /** Winnowing document fingerprints (the MOSS scheme over token
    * 3-grams): hash every word-3-gram in positional order, slide a
    * 4-gram window, keep each window's minimum, dedupe — a compact,
    * position-robust signature for plagiarism / near-dup detection.
    * Token grams instead of char grams keep the hash count at
    * O(tokens), ~5× fewer md5 evaluations on this corpus. All
    * arithmetic is the portable md5-based 60-bit hash, so the oracle
    * reproduces the exact fingerprint set. Pure map-side at scale. */
  private def fingerprint(s: SparkSession, d: String): DataFrame = {
    // docsRange + local sort (see Llm.docsRange), and the positional
    // 3-gram hashes come from the native graft_ngram_h60 (one codegen
    // pass digesting each gram's byte range) instead of the
    // interpreted transform/concat/md5 lambda — identical md5-based
    // values (NgramH60Spec), position order preserved, so the
    // winnowing windows see the same sequence.
    Llm.docsRange(s, d)
      .filter(col("n_chars") >= 20)
      // need >= 4 grams (>= 6 tokens) for one full winnowing window —
      // below that, sequence(1, n) with n < 1 would count DOWN and
      // slice(g, 0, 4) throws; the oracle carries the same bound
      .filter(size(split(col("text"), " ")) >= 6)
      .withColumn("g", call_function("graft_ngram_h60", col("text"), lit(3)))
      .withColumn("fps", array_sort(array_distinct(expr(
        "transform(sequence(1, size(g) - 3), j -> array_min(slice(g, j, 4)))"))))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        element_at(col("fps"), 1).as("fp_min"),
        element_at(col("fps"), -1).as("fp_max"),
        array_join(slice(col("fps"), 1, 3), ",").as("fp_head"))
      .sortWithinPartitions(col("doc_id"))
  }

  private val fingerprintSql =
    s"""WITH g AS (
       |  SELECT doc_id,
       |         list_transform(range(1, len(w) - 1),
       |           i -> ${h60Sql("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")}) AS gh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w
       |        FROM documents WHERE n_chars >= 20)
       |  WHERE len(w) >= 6),
       |w AS (
       |  SELECT doc_id,
       |         list_sort(list_distinct(list_transform(range(1, len(gh) - 2),
       |           j -> list_min(gh[j:j+3])))) AS fps
       |  FROM g)
       |SELECT doc_id, len(fps)::BIGINT AS n_fp,
       |       fps[1] AS fp_min, fps[-1] AS fp_max,
       |       array_to_string(fps[1:3], ',') AS fp_head
       |FROM w ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- q_llm_tokenize

  /** Token counting two ways (driver brief: "whitespace + a BPE-ish
    * regex"): whitespace tokens, regex pre-tokenization (letter runs /
    * digit runs / punctuation runs — the GPT-2 pre-tokenizer shape),
    * and a BPE token-count estimate via the ~4-chars-per-token rule
    * (ceil(len/4) per pre-token — the standard budgeting heuristic
    * when the merge table isn't available). Pure map-side. */
  /** GPT-2-shape pre-tokenization of a text column (letter runs /
    * digit runs / punctuation runs). */
  private[graft] def preTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z0-9]+|[^a-z0-9\\s]+"), lit(0))

  /** BPE token-count estimate via the ~4-chars-per-token rule over
    * the pre-tokens — the budgeting heuristic when the merge table
    * isn't at hand; [[graft.Graft.tokenCountEstimate]]'s core. */
  private[graft] def bpeTokenEstimate(text: Column): Column =
    aggregate(preTokens(text), lit(0L),
      (acc, t) => acc + ceil(length(t).cast("double") / 4.0).cast("long"))

  private def tokenize(s: SparkSession, d: String): DataFrame = {
    val pre = preTokens(col("text"))
    // docsRange + local sort (see Llm.docsRange): the regex
    // pre-tokenization + interpreted BPE-estimate lambda run once.
    Llm.docsRange(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_ws"),
        size(pre).cast("long").as("n_pre"),
        bpeTokenEstimate(col("text")).as("n_bpe_est"))
      .withColumn("chars_per_tok",
        Det.r4(col("n_chars") / col("n_bpe_est").cast("double")))
      .drop("n_chars")
      .sortWithinPartitions(col("doc_id"))
  }

  // documents text is lowercase [a-z ]+, so n_chars is present in the
  // table; recompute nothing the Spark side doesn't
  private val tokenizeSql =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars,
      |         len(string_split(text, ' '))::BIGINT AS n_ws,
      |         regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]+') AS pre
      |  FROM documents)
      |SELECT doc_id, lang, n_ws,
      |       len(pre)::BIGINT AS n_pre,
      |       list_sum(list_transform(pre, x -> ceil(length(x) / 4.0)::BIGINT))
      |         ::BIGINT AS n_bpe_est,
      |       floor((n_chars / list_sum(list_transform(pre,
      |              x -> ceil(length(x) / 4.0)::BIGINT))::DOUBLE)
      |             * 10000 + 0.5) / 10000 AS chars_per_tok
      |FROM t ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- q_llm_decode

  /** Deterministic PNG payload fixture shared by q_llm_decode /
    * q_llm_thumb / q_llm_frames: a w×h grayscale raster with pixel
    * (x,y) = (id + frameOff + 17x + 31y) mod 256, PNG-encoded.
    * One definition so the fixture arithmetic cannot drift from the
    * oracles' shared formula (frameOff = 7·frame for the video path,
    * 0 for stills). Called inside mapPartitions — object method, so
    * the closure captures nothing. */
  private def synthPng(id: Long, w: Int, h: Int,
      frameOff: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) {
      val v = ((id + frameOff + 17L * x + 31L * y) % 256).toInt
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  /** Still-image dims for the fixture: width 1–8 × height 1–8. */
  private def synthDims(id: Long): (Int, Int) =
    ((1 + id % 8).toInt, (1 + (id / 8) % 8).toInt)

  /** Multimodal decode boundary — REAL codec, not a stub (round 7):
    * the JDK ships PNG/JPEG codecs in javax.imageio, so the decode
    * half of the image path runs for real. Each doc_id deterministically
    * synthesizes a tiny grayscale PNG in-query (width 1–8 × height 1–8,
    * pixel (x,y) = (doc_id + 17x + 31y) mod 256 — a pure function of
    * the input table, like q_llm_pii's planted contact line), and the
    * per-partition decoder then ImageIO-reads the BYTES BACK: format
    * sniffed from the container magic, dimensions and a full pixel
    * checksum read from the DECODED raster. The oracle re-derives
    * width/height/pixel_sum arithmetically — a hash match therefore
    * proves the encode→decode round-trip is lossless, which no
    * stubbed measurement could. Scale shape: one typed mapPartitions
    * over the corpus, zero shuffles before the output sort; payload
    * bytes never leave their partition (at 100 TB the binary column
    * arrives from parquet and only metadata shuffles). In production
    * only the synthesis line disappears; decoder, typed boundary,
    * batching, and metadata schema are exactly this. */
  private def decode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // docsRange + local sort (see Llm.docsRange): the REAL ImageIO
    // decode runs once — a trailing orderBy re-ran the whole decode
    // pass in its range sampler. mapPartitions is 1:1 per partition,
    // so the physical range layout survives the typed boundary, and
    // sortWithinPartitions requires no distribution so no exchange can
    // be re-inserted (LocalSortOrderSpec pins the order).
    Llm.docsRange(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        // per-partition init: no disk-backed ImageIO scratch files
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          // ---- deterministic payload synthesis (fixture in-query) ----
          val (w, h) = synthDims(id)
          val payload = synthPng(id, w, h, 0L)
          // ---- REAL decode: container sniff + raster read ----
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
          val fmt = reader.getFormatName.toLowerCase
          reader.setInput(iis)
          val decoded = reader.read(0)
          reader.dispose(); iis.close()
          var pixelSum = 0L
          for (x <- 0 until decoded.getWidth; y <- 0 until decoded.getHeight)
            pixelSum += (decoded.getRGB(x, y) & 0xff)
          (id, fmt, decoded.getWidth.toLong, decoded.getHeight.toLong,
            decoded.getWidth.toLong * decoded.getHeight, pixelSum)
        }
      }
      .toDF("doc_id", "fmt", "width", "height", "n_pixels", "pixel_sum")
      .sortWithinPartitions(col("doc_id"))
  }

  // the oracle predicts what a LOSSLESS decode must read back —
  // dimensions and the checksum of the planted pixels
  private val decodeSql =
    """WITH g AS (
      |  SELECT doc_id, 1 + doc_id % 8 AS w, 1 + (doc_id // 8) % 8 AS h
      |  FROM documents)
      |SELECT doc_id, 'png' AS fmt, w::BIGINT AS width, h::BIGINT AS height,
      |       (w * h)::BIGINT AS n_pixels,
      |       list_sum(flatten(list_transform(range(w), x ->
      |         list_transform(range(h), y ->
      |           (doc_id + 17 * x + 31 * y) % 256))))::BIGINT AS pixel_sum
      |FROM g ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- q_llm_thumb

  /** Multimodal resize stage — the thumbnailing pass an image-corpus
    * pipeline runs after decode (fixed-size inputs for the vision
    * encoder): decodes the same deterministic PNG payload as
    * q_llm_decode (REAL javax.imageio decode of real bytes), then
    * nearest-neighbor-resamples the DECODED raster to a fixed 2×2
    * thumbnail with explicit index arithmetic — thumb(tx,ty) =
    * raster(tx·w/2, ty·h/2), integer division — rather than an AWT
    * scaling op, because library resamplers are implementation-defined
    * at half-pixel centers while this rule is portable enough for the
    * oracle to predict every output pixel arithmetically (a hash match
    * therefore proves decode AND resample, not just plumbing; the
    * production swap-in is one line). Reports the four thumb pixels
    * and the mean-brightness delta thumb-vs-full — the feature-extract
    * sanity signal (a resample should roughly preserve brightness).
    * Scale shape: identical to q_llm_decode — one typed mapPartitions,
    * payload bytes never leave their partition, only thumb metadata
    * (a few longs/doc) shuffles to the output sort. */
  private def thumb(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // docsRange + local sort — same rationale as q_llm_decode
    Llm.docsRange(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val (w, h) = synthDims(id)
          val decoded = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(synthPng(id, w, h, 0L)))
          // explicit nearest-neighbor resample from the decoded raster
          def at(tx: Int, ty: Int): Long =
            (decoded.getRGB(tx * decoded.getWidth / 2,
              ty * decoded.getHeight / 2) & 0xff).toLong
          var full = 0L
          for (x <- 0 until w; y <- 0 until h)
            full += (decoded.getRGB(x, y) & 0xff)
          val thumbSum = at(0, 0) + at(1, 0) + at(0, 1) + at(1, 1)
          (id, at(0, 0), at(1, 0), at(0, 1), at(1, 1),
            math.floor(thumbSum / 4.0 - full.toDouble / (w * h)) )
        }
      }
      .toDF("doc_id", "p00", "p10", "p01", "p11", "brightness_shift")
      .sortWithinPartitions(col("doc_id"))
  }

  // every thumb pixel is predictable: the decode is lossless and the
  // resample rule is explicit integer arithmetic
  private lazy val thumbSql =
    """WITH g AS (
      |  SELECT doc_id, 1 + doc_id % 8 AS w, 1 + (doc_id // 8) % 8 AS h
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, w, h,
      |         (doc_id + 0) % 256 AS p00,
      |         (doc_id + 17 * ((1 * w) // 2)) % 256 AS p10,
      |         (doc_id + 31 * ((1 * h) // 2)) % 256 AS p01,
      |         (doc_id + 17 * ((1 * w) // 2) + 31 * ((1 * h) // 2)) % 256
      |           AS p11,
      |         list_sum(flatten(list_transform(range(w), x ->
      |           list_transform(range(h), y ->
      |             (doc_id + 17 * x + 31 * y) % 256)))) AS full_sum
      |  FROM g)
      |SELECT doc_id, p00::BIGINT AS p00, p10::BIGINT AS p10,
      |       p01::BIGINT AS p01, p11::BIGINT AS p11,
      |       floor((p00 + p10 + p01 + p11) / 4.0
      |             - full_sum::DOUBLE / (w * h)) AS brightness_shift
      |FROM p ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- q_llm_frames

  /** Multimodal frame-sampling stage — the video path's "take every
    * k-th frame" pass (vision-language corpora never train on all
    * frames; they stride-sample before feature extraction). Each doc
    * synthesizes a deterministic "video": 4 + id%5 frames, each a 2×2
    * grayscale PNG with pixel (x,y) of frame f = (id + 7f + 17x + 31y)
    * mod 256 (the q_llm_decode fixture pattern extended by a frame
    * axis). The sampler takes frames 0, 2, 4, … (stride 2) and REALLY
    * decodes only those — the point of stride sampling at 100 TB is
    * that the codec cost scales with frames KEPT, not frames present —
    * reporting the per-doc frame count, sampled count, and the decoded
    * pixel checksum over the sampled frames, which the oracle predicts
    * arithmetically (proving both the selection arithmetic and the
    * decode). Scale shape: one typed mapPartitions, frame bytes never
    * leave their partition, only per-doc counters shuffle. */
  private def frames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // docsRange + local sort — same rationale as q_llm_decode
    Llm.docsRange(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val nFrames = (4 + id % 5).toInt
          val sampled = 0 until nFrames by 2
          var sum = 0L
          sampled.foreach { f =>
            val dec = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(synthPng(id, 2, 2, 7L * f)))
            for (x <- 0 to 1; y <- 0 to 1)
              sum += (dec.getRGB(x, y) & 0xff)
          }
          (id, nFrames.toLong, sampled.size.toLong, sum)
        }
      }
      .toDF("doc_id", "n_frames", "n_sampled", "frame_sum")
      .sortWithinPartitions(col("doc_id"))
  }

  private lazy val framesSql =
    """WITH g AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS nf FROM documents)
      |SELECT doc_id, nf::BIGINT AS n_frames,
      |       ((nf + 1) // 2)::BIGINT AS n_sampled,
      |       list_sum(flatten(list_transform(
      |         list_filter(range(nf), f -> f % 2 = 0),
      |         f -> flatten(list_transform(range(2), x ->
      |                list_transform(range(2), y ->
      |                  (doc_id + 7 * f + 17 * x + 31 * y) % 256))))))
      |         ::BIGINT AS frame_sum
      |FROM g ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- q_llm_semdedup

  /** SemDeDup-style semantic pruning (Abbas et al. 2023): inside each
    * embedding cluster, when two members are semantic near-duplicates
    * (cosine ≥ the q_llm_dedup_embed threshold), DROP the more
    * REDUNDANT one — the member closer to the cluster centroid — and
    * keep the outlier, preserving the cluster's diversity (the
    * opposite keeper rule from min-id dedup, and the reason SemDeDup
    * beats random pruning at equal token budgets). Composes the
    * family's pieces: the [[ivfCell]] grid stands in for the trained
    * k-means clustering, the near-dup pair definition IS
    * q_llm_dedup_embed's, and the per-cell centroids come from the
    * codebook kit's [[trainCodebook]] (one pass, merged on the driver
    * when the operator is built).
    *
    * Scale shape — CLASS-CONTRACTED like the rest of the dedup family
    * (dedupEmbed/dedupSimhash/dedupFuzzy): verbatim-duplicate
    * embeddings share a cell, a cos_centroid and every pair decision,
    * so the in-cell self-join over raw members repeats |class|² of
    * identical work per duplication class (measured: sf1→sf3 at 3×
    * data ran 7.8× — quadratic in the duplication factor). Vectors
    * collapse to one row per DISTINCT embedding before the pair join;
    * the drop rule is decided ONCE per class (pair decisions depend
    * only on class-level values) and members re-expand at output:
    *  - intra-class pairs tie on cos_centroid, so drop-greatest keeps
    *    exactly the min member id;
    *  - a cross-class pair with cA > cB drops the A member — every A
    *    member appears in such a pair, so A drops wholesale (and
    *    symmetrically B when cB > cA);
    *  - a cross-class TIE drops the pairwise max, so an A member is
    *    dropped iff some B member is smaller — iff id > min(B).
    * The centroid build stays arithmetically the EXPANDED per-member
    * average (member counts weight the per-dim sums in each task —
    * linear, never the quadratic part). Determinism: centroid
    * components are r6-discretized BEFORE the cosine (summation-order
    * noise ~1e-15 vs the 1e-6 grid; the m·x vs x-added-m-times
    * regrouping is the same ~1e-16 class the contracted PageRank
    * absorbs), cos-to-centroid is r6-discretized, cos_sim
    * r4-discretized — all compared AFTER discretization, exactly as
    * the per-pair formulation. SemdedupCollapseSpec pins the
    * contraction against the expanded formulation on a heavily
    * duplicated frame including a forced cross-class tie. */
  private def semdedup(s: SparkSession, d: String): DataFrame =
    semdedupOver(T.par(s, T.embeddings(s, d))
      .select(col("vec_id"),
        Llm.widen(col("embedding")).as("e")))

  /** The contracted core over any (vec_id, e: array<double>) frame —
    * package-visible so SemdedupCollapseSpec can drive it (and its
    * expanded reference twin) over duplicated and tie-forcing
    * frames, and so the Graft facade can run it on user embeddings
    * (with the similarity threshold as a parameter; the scored query
    * pins 0.35). */
  private[graft] def semdedupOver(e0: DataFrame,
                                  minCos: Double = 0.35): DataFrame = {
    // one row per DISTINCT embedding (the class kit), rep as `mn`
    val groups = Llm.classesOf(e0, Seq(col("e")), col("vec_id"))
      .withColumnRenamed("rep", "mn")
      .withColumn("cell", ivfCell(col("e")))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
      .transform(Staged.checkpoint)
    // expanded per-member centroid: Σ over members = Σ m·x per class
    val cent = groups.sparkSession.range(1)
      .select(inline(trainCodebook(groups, "cell", Some(col("m")))))
      .withColumn("cnrm", sqrt(expr("graft_dot(cv, cv)")))
    // one cos_centroid per class — every member shares it. Lazy: both
    // consumers sit in the one plan below, so its first stage writes
    // the blocks the other reads (groups stays eager: trainCodebook
    // rereads it every Lloyd round)
    val scored = groups.join(broadcast(cent), "cell")
      .select(col("ids"), col("mn"), col("m"), col("e"), col("nrm"),
        col("cell"),
        Det.r6(expr("graft_dot(e, cv)") / (col("nrm") * col("cnrm")))
          .as("cc"))
      .transform(Staged.checkpointLazy)
    // class-level pair decisions (distinct-vector geometry only)
    val cos = expr("graft_dot(a.e, b.e)") / (col("a.nrm") * col("b.nrm"))
    val facts = scored.as("a").join(scored.as("b"),
        col("a.cell") === col("b.cell") && col("a.mn") < col("b.mn"))
      .filter(Det.r4(cos) >= minCos)
      .select(
        when(col("a.cc") > col("b.cc"),
          array(struct(col("a.mn").as("k"), lit(true).as("all"),
            lit(null).cast("long").as("tieMin"))))
        .when(col("b.cc") > col("a.cc"),
          array(struct(col("b.mn").as("k"), lit(true).as("all"),
            lit(null).cast("long").as("tieMin"))))
        .otherwise(array(
          struct(col("a.mn").as("k"), lit(false).as("all"),
            col("b.mn").as("tieMin")),
          struct(col("b.mn").as("k"), lit(false).as("all"),
            col("a.mn").as("tieMin")))).as("fs"))
      .select(explode(col("fs")).as("f"))
      .groupBy(col("f.k").as("mn"))
      .agg(max(col("f.all")).as("allDrop"), min(col("f.tieMin")).as("tieMin"))
    val selfCos = Det.r4(expr("graft_dot(e, e)") / (col("nrm") * col("nrm")))
    val dropped = scored
      .join(facts, Seq("mn"), "left")
      .withColumn("intraDrop", col("m") > 1L && selfCos >= minCos)
      .select(col("cell"), col("cc"), col("mn"),
        coalesce(col("allDrop"), lit(false)).as("allDrop"),
        col("tieMin"), col("intraDrop"),
        explode(col("ids")).as("vec_id"))
      .filter(col("allDrop") ||
        (col("intraDrop") && col("vec_id") > col("mn")) ||
        (col("tieMin").isNotNull && col("vec_id") > col("tieMin")))
    dropped
      .select(col("vec_id"), col("cell"), col("cc").as("cos_centroid"))
      .orderBy(col("vec_id"))
  }

  /** SPEC-ONLY expanded reference for [[semdedupOver]] — the per-
    * member pair formulation the contraction replaced (quadratic in
    * the duplication factor; never on a scored path). Kept so
    * SemdedupCollapseSpec can pin output equality of the two
    * formulations on frames where the expanded one is tractable. */
  private[graft] def semdedupExpandedOver(e0: DataFrame,
                                          minCos: Double = 0.35): DataFrame = {
    val e = e0
      .withColumn("cell", ivfCell(col("e")))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
      .transform(Staged.checkpoint)
    val cent = e.select(col("cell"), posexplode(col("e")))
      .groupBy(col("cell"), col("pos"))
      .agg(Det.r6(avg(col("col"))).as("c"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
      .withColumn("cnrm", sqrt(expr("graft_dot(cv, cv)")))
    val scored = e.join(broadcast(cent), "cell")
      .select(col("vec_id"), col("cell"),
        Det.r6(expr("graft_dot(e, cv)") / (col("nrm") * col("cnrm")))
          .as("cos_centroid"))
    val cos = expr("graft_dot(a.e, b.e)") / (col("a.nrm") * col("b.nrm"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        Det.r4(cos).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
    val sa = scored.select(col("vec_id").as("va"), col("cos_centroid").as("ca"))
    val sb = scored.select(col("vec_id").as("vb"), col("cos_centroid").as("cb"))
    val dropped = pairs.join(sa, "va").join(sb, "vb")
      .select(when(col("ca") > col("cb"), col("va"))
        .when(col("cb") > col("ca"), col("vb"))
        .otherwise(greatest(col("va"), col("vb"))).as("vec_id"))
      .distinct()
    scored.join(dropped, "vec_id")
      .select(col("vec_id"), col("cell"), col("cos_centroid"))
      .orderBy(col("vec_id"))
  }

  private lazy val semdedupSql =
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |e AS (SELECT vec_id, v, ${ivfCellSql("v")} AS cell,
       |             sqrt(list_dot_product(v, v)) AS nrm
       |      FROM e0),
       |cent AS (
       |  SELECT cell, i, ${Det.sql6("avg(v[i])")} AS c
       |  FROM e, range(1, 65) t(i) GROUP BY cell, i),
       |cn AS (SELECT cell, sqrt(sum(c * c)) AS cnrm FROM cent GROUP BY cell),
       |dc AS (
       |  SELECT e.vec_id, e.cell, sum(e.v[cent.i] * cent.c) AS dp
       |  FROM e JOIN cent ON cent.cell = e.cell
       |  GROUP BY e.vec_id, e.cell),
       |sc AS (
       |  SELECT dc.vec_id, dc.cell,
       |         ${Det.sql6("dc.dp / (e.nrm * cn.cnrm)")} AS cos_centroid
       |  FROM dc JOIN e ON e.vec_id = dc.vec_id
       |          JOIN cn ON cn.cell = dc.cell),
       |p AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE floor((list_dot_product(a.v, b.v) /
       |               (sqrt(list_dot_product(a.v, a.v)) *
       |                sqrt(list_dot_product(b.v, b.v)))) * 10000 + 0.5)
       |          / 10000 >= 0.35),
       |drp AS (
       |  SELECT DISTINCT
       |         CASE WHEN sa.cos_centroid > sb.cos_centroid THEN p.va
       |              WHEN sb.cos_centroid > sa.cos_centroid THEN p.vb
       |              ELSE greatest(p.va, p.vb) END AS vec_id
       |  FROM p JOIN sc sa ON sa.vec_id = p.va
       |         JOIN sc sb ON sb.vec_id = p.vb)
       |SELECT sc.vec_id AS vec_id, sc.cell, sc.cos_centroid
       |FROM sc JOIN drp ON sc.vec_id = drp.vec_id
       |ORDER BY sc.vec_id""".stripMargin

  // -------------------------------------------------------------- registry

  val table: Seq[Query] = Seq(
    Query("q_llm_dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    Query("q_llm_dedup_embed", dedupEmbed, Some(dedupEmbedSql)),
    Query("q_llm_sim_ann", simAnn, Some(simAnnSql)),
    Query("q_llm_semdedup", semdedup, Some(semdedupSql)),
    Query("q_llm_thumb", thumb, Some(thumbSql)),
    Query("q_llm_frames", frames, Some(framesSql)),
    Query("q_llm_lang_id", langId, Some(langIdSql)),
    Query("q_llm_fingerprint", fingerprint, Some(fingerprintSql)),
    Query("q_llm_tokenize", tokenize, Some(tokenizeSql)),
    Query("q_llm_decode", decode, Some(decodeSql)),
  )
}
