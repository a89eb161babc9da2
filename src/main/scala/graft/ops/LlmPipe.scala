package graft.ops

import graft.{Gate, Query, QueryModule, Tables => T}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.ClassTag

/** Training-data pipeline stages beyond the pairwise dedups: PII
  * detection/redaction (the pre-training scrub every public corpus
  * pipeline runs — C4, Dolma and RefinedWeb all regex-scrub
  * emails/phones), per-label embedding centroids (the k-means
  * "update" step that trains the IVF codebook q_llm_sim_ann probes),
  * connected-components clustering of near-dup pairs into keeper
  * groups, and cross-document repeated-span detection (Lee et al.
  * 2022 ExactSubstr, approximated at 20-token-window granularity).
  */
object LlmPipe extends QueryModule {

  // --------------------------------------------------------------- q_llm_pii

  /** Regex PII scrub. The documents corpus is synthetic lowercase
    * prose with no planted PII, so the query first APPENDS a
    * deterministic contact line derived from doc_id (both engines
    * derive the identical string — this stays a pure function of the
    * input table, not hand-made data), then detects and redacts it:
    * email + phone counts, redacted length, and the redacted tail as
    * evidence. Patterns stick to RE2-∩-Java syntax (character
    * classes, +, {n} — no lookarounds) so Spark and DuckDB compile
    * the same automaton. The two patterns cannot overlap, so
    * [[scrubOver]]'s progressive counts equal the oracle's. */
  private def pii(s: SparkSession, d: String): DataFrame = {
    val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phone = "\\+1-555-[0-9]{4}"
    val contact = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      // every third doc gets a second address → n_emails varies
      when(col("doc_id") % 3 === 0,
        concat(lit(" cc admin"), col("doc_id"), lit("@example.org")))
        .otherwise(lit("")))
    // docsRange + local sort (see Llm.docsRange): the regex scan runs
    // once, after the one exchange, instead of also inside a trailing
    // orderBy's range sampler.
    Llm.docsRange(s, d)
      .select(col("doc_id"), contact.as("red"))
      .transform(scrubOver(_, "red", Seq("EMAIL" -> email, "PHONE" -> phone)))
      .select(col("doc_id"),
        col("pii_counts")("EMAIL").as("n_emails"),
        col("pii_counts")("PHONE").as("n_phones"),
        length(col("red")).cast("long").as("n_chars_redacted"),
        // right() has no Scala-functions binding — SQL fragment over
        // the named column
        expr("right(red, 48)").as("tail"))
      .sortWithinPartitions(col("doc_id"))
  }

  /** The columns [[scrubOver]] appends or uses internally. */
  private[graft] def scrubColumns(patterns: Seq[(String, String)]): Seq[String] =
    "pii_counts" +: "__pii_cur" +: patterns.indices.map(i => s"__pii_n_$i")

  /** The body of q_llm_pii and `Graft.scrubPii`: replace each
    * (name, pattern)'s matches in `text` by the literal `[name]`, in
    * order, counting them into a `pii_counts` map on the PROGRESSIVELY
    * scrubbed text, so an EMAIL whose domain holds a phone-shaped run
    * is not also a PHONE. Each step is its own ALIASED column, which
    * CollapseProject keeps as a separate projection: each regex runs
    * ONCE per row, not quadratically in pattern count (review r13). */
  private[graft] def scrubOver(docs: DataFrame, text: String,
                               patterns: Seq[(String, String)]): DataFrame = {
    // regexp_replace reads '$'/'\' as group references
    def literal(name: String): String =
      s"[$name]".replace("\\", "\\\\").replace("$", "\\$")
    val stepped = patterns.zipWithIndex.foldLeft(
      docs.withColumn("__pii_cur", col(text))) {
      case (df, ((name, p), i)) =>
        df.withColumn(s"__pii_n_$i",
            size(regexp_extract_all(col("__pii_cur"), lit(p), lit(0)))
              .cast("long"))
          .withColumn("__pii_cur",
            regexp_replace(col("__pii_cur"), lit(p), lit(literal(name))))
    }
    val counts = patterns.zipWithIndex.flatMap { case ((name, _), i) =>
      Seq(lit(name), col(s"__pii_n_$i"))
    }
    stepped.withColumn("pii_counts", map(counts: _*))
      .withColumn(text, col("__pii_cur"))
      .drop(scrubColumns(patterns).tail: _*)
  }

  private val piiSql =
    """WITH c AS (
      |  SELECT doc_id,
      |         text || ' contact user' || doc_id || '@example.com or +1-555-'
      |           || lpad((doc_id % 10000)::VARCHAR, 4, '0')
      |           || CASE WHEN doc_id % 3 = 0
      |                   THEN ' cc admin' || doc_id || '@example.org'
      |                   ELSE '' END AS t
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, t,
      |         regexp_replace(regexp_replace(t,
      |           '[a-z0-9]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g'),
      |           '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS red
      |  FROM c)
      |SELECT doc_id,
      |       len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+\.[a-z]+'))::BIGINT
      |         AS n_emails,
      |       len(regexp_extract_all(t, '\+1-555-[0-9]{4}'))::BIGINT
      |         AS n_phones,
      |       length(red)::BIGINT AS n_chars_redacted,
      |       right(red, 48) AS tail
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- q_llm_centroid

  /** Per-label embedding centroids, one row per (label, dimension) —
    * the aggregation a k-means / IVF codebook trainer runs every
    * iteration. posexplode unpivots the 64-dim vectors to
    * (label, dim, component) and ONE hash aggregation averages each
    * cell: shuffle volume is |labels|·dims rows of partial sums
    * (map-side combine), independent of corpus size — the canonical
    * 100 TB-safe shape for vector reductions. Components are
    * discretized at 1e-6: both engines sum the same float-widened
    * doubles in different orders, agreeing to ~1e-13. */
  private def centroid(s: SparkSession, d: String): DataFrame =
    T.par(s, T.embeddings(s, d))
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), (col("pos") + 1).as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        Det.r6(avg(col("col").cast("double"))).as("c"))
      .orderBy(col("label"), col("dim"))

  private val centroidSql =
    s"""SELECT label, i::INT AS dim, count(*) AS n_vecs,
       |       ${Det.sql6("avg(embedding[i])")} AS c
       |FROM embeddings, range(1, 65) t(i)
       |GROUP BY label, i ORDER BY label, dim""".stripMargin

  // -------------------------------------------------------- q_llm_dedup_cc

  /** Connected components over the near-dup pair graph — the step
    * that turns pairwise dedup output (simhash Hamming ≤ 3 edges,
    * shared with q_llm_dedup_simhash) into KEEPER GROUPS: every doc
    * in a component is a near-dup of the others via some chain, and
    * a pipeline keeps min(doc_id) per component. Implementation is
    * STAR-CONTRACTION min-label propagation (the MapReduce-CC family,
    * Kiveris et al.): per round every node takes the min over its
    * neighborhood, re-reads its current root's label, and reports its
    * neighborhood min up to that root — so discoveries fan through
    * hub nodes and the label forest flattens in O(log) rounds
    * (measured with the round-7 fused formulation: 8 rounds on the
    * sf0.1 dup graph — incl. the final no-change round the sum probe
    * needs to observe the fixpoint — and 2 at sf0.01, vs 16 = graph
    * diameter for plain hash-min). Each round is a handful of small
    * shuffle joins + one min-aggregation over |dup candidates| rows —
    * a vanishing fraction of the corpus — checkpointed per round to
    * truncate lineage (reliable DFS checkpoint at cluster scale).
    * The driver-side loop carries only a one-row convergence probe
    * (the strictly-decreasing label sum) per round, never data.
    *
    * The oracle clusters the SAME edges by transitive closure in a
    * recursive CTE (min reachable id per node) — tractable at oracle
    * scale, exactly what the contraction avoids materializing at
    * 100 TB. */
  /** CLASS-CONTRACTED connected components (round 9): CC runs over
    * LlmExt.simhashClassGraph — one node per distinct fingerprint —
    * and members re-expand at output time. The expanded pair graph is
    * member cliques ∪ complete-bipartite class edges, so its
    * components are exactly the class-graph components with classes
    * swapped for their member sets: component min doc = min rep (reps
    * ARE class minima), cluster size = Σ class sizes. Iterative cost
    * becomes DUPLICATION-INVARIANT — the scored pair list is
    * inherently quadratic in verbatim duplication, the connectivity
    * question on top of it is not (sf3's 30-way harness: 4.4M
    * expanded edges vs ~2.5k class edges — the class graph takes the
    * driver-local strategy where the expanded graph was forced into 8
    * distributed rounds). The local-vs-distributed pick then applies
    * AT CLASS LEVEL: an all-distinct corpus degenerates to the
    * original graph and the loop machinery takes over unchanged. */
  private def dedupCc(s: SparkSession, d: String): DataFrame =
    graphQuery(s, d, "dedup_cc", weighted = false)(
      (classes, g) => expandCc(classes, ccLocalLabels(s, g)))(
      (classes, pairs) => expandCc(classes, dedupCcLoopLabels(pairs)))

  /** Expand class-level CC labels (id = rep, lbl = component min rep)
    * to the member-level (doc_id, cluster, cluster_size) frame:
    * classes absent from the edge set are isolated — m ≥ 2 classes
    * form their own component (their members pair intra-class),
    * isolated singletons have no pairs and drop out. */
  private def expandCc(classes: DataFrame, repLabels: DataFrame)
      : DataFrame = {
    val lbl = classes
      .join(repLabels.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .filter(col("lbl").isNotNull || col("m") > 1)
      .select(col("ids"), col("m"),
        coalesce(col("lbl"), col("rep")).as("cluster"))
    val sizes = lbl.groupBy(col("cluster"))
      .agg(sum(col("m")).as("cluster_size"))
    lbl.join(sizes, "cluster")
      .select(explode(col("ids")).as("doc_id"), col("cluster"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** A staged pair frame: the child-session loop frame plus the exact
    * edge count the staging action already paid for. The count doubles
    * as the COST-MODEL SIGNAL for the local-vs-distributed strategy
    * pick below — the same role catalog row-count statistics play for
    * a cost-based optimizer, except here it is exact and free (the
    * persist+count job exists anyway to size the loop partitions). */
  private[graft] final case class StagedPairs(
      df: DataFrame, edges: Long,
      rdd: org.apache.spark.rdd.RDD[Row]) {
    /** Drop the staged blocks once every consumer has MATERIALIZED
      * (collected to the driver, or truncated its lineage with a
      * checkpoint): without this, each graph-query invocation parks a
      * pair RDD in the block manager until the GC-driven
      * ContextCleaner happens to notice — an unbounded-latency leak
      * in a long-lived session. Non-blocking: nothing re-reads the
      * blocks after [[withStaged]] releases them. */
    def release(): Unit = { rdd.unpersist(blocking = false); () }
  }

  /** Re-root a pair frame into a CHILD session pinned to loop-scale
    * conf. The node/label frames an iterative graph query loops over
    * are |dup docs| rows — a vanishing fraction of the corpus at any
    * scale — so running each round under the full batch
    * shuffle-partition count pays ~rounds × partitions of empty-task
    * scheduling, and AQE re-plans after every materialized stage,
    * pure driver overhead on KB-sized frames. `newSession()` shares
    * the SparkContext (and the registered extensions) but owns its
    * SQLConf, so nothing mutates the caller's session — the
    * set/finally-restore pattern this replaces was a race the day two
    * queries run concurrently. The input's derivation (the corpus
    * scan) is planned BEFORE re-rooting, via `.rdd`, so the heavy
    * upstream still runs at full parallelism with AQE; only the
    * loop-side ops plan at loop size.
    *
    * The loop partition count is SIZED FROM THE DATA (round 8): the
    * input RDD is persisted and counted — one extra action, and the
    * loops' undirected `pairs.union(pairs.reversed)` double-read then
    * hits the cache instead of recomputing the corpus-scan upstream —
    * and the child session pins `loopPartitions(count)` shuffle
    * partitions: floor 8 locally, growing one partition per
    * [[LoopRowsPerPart]] pair rows, so the same code running on a
    * 1000-executor cluster with 10⁹ candidate edges plans ~250-way
    * loop shuffles instead of an 8-way constant that was only ever
    * correct for this box. The caller owns the persisted blocks:
    * [[withStaged]] releases them. */
  private[graft] def stagePairs(in: DataFrame): StagedPairs = {
    val rdd = in.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = rdd.count()
    val ls = in.sparkSession.newSession()
    ls.conf.set("spark.sql.shuffle.partitions",
      loopPartitions(n, in.sparkSession.sparkContext.defaultParallelism)
        .toString)
    ls.conf.set("spark.sql.adaptive.enabled", "false")
    StagedPairs(ls.createDataFrame(rdd, in.schema), n, rdd)
  }

  /** Stage `pairs`, run `body` over them, and release the staged
    * blocks on every exit. The release sits in a `finally` because the
    * bodies throw on purpose — a convergence or mass `require`, an
    * [[R6BoundaryTrip]] the strategy dispatch recovers from — and a
    * release skipped on those paths parks an edge-sized RDD in a
    * long-lived session until GC. The body must materialize whatever
    * it returns (a collect, or the loops' per-round checkpoints):
    * nothing may read the staged blocks after it returns. */
  private[graft] def withStaged[A](pairs: DataFrame)(
      body: StagedPairs => A): A = {
    val st = stagePairs(pairs)
    try body(st) finally st.release()
  }

  /** ~64 MB of (long, long) unsafe rows per loop partition — the
    * shuffle-efficiency ceiling once the graph outgrows the machine. */
  private[graft] val LoopRowsPerPart = 4L * 1000 * 1000

  /** ~250k rows per loop task — the CPU-parallelism target for the
    * per-round joins (each loop round is join+aggregate bound, and a
    * 4M-row task serializes ~2 s of per-round work onto one core —
    * measured at sf3, where the 8-partition floor left 24 of 32 cores
    * idle through 8 contraction rounds). */
  private[graft] val LoopTargetRows = 250L * 1000

  /** Loop shuffle-partition count for an edge frame of `rows` rows on
    * a machine/cluster with `cores` parallel slots: aim for
    * [[LoopTargetRows]]-row tasks, capped at max(cores,
    * rows/[[LoopRowsPerPart]]) — over-splitting beyond the available
    * slots buys nothing UNLESS partitions would exceed ~64 MB, where
    * the cap grows with the data again — floored at 8 so KB-sized
    * frames keep a reasonable minimum spread. Monotone in rows. */
  private[graft] def loopPartitions(rows: Long, cores: Int): Int = {
    val want = (rows + LoopTargetRows - 1) / LoopTargetRows
    val cap = math.max(cores.toLong,
      (rows + LoopRowsPerPart - 1) / LoopRowsPerPart)
    math.max(8L, math.min(want, cap)).min(Int.MaxValue.toLong).toInt
  }

  // ------------------------------------------- local-graph strategy pick

  /** Edge-count ceiling under which the iterative graph family (CC /
    * PageRank / keeper) solves ON THE DRIVER instead of running
    * distributed loop rounds — the physical-strategy pick a cost-based
    * optimizer would make from table statistics, made here from the
    * EXACT edge count the staging job already paid for (stagePairs
    * persists and counts the pair frame to size loop partitions; the
    * strategy signal is free).
    *
    * Why this is the right 100 TB design and not a local-mode cheat:
    * the near-dup candidate graph is |dup pairs| rows — a vanishing
    * fraction of the corpus (sf0.1: ~40 k edges from 60 k docs) — and
    * each distributed round costs several shuffle stages of pure
    * scheduling latency on KB-sized frames (measured ~0.3-0.5 s/round
    * × 8 rounds locally; on a busy 1000-executor cluster a driver
    * round-trip is worse, not better). Below the ceiling the whole
    * graph fits in two primitive long arrays (2 M edges ≈ 32 MB plus
    * the union-find index — driver heaps are tens of GB), the solve is
    * microseconds, and the heavy upstream (the corpus-scale simhash
    * scan) still runs fully distributed. Above it — a truly dirty
    * corpus at 100 TB can push candidate edges into the billions — the
    * star-contraction / power-iteration loops take over unchanged.
    * Both paths are pinned equal by LocalGraphStrategySpec, which
    * forces each through [[Gate.Key]]. The same ceiling caps the
    * participating-class count in [[classGraphLocal]]. */
  private[graft] val LocalGraphMaxEdges: Long = 2L * 1000 * 1000

  /** The `graph` [[Gate]] threshold: the smallest staged edge count
    * that goes distributed. */
  private[graft] val GraphDistributedMinEdges: Long = LocalGraphMaxEdges + 1

  /** Node-count ceiling for broadcasting the per-round node-sized
    * frames (labels / ranks, ~16 bytes a row → ≤ ~32 MB shipped per
    * round) inside the distributed iterative loops. Above it the
    * loops keep their shuffled sort-merge plans. */
  private[graft] val BroadcastGraphNodes: Long = 2L * 1000 * 1000

  /** The `graph` [[Gate]]: true solves on the driver. The edge cap is
    * driver-memory safety, not a strategy pick, so it holds even when
    * [[Gate.Key]] `= small` forces the gate: a graph above
    * [[LocalGraphMaxEdges]] edges runs distributed whatever the key. */
  private def localGraph(s: SparkSession, st: StagedPairs): Boolean =
    !Gate.large(s, "graph", st.edges.toDouble, GraphDistributedMinEdges) &&
      st.edges <= LocalGraphMaxEdges

  /** Monitored r6 (VERDICT r11 #5) for values whose summation ORDER
    * differs between strategies (the driver loop groups m identical
    * contributions as one multiply; the distributed path and the
    * oracle add them one per edge in shuffle order). The ~1e-16
    * relative noise that difference injects is absorbed by the floor
    * EXCEPT within ~|y|·1e-15 of a bucket edge, where the three
    * strategies could legally land in different buckets. This asserts
    * the argument's precondition instead of documenting it: if a rank
    * ever sits that close to a boundary, fail loudly with the value —
    * a silent 1e-6 strategy divergence can never reach a result.
    * Tolerance: 4e-15·|y| (≈40× the one-ulp noise) + 1e-12 absolute;
    * false-trip probability ~1e-11 per value on this data. Runs on
    * every strategy-ambiguous discretization at every SF (the sf3
    * gate's local path included), so the guarantee is monitored in
    * production, not sampled in a spec.
    *
    * A trip is NOT fatal (advice r12): structured inputs can sit ON a
    * boundary legitimately — e.g. a 1-regular class graph whose node
    * count divides 2e6 puts every rank's y exactly on an integer. The
    * trip throws the typed [[R6BoundaryTrip]]; the strategy dispatch
    * catches it and re-runs on the DISTRIBUTED path, whose per-
    * iteration Det.r6 is the oracle-matched convention — the driver
    * shortcut is a pure optimization and is abandoned, never wrong. */
  private[graft] def r6dMonitored(x: Double): Double = {
    val y = x * 1e6 + 0.5
    val tol = 4e-15 * math.abs(y) + 1e-12
    if (math.abs(y - math.rint(y)) <= tol)
      throw new R6BoundaryTrip(
        f"rank $x%.17g sits within $tol%.1e of an r6 bucket boundary — " +
          "summation-order noise could flip the bucket across strategies")
    math.floor(y) / 1e6
  }

  /** A driver-local PageRank iteration produced a rank close enough to
    * an r6 bucket edge that the local and distributed strategies could
    * legally disagree. Callers fall back to the distributed strategy. */
  private[graft] final class R6BoundaryTrip(msg: String)
    extends RuntimeException(msg)

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The driver-side class graph a local solve reads: the staged class
    * edges as two primitive arrays, collected once, and — for a
    * weighted solve — the participating classes (ascending reps) with
    * their member counts `m`. */
  private[graft] final case class LocalGraph(ea: Array[Long],
      eb: Array[Long], reps: Array[Long], m: Array[Long])

  /** The one strategy dispatch of the iterative graph family
    * (q_llm_dedup_cc, q_graph_pagerank, q_graph_pagerank_conv,
    * q_llm_keeper): build the fingerprint class graph, stage its edges,
    * ask the `graph` gate ([[classGraphLocal]]), then run `local` on
    * the driver or `distributed` over the loop machinery. A local solve
    * that throws [[R6BoundaryTrip]] is abandoned for the distributed
    * body — the driver shortcut is an optimization, never the answer.
    *
    * `weighted`: the solve needs class weights (PageRank — a class's
    * member count is part of every member's degree). The local solve
    * then also gets the participating classes, and the distributed
    * body runs over the expanded doc-level pairs, because the loops
    * have no weighted form. Unweighted (CC — contracting a class to one
    * node preserves components exactly), both sides run on the class
    * edges.
    *
    * Both closures get the fingerprint classes; `distributed` also
    * gets the staged loop frame. Every staging goes through
    * [[withStaged]], so the closures neither stage nor release. */
  private[graft] def graphQuery[A](s: SparkSession, d: String,
      query: String, weighted: Boolean)(local: (DataFrame, LocalGraph) => A)(
      distributed: (DataFrame, DataFrame) => A): A = {
    val (classes, classEdges) = LlmExt.simhashClassGraph(s, d)
    withStaged(classEdges.toDF("da", "db")) { st =>
      def dist(): A =
        if (!weighted) distributed(classes, st.df)
        else withStaged(
            LlmExt.dedupSimhash(s, d).select(col("da"), col("db")))(
          stx => distributed(classes, stx.df))
      classGraphLocal(s, classes, st, weighted) match {
        case Some(g) =>
          try local(classes, g)
          catch { case t: R6BoundaryTrip =>
            logger.warn(s"graft $query: ${t.getMessage}; abandoning the " +
              "driver-local strategy and re-running distributed")
            dist()
          }
        case None => dist()
      }
    }
  }

  /** The staged (da, db) pairs as two primitive arrays (driver path
    * only — callers have already passed [[localGraph]]). */
  private def collectEdges(st: StagedPairs): (Array[Long], Array[Long]) = {
    val rows = st.rdd.map(r => (r.getLong(0), r.getLong(1))).collect()
    val a = new Array[Long](rows.length)
    val b = new Array[Long](rows.length)
    var i = 0
    while (i < rows.length) { a(i) = rows(i)._1; b(i) = rows(i)._2; i += 1 }
    (a, b)
  }

  /** Node table for a symmetric edge list: distinct endpoint ids
    * (sorted ascending) plus a dense id→index map. */
  private def indexNodes(da: Array[Long], db: Array[Long])
      : (Array[Long], scala.collection.mutable.LongMap[Int]) = {
    val set = scala.collection.mutable.SortedSet.empty[Long]
    da.foreach(set += _); db.foreach(set += _)
    val nodes = set.toArray
    val ix = scala.collection.mutable.LongMap.empty[Int]
    var i = 0
    while (i < nodes.length) { ix(nodes(i)) = i; i += 1 }
    (nodes, ix)
  }

  /** Union-find (path halving + union by size) → per-node component
    * min-label, the same fixpoint the star contraction converges to. */
  private def unionFindLabels(nodes: Array[Long],
      ix: scala.collection.mutable.LongMap[Int],
      da: Array[Long], db: Array[Long]): Array[Long] = {
    val parent = Array.tabulate(nodes.length)(identity)
    val size = Array.fill(nodes.length)(1)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < da.length) {
      val ra = find(ix(da(i))); val rb = find(ix(db(i)))
      if (ra != rb) {
        if (size(ra) < size(rb)) { parent(ra) = rb; size(rb) += size(ra) }
        else { parent(rb) = ra; size(ra) += size(rb) }
      }
      i += 1
    }
    // nodes is sorted ascending, so the first id seen per root is the
    // component min — one pass, no second reduction
    val minLbl = Array.fill(nodes.length)(Long.MaxValue)
    i = 0
    while (i < nodes.length) {
      val r = find(i)
      if (minLbl(r) == Long.MaxValue) minLbl(r) = nodes(i)
      i += 1
    }
    Array.tabulate(nodes.length)(j => minLbl(find(j)))
  }

  /** Local CC: the exact (id, lbl) label frame of dedupCcLoopLabels,
    * computed in one driver union-find pass. */
  private def ccLocalLabels(spark: SparkSession, g: LocalGraph)
      : DataFrame = {
    val (nodes, ix) = indexNodes(g.ea, g.eb)
    val labels = unionFindLabels(nodes, ix, g.ea, g.eb)
    import spark.implicits._
    nodes.indices.map(i => (nodes(i), labels(i))).toDF("id", "lbl")
  }

  /** The class graph collected to the driver, or None when the `graph`
    * gate ([[localGraph]]) sends it distributed or, for a `weighted`
    * solve, the participating classes exceed the driver ceiling.
    * Participating = classes whose members have ≥ 1
    * expanded edge: m ≥ 2 (intra-class clique) or linked by a class
    * edge. The count guard matters independently of the edge count —
    * a 100M-doc corpus of exact 2-way duplicates has ZERO class edges
    * and 50M participating classes; that regime must stay
    * distributed. Like the edge cap in [[localGraph]], the guard and
    * its collect limit are driver-memory safety: they hold at
    * [[LocalGraphMaxEdges]] even when [[Gate.Key]] `= small` forces
    * the gate. */
  private def classGraphLocal(s: SparkSession, classes: DataFrame,
      st: StagedPairs, weighted: Boolean): Option[LocalGraph] = {
    if (!localGraph(s, st)) return None
    val parts = if (!weighted) Array.empty[(Long, Long)] else {
      val linked = st.df.select(explode(array(col("da"), col("db")))
        .as("rep")).distinct()
      classes.select(col("rep"), col("m"))
        .filter(col("m") > 1)
        .unionByName(classes.select(col("rep"), col("m"))
          .join(linked, Seq("rep"), "left_semi"))
        .dropDuplicates("rep")
        .limit(LocalGraphMaxEdges.toInt + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    if (parts.length > LocalGraphMaxEdges) return None
    val sorted = parts.sortBy(_._1)
    val (ea, eb) = collectEdges(st)
    Some(LocalGraph(ea, eb, sorted.map(_._1), sorted.map(_._2)))
  }

  /** Weighted CLASS-LEVEL PageRank power iteration — the exact
    * expanded-graph semantics computed per fingerprint class: member
    * ranks are uniform within a class (by symmetry, preserved by
    * every iteration), every member of C has
    * outdeg = (m_C − 1) + Σ_{D~C} m_D, and the inbound mass of a
    * member of C is (m_C−1)·r_C/od_C + Σ_{D~C} m_D·r_D/od_D. Only
    * the FP grouping differs from the oracle's per-edge summation
    * (k·x vs x summed k times — ~1e-16), which the per-iteration r6
    * discretization absorbs: the argument that already carries the
    * Spark-vs-DuckDB hash match for distributed summation order. */
  /** Inbound mass sums here as (m·r)/od per neighbour in one
    * sequential driver loop, while the distributed pagerankOver adds
    * m copies of r/od in shuffle order — a ~1-ulp difference the
    * per-iteration r6 floor absorbs except within ~1e-15 of a bucket
    * boundary. That residual is no longer an accepted risk: every
    * iteration update discretizes through [[r6dMonitored]], which
    * FAILS if a rank ever sits close enough to a boundary for the
    * strategies to diverge (the init is exempt — 0.15/n is the same
    * IEEE op sequence in all three strategies, bit-identical). */
  private def prClassRanks(reps: Array[Long], m: Array[Long],
      ea: Array[Long], eb: Array[Long],
      iters: Int, discretizeInit: Boolean): Array[Double] = {
    val ix = scala.collection.mutable.LongMap.empty[Int]
    reps.indices.foreach(i => ix(reps(i)) = i)
    val k = reps.length
    val nbm = new Array[Long](k)
    var i = 0
    while (i < ea.length) {
      val a = ix(ea(i)); val b = ix(eb(i))
      nbm(a) += m(b); nbm(b) += m(a); i += 1
    }
    val od = Array.tabulate(k)(j => (m(j) - 1) + nbm(j))
    val n = m.sum.toDouble
    var r = Array.fill(k)(if (discretizeInit) Det.r6d(1.0 / n) else 1.0 / n)
    for (_ <- 1 to iters) {
      val inm = new Array[Double](k)
      var j = 0
      while (j < k) {
        if (m(j) > 1) inm(j) += (m(j) - 1) * r(j) / od(j)
        j += 1
      }
      i = 0
      while (i < ea.length) {
        val a = ix(ea(i)); val b = ix(eb(i))
        inm(b) += m(a) * r(a) / od(a)
        inm(a) += m(b) * r(b) / od(b)
        i += 1
      }
      r = Array.tabulate(k)(j => r6dMonitored(0.15 / n + 0.85 * inm(j)))
    }
    r
  }

  /** Class-local PageRank expanded to the member-level
    * (doc_id, rank) frame — the class→member fan-out stays a
    * distributed broadcast join + explode; only |classes| rows ever
    * visit the driver. */
  private def prClassDf(classes: DataFrame, g: LocalGraph,
      iters: Int, discretizeInit: Boolean): DataFrame = {
    val reps = g.reps
    val r = prClassRanks(reps, g.m, g.ea, g.eb, iters, discretizeInit)
    val spark = classes.sparkSession
    import spark.implicits._
    val ranks = reps.indices.map(i => (reps(i), r(i))).toDF("rep", "rank")
    classes.join(broadcast(ranks), "rep") // inner: non-participants drop
      .select(explode(col("ids")).as("doc_id"), col("rank"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------------------------- graph loop kit

  /** The undirected edge list of a (da, db) pair frame: both
    * orientations, as (src, dst). */
  private def undirected(pairs: DataFrame): DataFrame =
    pairs.union(pairs.select(col("db"), col("da"))).toDF("src", "dst")

  /** The loop-invariant edge frame of a distributed loop: undirected,
    * pinned to the loop session's partition count ([[stagePairs]] sized
    * it from the edge count) so the per-round joins read co-partitioned
    * checkpoint blocks instead of re-exchanging (a checkpoint preserves
    * partitioning), and lazily checkpointed — the loop's first
    * [[materialize]] computes it, persists its blocks and truncates
    * its lineage in the same job. */
  private def loopEdges(pairs: DataFrame): DataFrame =
    undirected(pairs).repartition(col("src"))
      .transform(Staged.checkpointLazy)

  /** Fused materialization of one loop round: `df` is marked for lazy
    * local checkpointing, and ONE `rdd.aggregate` action both persists
    * the round's blocks and returns (row count, Σ column 1) — the
    * loops' convergence or mass probe. One job per round where an
    * eager checkpoint and then an aggregate paid two (the iterative
    * family's latency is driver round-trips, not data). Over zero rows
    * it returns (0, 0) — an edge-free graph (a clean corpus has no
    * simhash dup edges at all). `N` keeps the sum's type: a Long label
    * sum cannot lose low bits to FP and fake a convergence equality. */
  private def materialize[N: Numeric: ClassTag](df: DataFrame)(
      value: Row => N): (DataFrame, Long, N) = {
    val num = implicitly[Numeric[N]]
    val cp = df.transform(Staged.checkpointLazy)
    val (n, sum) = cp.rdd.aggregate((0L, num.zero))(
      (a, r) => (a._1 + 1L, num.plus(a._2, value(r))),
      (a, b) => (a._1 + b._1, num.plus(a._2, b._2)))
    (cp, n, sum)
  }

  /** The node-side broadcast choice of the distributed loops, from the
    * exact node count their first [[materialize]] returned.
    * Checkpointed frames carry no catalyst stats (LogicalRDD sizes as
    * "unknown = huge"), so every per-round join would plan as a
    * sort-merge join and RE-SORT the edge frame each round — at sf3
    * (8.8M directed edges) that was ~90 executor-CPU-s PER ROUND. The
    * label/rank frames are |nodes| rows; when that is broadcastable
    * (dup graphs are cliquey — edges ≫ nodes — so the distributed
    * regime usually has bounded node counts even when the edge count
    * forced it past the local solve), hint them broadcast: edges are
    * probed in place, never sorted, and the only per-round exchange is
    * the map-side-combined groupBy. Above [[BroadcastGraphNodes]] the
    * SMJ plan stands — a 10⁹-node frame must shuffle, not ship. */
  private def nodeSide(nodes: Long): DataFrame => DataFrame =
    if (nodes <= BroadcastGraphNodes) broadcast(_) else identity

  /** Package-visible so the property test can drive the contraction
    * over arbitrary random graphs against a reference union-find.
    * Callers pass a [[stagePairs]]-rooted pair frame (q_llm_keeper
    * shares one checkpointed frame between this loop and PageRank). */
  private[graft] def dedupCcLoop(pairs: DataFrame): DataFrame = {
    val labels = dedupCcLoopLabels(pairs)
    val sizes = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("cluster"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** The label fixpoint alone — (id, lbl) for every node of the pair
    * graph — for callers (class-contracted dedupCc) that do their own
    * size accounting during member expansion. */
  private[graft] def dedupCcLoopLabels(pairs: DataFrame): DataFrame = {
    // ONE job materializes both loop invariants: the first
    // materialize computes the lazily checkpointed edges as well.
    val edges = loopEdges(pairs)
    // convergence witness: labels only ever DECREASE, so the label sum
    // strictly decreases until the fixpoint — comparing two scalar
    // sums replaces a per-round labels⨝labels diff join
    var (labels, nNodes, prevSum) = materialize(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")))(_.getLong(1))
    val side = nodeSide(nNodes)
    var converged = false
    var rounds = 0
    val MaxRounds = 20
    while (!converged && rounds < MaxRounds) {
      val roundT0 = System.nanoTime()
      // min over the direct neighborhood — plain hash-min. Alone this
      // needs O(diameter) rounds (measured: diameter 16 on the sf0.1
      // dup graph ⇒ 16 rounds of fixed job overhead). edges and labels
      // are co-partitioned on the join key (8, hash), so the only
      // exchange here is the groupBy(dst).
      val nbrMin = edges.join(side(labels),
          edges("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("lbl"))
        .select(col("dst").as("id"), col("lbl"))
      // star contraction, not plain propagation: every node re-reads
      // its root's label (down) and reports its neighborhood min to
      // its root (up). Roots aggregate their whole tree's discoveries
      // each round and broadcast them back the next — low-id regions
      // merge through hubs instead of one edge-hop per round. Plain
      // hash-min measured 16 rounds on the sf0.1 dup graph (= its
      // diameter); this closes in 8 there (2 at sf0.01), fixpoint-
      // confirmation round included. lbl always names a node of the
      // same component with lbl ≤ id, so every candidate label stays
      // in-component and the fixpoint (component min) is unchanged.
      //
      // ONE co-partitioned labels⨝nbrMin join (both hash-partitioned
      // on id — zero exchanges) yields a combined (id, lbl, nm) frame
      // that emits BOTH the self candidate least(lbl, nm) AND the
      // up-report (root ← nm) — the separate up join of the earlier
      // formulation is gone. The inner join is total: symmetric edges
      // make every node somebody's dst, so nbrMin covers all of labels.
      val combined = labels
        .join(side(nbrMin.withColumnRenamed("lbl", "nm")), "id")
      val self = combined
        .select(col("id"), least(col("lbl"), col("nm")).as("lbl"))
      val up = combined.select(col("lbl").as("id"), col("nm").as("lbl"))
      // down: each node re-reads its root's freshest (post-self) label;
      // self is already partitioned on rid = id, so only the labels
      // side exchanges (by lbl)
      val down = labels
        .join(side(
            self.select(col("id").as("rid"), col("lbl").as("rlbl"))),
          labels("lbl") === col("rid"))
        .select(labels("id"), col("rlbl").as("lbl"))
      // self covers every id and is dominated-by-construction ≤ the old
      // label, so the old labels frame drops out of the union
      val (next, _, nextSum) = materialize(
        self.union(up).union(down)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl")))(_.getLong(1))
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      rounds += 1
      logger.debug(f"graft dedupCc: round $rounds%d took " +
        f"${(System.nanoTime() - roundT0) / 1e9}%.3f s (sum=$nextSum%d)")
    }
    require(converged, s"hash-min did not converge in $MaxRounds rounds")
    labels
  }

  private val dedupCcSql =
    s"""WITH RECURSIVE ${LlmExt.simhashFpsCtes},
       |e AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM fps a JOIN fps b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
       |u AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       |r AS (
       |  SELECT a AS id, a AS reach FROM u
       |  UNION
       |  SELECT r.id, u.b FROM r JOIN u ON r.reach = u.a),
       |c AS (SELECT id, min(reach) AS cluster FROM r GROUP BY id)
       |SELECT id AS doc_id, cluster,
       |       count(*) OVER (PARTITION BY cluster)::BIGINT AS cluster_size
       |FROM c ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ q_graph_pagerank

  /** One PageRank power iteration over the near-dup pair graph (the
    * same simhash edges q_llm_dedup_cc clusters) from the uniform
    * start: rank₁(v) = 0.15/n + 0.85·Σ_{u→v} rank₀(u)/outdeg(u) —
    * the "centrality of a duplicate" signal a curation pipeline uses
    * to pick which copy of a near-dup cluster to keep (the hub of the
    * cluster, not an arbitrary min-id). Undirected graph → every node
    * has outdeg ≥ 1, so there is no dangling-mass term. Shape: the
    * degree table is one map-side-combined aggregation; contributions
    * are one shuffle join edges⨝degrees + one reduce by dst — a
    * single iteration is exactly two shuffles no matter the graph
    * size, and the n scalar rides in as a broadcast 1-row aggregate
    * (never a window over the node set). Further iterations repeat
    * the same two shuffles off the previous rank table — the loop
    * harness is dedupCcLoop's (checkpoint + convergence probe),
    * deliberately not duplicated here. */
  /** The iteration body over an arbitrary (da, db) pair frame —
    * package-visible so q_llm_keeper composes it with the CC labels
    * off ONE shared pair computation. */
  private[graft] def pagerankOver(pairs: DataFrame): DataFrame = {
    val edges = undirected(pairs)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val n = deg.agg(count(lit(1)).as("n"))
    edges.join(deg, "src")
      .crossJoin(broadcast(n))
      .select(col("dst"),
        (lit(1.0) / col("n") / col("outdeg")).as("contrib"), col("n"))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("inmass"), max(col("n")).as("nn"))
      .select(col("dst").as("doc_id"),
        Det.r6(lit(0.15) / col("nn") + lit(0.85) * col("inmass"))
          .as("rank"))
  }

  private def graphPagerank(s: SparkSession, d: String): DataFrame =
    graphQuery(s, d, "pagerank", weighted = true)(
      prClassDf(_, _, iters = 1, discretizeInit = false))(
      // pagerankOver is lazy: an eager checkpoint (registered for
      // sweep) is what it reads once the staged pairs are released
      (_, pairs) =>
        pagerankOver(Staged.checkpoint(pairs)).orderBy(col("doc_id")))

  private val graphPagerankSql =
    s"""WITH ${LlmExt.simhashFpsCtes},
       |e AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM fps a JOIN fps b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
       |u AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT src, count(*) AS outdeg FROM u GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg)
       |SELECT u.dst AS doc_id,
       |       ${Det.sql6(
            "0.15 / any_value(nn.n) + " +
            "0.85 * sum((1.0 / nn.n) / deg.outdeg)")} AS rank
       |FROM u JOIN deg ON u.src = deg.src CROSS JOIN nn
       |GROUP BY u.dst ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- q_graph_pagerank_conv

  /** PageRank run to its fixpoint — the multi-iteration completion of
    * q_graph_pagerank (which scores exactly one power step), proving
    * the "further iterations repeat the same two shuffles" cost claim
    * by actually iterating. Structure per the loop-harness playbook:
    * the contribution frame (edges ⨝ outdegrees, with the node count
    * attached from a broadcast 1-row aggregate) is checkpointed ONCE;
    * each of the k=12 iterations is then ONE co-partitioned join
    * (contrib and ranks both hash-partitioned on src=id — zero
    * exchanges) plus one reduce by dst, lazily checkpointed with the
    * Σrank mass-conservation probe FUSED into the materialization
    * action — one Spark job per iteration, the dedupCcLoop discipline.
    * Cross-engine determinism: ranks are r6-discretized EVERY
    * iteration on both engines, so each iteration's inputs are
    * bit-identical and FP summation-order noise (~1e-17) cannot
    * compound across 12 rounds (the q_llm_kmeans discretized-inputs
    * argument, iterated). 12 iterations reach the fixpoint of the
    * discretized map on this graph family (sf0.1 measured: stable by
    * ~iteration 9); the oracle unrolls the same 12 as chained CTEs.
    * Undirected graph ⇒ no dangling mass; the probe requires
    * |Σrank − 1| ≤ n·5e-7 (each r6 floor forfeits < 5e-7 of mass). */
  private val PrIters = 12

  /** Package-visible so the spec can read the per-iteration masses and
    * compare iteration counts (fixpoint stability). */
  private[graft] def pagerankConvOver(pairs: DataFrame,
      iters: Int = PrIters): (DataFrame, Seq[Double]) = {
    val edges = loopEdges(pairs)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val n = deg.agg(count(lit(1)).as("n"))
    // contributions scaffold: (src, dst, outdeg, n), partitioned on src
    val contrib = edges.join(deg, "src").crossJoin(broadcast(n))
      .transform(Staged.checkpointLazy)
    // Σrank rides the fused materialization: the mass probe
    var (ranks, nNodes, mass0) = materialize(
      deg.crossJoin(broadcast(n))
        .select(col("src").as("id"),
          Det.r6(lit(1.0) / col("n")).as("rank")))(_.getDouble(1))
    val masses = Seq.newBuilder[Double]
    masses += mass0
    val side = nodeSide(nNodes)
    for (_ <- 1 to iters) {
      val next = contrib.join(side(ranks),
          contrib("src") === ranks("id"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") / col("outdeg")).as("inmass"),
          max(col("n")).as("nn"))
        .select(col("dst").as("id"),
          Det.r6(lit(0.15) / col("nn") + lit(0.85) * col("inmass"))
            .as("rank"))
      val (cp, cnt, mass) = materialize(next)(_.getDouble(1))
      ranks = cp
      // loud mass-conservation gate (skip on an edge-free graph, where
      // every frame is empty and the query legitimately returns 0 rows).
      // Budget: per-round r6 rounding error is <= n*5e-7, and the 0.85
      // damping compounds it geometrically, worst case
      // n*5e-7/(1-0.85) ~= 3.3e-6*n — gate at that accumulated bound,
      // not the single-round one, so a legitimate large-SF run whose
      // signed errors don't happen to cancel can't trip the require.
      require(cnt == 0 || math.abs(mass - 1.0) <= nNodes * 5e-7 / 0.15,
        f"PageRank mass drifted: |$mass%.9f - 1| > n*5e-7/0.15 (n=$nNodes)")
      masses += mass
    }
    (ranks.select(col("id").as("doc_id"), col("rank")), masses.result())
  }

  private def graphPagerankConv(s: SparkSession, d: String): DataFrame =
    graphQuery(s, d, "pagerank_conv", weighted = true)(
      prClassDf(_, _, iters = PrIters, discretizeInit = true))(
      (_, pairs) => pagerankConvOver(pairs)._1.orderBy(col("doc_id")))

  private val graphPagerankConvSql = {
    val iter = (prev: String, cur: String) =>
      s"""$cur AS (
         |  SELECT u.dst AS id,
         |         ${Det.sql6(
              "0.15 / any_value(nn.n) + " +
              s"0.85 * sum(p.rank / deg.outdeg)")} AS rank
         |  FROM u JOIN deg ON u.src = deg.src
         |         JOIN $prev p ON u.src = p.id CROSS JOIN nn
         |  GROUP BY u.dst)"""
    val chain = (1 to PrIters)
      .map(i => iter(s"pr${i - 1}", s"pr$i")).mkString(",\n")
    s"""WITH ${LlmExt.simhashFpsCtes},
       |e AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM fps a JOIN fps b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
       |u AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT src, count(*) AS outdeg FROM u GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |pr0 AS (
       |  SELECT src AS id, ${Det.sql6("1.0 / nn.n")} AS rank
       |  FROM deg CROSS JOIN nn),
       |$chain
       |SELECT id AS doc_id, rank FROM pr$PrIters ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- q_llm_keeper

  /** The curation step the dedup stack exists for: cluster the
    * near-dup pairs (star-contraction CC) and KEEP each cluster's
    * PageRank hub — the copy most connected to its duplicates, a
    * better canonical pick than min-id when near-dups differ in
    * quality (truncations and mangled variants sit on the cluster
    * fringe with fewer edges). The pair graph is computed ONCE
    * (checkpointed) and feeds both the CC loop and the rank
    * iteration; the final join + per-cluster argmax ride the
    * |dup docs|-sized frames. Rank ties (common — uniform local
    * structure) break by min doc_id; both engines sort the identical
    * r6-discretized doubles, so the pick is deterministic. */
  private def llmKeeper(s: SparkSession, d: String): DataFrame = {
    // one class graph feeds both CC and the rank step, whichever
    // strategy the gate picks
    val (cc, pr) = graphQuery(s, d, "keeper", weighted = true)(
      (classes, g) => (expandCc(classes, ccLocalLabels(s, g)),
        prClassDf(classes, g, iters = 1, discretizeInit = false)))(
      { (_, pairs) =>
        // one eager checkpoint (registered for sweep) shared by the CC
        // loop and the lazy rank step, which reads it after release
        val p = Staged.checkpoint(pairs)
        (dedupCcLoop(p), pagerankOver(p))
      })
    cc.join(pr, "doc_id")
      .transform(Relational.topKOver(_, Seq(col("cluster")),
        Seq(col("rank").desc, col("doc_id")), 1, "rn"))
      .select(col("cluster"), col("cluster_size").as("n_members"),
        col("doc_id").as("keeper_doc"), col("rank").as("keeper_rank"))
      .orderBy(col("cluster"))
  }

  private val llmKeeperSql =
    s"""WITH RECURSIVE ${LlmExt.simhashFpsCtes},
       |e AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM fps a JOIN fps b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
       |u AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
       |r AS (
       |  SELECT src AS id, src AS reach FROM u
       |  UNION
       |  SELECT r.id, u.dst FROM r JOIN u ON r.reach = u.src),
       |c AS (SELECT id, min(reach) AS cluster FROM r GROUP BY id),
       |deg AS (SELECT src, count(*) AS outdeg FROM u GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |pr AS (
       |  SELECT u.dst AS id,
       |         ${Det.sql6(
            "0.15 / any_value(nn.n) + " +
            "0.85 * sum((1.0 / nn.n) / deg.outdeg)")} AS rank
       |  FROM u JOIN deg ON u.src = deg.src CROSS JOIN nn
       |  GROUP BY u.dst),
       |k AS (
       |  SELECT c.cluster, c.id, pr.rank,
       |         row_number() OVER (PARTITION BY c.cluster
       |                            ORDER BY pr.rank DESC, c.id) AS rn,
       |         count(*) OVER (PARTITION BY c.cluster) AS n_members
       |  FROM c JOIN pr ON c.id = pr.id)
       |SELECT cluster, n_members::BIGINT AS n_members,
       |       id AS keeper_doc, rank AS keeper_rank
       |FROM k WHERE rn = 1 ORDER BY cluster""".stripMargin

  // ----------------------------------------------------- q_llm_dedup_substr

  /** Cross-document repeated-span detection — the ExactSubstr dedup
    * stage of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), approximated at span granularity:
    * a 20-token window occurring verbatim in ≥2 documents marks a
    * duplicated span. Per document: window count, cross-duplicated
    * window count, duplicated fraction, and a flag. Windows are
    * xxhash64'd longs (ngramHashes; the oracle compares the strings —
    * identical up to ~1e-9 collisions). Shape at 100 TB: span doc
    * frequency via a map-side-combined `groupBy(h).count()` over the
    * (doc, window-hash) pairs, the ≥2-doc spans joined back as a
    * shared mark, then ONE per-doc reduce counting total and marked
    * spans together. The df step deliberately does NOT use a count
    * window over h: a boilerplate 20-token span recurs in millions of
    * documents at corpus scale, and an unordered window cannot
    * partially aggregate — ONE task would receive every carrier row
    * of the hot span — where the groupBy partial-aggregates it on
    * every map task. The pair set is derived twice (df aggregate +
    * probe side) rather than checkpointed: re-exploding is one more
    * codegen'd scan of the docs, while materializing ~20× the corpus
    * would dominate the query. The shared-span side of the join is
    * one row per duplicated span — AQE broadcasts it when small
    * (keeping the probe side's doc-locality, so the final per-doc
    * reduce is map-side combined down to ~|docs| rows) and
    * skew-splits the sort-merge when it is not. No pairwise
    * comparison ever happens, unlike the suffix-array formulation
    * this approximates. */
  private def dedupSubstr(s: SparkSession, d: String): DataFrame = {
    def pairs = Llm.docs(s, d)
      .filter(size(split(col("text"), " ")) >= 20)
      .select(col("doc_id"),
        explode(LlmQuality.ngramHashes("text", 20)).as("h"))
    val frac = col("n_shared_spans").cast("double") /
      col("n_spans").cast("double")
    // (doc_id, h) pairs are distinct per doc (ngramHashes dedups), so
    // the count per h IS the doc frequency
    val shared = pairs
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"), lit(1L).as("is_shared"))
    pairs
      .join(shared, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("is_shared"), lit(0L))).as("n_shared_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_shared_spans"),
        Det.r4(frac).as("shared_frac"),
        (Det.r4(frac) >= 0.05).as("has_cross_dup"))
      .orderBy(col("doc_id"))
  }

  private val dedupSubstrSql = {
    val gram = (0 until 20).map(o => s"w[i+$o]").mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 20),
       |g AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_transform(range(1, len(w) - 18),
       |           i -> $gram))) AS gr
       |  FROM t),
       |sh AS (SELECT gr FROM g GROUP BY gr HAVING count(*) >= 2)
       |SELECT doc_id, count(*) AS n_spans,
       |       count(sh.gr) AS n_shared_spans,
       |       ${Det.sql4("count(sh.gr)::DOUBLE / count(*)")} AS shared_frac,
       |       ${Det.sql4("count(sh.gr)::DOUBLE / count(*)")} >= 0.05
       |         AS has_cross_dup
       |FROM g LEFT JOIN sh ON g.gr = sh.gr
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ q_graph_triangles

  /** Per-node triangle counts + degree over the simhash dup-pair graph
    * — the cluster-shape diagnostic the curation stack reads BEFORE
    * collapsing: triangle-dense clusters are clique-like (mutual
    * near-dups, safe to keep one copy), triangle-free chains are
    * borderline transitive merges (each hop barely a dup — the CC
    * cluster may be over-merged).
    *
    * CLASS-CONTRACTED like the CC/keeper family ([[LlmExt
    * .simhashClassGraph]]): the expanded dup graph is exactly the
    * m≥2 classes' member cliques ∪ the complete bipartite expansion
    * of every class edge, so wedge-joining EXPANDED edges repeats
    * ~m³ of identical work per duplication class (measured: sf1→sf3
    * at 3× data ran 4.5× — the last superlinear scored batch query).
    * Per-member counts collapse to class algebra instead — for a
    * member of class A with multiplicity m_A, neighbors B~A:
    *
    *   degree      = (m_A−1) + Σ m_B
    *   n_triangles = C(m_A−1,2)                 (both others in A)
    *               + (m_A−1)·Σ m_B              (one in A, one in B)
    *               + Σ C(m_B,2)                 (both in one B)
    *               + Σ_{B~C, both ~A} m_B·m_C   (class triangles)
    *
    * Only the last term needs triangle enumeration, and it runs the
    * oriented "forward" wedge algorithm (e(a,b)⨝e(b,c) probed
    * against e(a,c), every triangle found exactly once) on the CLASS
    * graph — distinct-content geometry, duplication-invariant; its
    * candidate volume is Σ outdeg², the bound the degree-ordered
    * production variant tightens to O(m^1.5) at 100 TB. All-integer
    * algebra: engine-exact, no discretization caveats. Members
    * re-expand only at output (one row per triangle-participating
    * doc, linear). TriangleCollapseSpec pins the identity against
    * the expanded formulation on a heavily duplicated frame. */
  private def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val (classes, rawEdges) = LlmExt.simhashClassGraph(s, d)
    val ce = rawEdges.select(
        least(col("ra"), col("rb")).as("lo"),
        greatest(col("ra"), col("rb")).as("hi"))
      .transform(Staged.checkpoint) // feeds adjacency, wedge, closure probe
    val m = classes.select(col("rep"), col("m"))
    // undirected adjacency with neighbour multiplicity → per-class
    // Σ m_B and Σ C(m_B,2) (map-side combined; |class edges| rows)
    val adj = ce.select(col("lo").as("rep"), col("hi").as("nbr"))
      .unionByName(ce.select(col("hi").as("rep"), col("lo").as("nbr")))
      .join(m.toDF("nbr", "nm"), "nbr")
    val nbrAgg = adj.groupBy(col("rep"))
      .agg(sum(col("nm")).as("s1"),
        sum(expr("nm * (nm - 1) DIV 2")).as("s2"))
    // class triangles a<b<c on the lo<hi orientation; each one feeds
    // all three corners with the product of the OTHER two sizes
    val wedges = ce.toDF("a", "b").join(ce.toDF("b", "c"), "b")
      .select(col("a"), col("b"), col("c"))
    val tri = wedges.join(ce.toDF("a", "c"), Seq("a", "c"))
    val triContrib = tri
      .join(m.toDF("a", "ma"), "a")
      .join(m.toDF("b", "mb"), "b")
      .join(m.toDF("c", "mc"), "c")
      .select(explode(array(
        struct(col("a").as("rep"), (col("mb") * col("mc")).as("tc")),
        struct(col("b").as("rep"), (col("ma") * col("mc")).as("tc")),
        struct(col("c").as("rep"), (col("ma") * col("mb")).as("tc"))))
        .as("x"))
      .groupBy(col("x.rep").as("rep")).agg(sum(col("x.tc")).as("t"))
    classes
      .join(nbrAgg, Seq("rep"), "left")
      .join(triContrib, Seq("rep"), "left")
      .select(col("ids"), col("m"),
        coalesce(col("s1"), lit(0L)).as("s1"),
        coalesce(col("s2"), lit(0L)).as("s2"),
        coalesce(col("t"), lit(0L)).as("t"))
      .select(col("ids"),
        (col("m") - 1L + col("s1")).as("degree"),
        (expr("(m - 1) * (m - 2) DIV 2") + (col("m") - 1L) * col("s1")
          + col("s2") + col("t")).as("n_triangles"))
      .filter(col("n_triangles") >= 1L)
      .select(explode(col("ids")).as("doc_id"),
        col("degree"), col("n_triangles"))
      .orderBy(col("doc_id"))
  }

  /** Skew gate for [[triangleCountsOver]]'s orientation choice: the
    * id orientation's wedge volume is hub-quadratic, so once the max
    * degree passes `factor · √m` the degree ordering's O(m^1.5)
    * bound wins. 4 ≈ where the relabel join starts paying for itself
    * on this box; any constant keeps the asymptotic claim. */
  private val TriSkewFactor = 4.0

  /** The `triangle` gate's probe: how far the max degree exceeds
    * [[TriSkewFactor]]·√m, for a graph of `edges` distinct edges. */
  private[graft] def triangleSkew(maxDegree: Long, edges: Double): Double =
    maxDegree.toDouble - TriSkewFactor * math.sqrt(edges)

  /** The degree order runs iff the max degree STRICTLY exceeds
    * [[TriSkewFactor]]·√m: the smallest positive [[triangleSkew]]
    * (a double difference is positive iff its left side is larger). */
  private[graft] val TriangleMinSkew = Double.MinPositiveValue

  /** Oriented edges + unclosed wedges for [[triangleCountsOver]] —
    * split out so the spec can count the CANDIDATE volume each
    * orientation generates (the scale argument, asserted rather than
    * prose). Orientation key: (degree, node) when `byDegree`, else
    * (node) — one algorithm, two total orders. */
  private[graft] def triangleWedges(e: DataFrame, degrees: DataFrame,
      byDegree: Boolean): (DataFrame, DataFrame) = {
    // orient each edge from the (w, id)-lesser endpoint; carry the
    // destination's key so the wedge pair can be ordered without a
    // re-join. Flat path: `e` is canonical (a < b), so the (0, id)
    // order IS the id order — the orientation is a pure projection,
    // no degree joins (the common unskewed case pays nothing for the
    // skew machinery).
    val eo = (if (!byDegree)
        e.select(col("a").as("src"), col("b").as("dst"), lit(0L).as("wd"))
      else {
        val ok = degrees.select(col("node"), col("degree").as("w"))
        e.join(ok.toDF("a", "wa"), "a").join(ok.toDF("b", "wb"), "b")
          .select(when(col("wa") < col("wb") ||
              (col("wa") === col("wb") && col("a") < col("b")),
              struct(col("a").as("src"), col("b").as("dst"),
                col("wb").as("wd")))
            .otherwise(
              struct(col("b").as("src"), col("a").as("dst"),
                col("wa").as("wd")))
            .as("o"))
          .select(col("o.src").as("src"), col("o.dst").as("dst"),
            col("o.wd").as("wd"))
      })
      .transform(Staged.checkpoint) // feeds both wedge copies + the closure probe
    val wedges = eo.toDF("s", "b", "wb").join(eo.toDF("s", "c", "wc"), "s")
      .filter(col("wb") < col("wc") ||
        (col("wb") === col("wc") && col("b") < col("c")))
      .select(col("s"), col("b"), col("c"))
    (eo, wedges)
  }

  /** Generic per-node triangle counting over ANY user edge list —
    * the Graft facade's core (the scored q_graph_triangles runs the
    * class-contracted variant above because its dup-graph input
    * carries verbatim-copy multiplicities; an arbitrary user graph
    * has no class structure, so it gets the canonical algorithm
    * directly). Input: (a, b) long pairs, any orientation, dups and
    * self-loops tolerated. Canonicalizes to the distinct undirected
    * edge set, then runs the oriented "forward" method: orient every
    * edge along a total order, wedge-join the out-edges at each
    * minimum corner, probe against the closing oriented edge — each
    * triangle found exactly once, no /6 dedup. The ORDER is picked by
    * the `triangle` [[Gate]] on a stats probe (the hotKeyShare
    * discipline, but exact — the degree frame is already required for
    * the output, so the probe is one |nodes|→1 aggregate, not a
    * sample): id order (small) when degrees are flat or the graph is
    * empty; (degree, id) order (large) when the max degree exceeds
    * [[TriSkewFactor]]·√m, which caps per-source out-degree at O(√m)
    * and total wedge volume at O(m^1.5) — a planted hub otherwise
    * generates C(deg_hub, 2) candidates from its corner (GraftApiSpec
    * pins both the output equality of the two orders and the
    * candidate-volume collapse on a star graph). Output: one row per
    * node with ≥1 edge, (node, degree, n_triangles ≥ 0). */
  private[graft] def triangleCountsOver(edges: DataFrame): DataFrame = {
    val e = edges.toDF("x", "y")
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
      .transform(Staged.checkpoint)
    val degrees = e
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .transform(Staged.checkpoint) // feeds the probe, the orientation, the output
    val byDegree = Gate.large(edges.sparkSession, "triangle", {
      // bounded driver materialization: ONE row (Σdeg = 2m, max deg)
      val st = degrees
        .agg(sum(col("degree")).as("s"), max(col("degree")).as("mx")).head()
      if (st.isNullAt(0)) 0.0 else triangleSkew(st.getLong(1), st.getLong(0) / 2.0)
    }, TriangleMinSkew)
    val (eo, wedges) = triangleWedges(e, degrees, byDegree)
    val tri = wedges
      .join(eo.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
    val perNode = tri
      .select(explode(array(col("s"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    degrees.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  private val graphTrianglesSql =
    s"""WITH ${LlmExt.simhashFpsCtes},
       |e AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM fps a JOIN fps b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
       |tri AS (
       |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
       |  FROM e e1 JOIN e e2 ON e1.b = e2.a
       |       JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
       |nt AS (
       |  SELECT node, count(*) AS n_triangles
       |  FROM (SELECT unnest([a, b, c]) AS node FROM tri)
       |  GROUP BY node),
       |dg AS (
       |  SELECT node, count(*) AS degree
       |  FROM (SELECT unnest([a, b]) AS node FROM e)
       |  GROUP BY node)
       |SELECT nt.node AS doc_id, dg.degree, nt.n_triangles
       |FROM nt JOIN dg ON nt.node = dg.node
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- scale (sf3) oracle variants

  /** Class-contracted DuckDB oracles for the iterative graph trio.
    *
    * The PRIMARY oracles derive everything from the EXPANDED per-doc
    * pair graph — maximally independent of the engine, but at sf3
    * (150k docs, 30-way duplication, 4.4M expanded directed edges)
    * DuckDB needs 25 min (cc, keeper) to 90+ min (pagerank_conv's
    * 12 chained CTEs) per query. These variants restate the SAME
    * result over the class graph (one node per distinct fingerprint,
    * ~5k nodes / ~2.5k edges regardless of duplication factor), using
    * the contraction identities the engine's strategy specs prove:
    *
    *  - connectivity: the expanded component of a doc is the union of
    *    the members of its class's class-graph component; the
    *    min-doc-id label is the min class rep (rep = min member);
    *    cluster size is Σ m over the component's classes.
    *  - PageRank: member ranks are uniform within a class (symmetry,
    *    preserved by every iteration); every member of C has
    *    outdeg = (m_C − 1) + Σ_{D~C} m_D, and inbound mass
    *    (m_C−1)·r_C/od_C + Σ_{D~C} m_D·r_D/od_D — the per-class
    *    grouping of the same summands the expanded oracle adds
    *    per-edge (k·x vs x added k times, ~1e-16, absorbed by the
    *    per-iteration r6 discretization both sides apply).
    *  - keeper: within a class ranks tie, so the (rank DESC, doc_id)
    *    argmax over docs equals the (rank DESC, rep) argmax over
    *    classes.
    *
    * ScaleOracleSpec runs each variant against the primary oracle's
    * registered Spark result at the small SFs (where both are
    * tractable) — the variants are VALIDATED restatements, not a
    * second trust root. The sf3 gate (check.py --scale-oracle)
    * substitutes them so the 30× correctness row for
    * q_graph_pagerank_conv can actually complete (VERDICT r10 gap). */
  // MATERIALIZED stops DuckDB inlining these under the 12-deep pr CTE
  // chain (inlining re-plans the documents scan per reference —
  // exponential scan count, observed as fd exhaustion at sf0.01).
  private val classGraphCtes =
    """cls AS MATERIALIZED (
      |  SELECT fp, min(doc_id) AS rep, count(*) AS m
      |  FROM fps GROUP BY fp),
      |ce AS MATERIALIZED (
      |  SELECT a.rep AS ra, b.rep AS rb, a.m AS ma, b.m AS mb
      |  FROM cls a JOIN cls b ON a.rep < b.rep
      |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
      |part AS MATERIALIZED (
      |  -- explicit DISTINCT, not bare UNION: DuckDB 1.0 loses UNION's
      |  -- dedup when the CTE is MATERIALIZED under WITH RECURSIVE
      |  -- (minimal repro in the r11 session log), which silently
      |  -- doubled every both-branch class
      |  SELECT DISTINCT rep, m FROM (
      |    SELECT rep, m FROM cls WHERE m > 1
      |    UNION ALL
      |    SELECT rep, m FROM cls
      |    WHERE rep IN (SELECT ra FROM ce UNION SELECT rb FROM ce)) tp),
      |du AS MATERIALIZED (
      |  SELECT ra AS rep, rb AS nbr FROM ce
      |  UNION ALL SELECT rb AS rep, ra AS nbr FROM ce)""".stripMargin

  private val classRankCtes =
    """nbm AS MATERIALIZED (
      |  SELECT rep, sum(nm) AS nbm FROM (
      |    SELECT ra AS rep, mb AS nm FROM ce
      |    UNION ALL SELECT rb AS rep, ma AS nm FROM ce) t
      |  GROUP BY rep),
      |od AS MATERIALIZED (
      |  SELECT p.rep, p.m, (p.m - 1) + coalesce(b.nbm, 0) AS od
      |  FROM part p LEFT JOIN nbm b ON p.rep = b.rep),
      |nn AS MATERIALIZED (SELECT sum(m) AS n FROM part)""".stripMargin

  /** Reachability over class edges + member expansion (shared by the
    * cc and keeper variants). */
  private val classCcCtes =
    """r AS (
      |  SELECT rep AS id, rep AS reach FROM part
      |  UNION
      |  SELECT r.id, du.nbr FROM r JOIN du ON r.reach = du.rep),
      |c AS (SELECT id, min(reach) AS cluster FROM r GROUP BY id),
      |sz AS (
      |  SELECT c.cluster, sum(p.m) AS cluster_size
      |  FROM c JOIN part p ON p.rep = c.id GROUP BY c.cluster)""".stripMargin

  private val dedupCcScaleSql =
    s"""WITH RECURSIVE ${LlmExt.simhashFpsCtes},
       |$classGraphCtes,
       |$classCcCtes
       |SELECT f.doc_id, c.cluster, sz.cluster_size::BIGINT AS cluster_size
       |FROM fps f JOIN cls cl ON f.fp = cl.fp
       |     JOIN c ON c.id = cl.rep JOIN sz ON sz.cluster = c.cluster
       |ORDER BY doc_id""".stripMargin

  private val graphPagerankConvScaleSql = {
    val iter = (prev: String, cur: String) =>
      s"""$cur AS (
         |  SELECT o.rep,
         |         ${Det.sql6(
           "0.15 / any_value(nn.n) + 0.85 * (" +
           "any_value((o.m - 1) * ps.rank / o.od) + " +
           "coalesce(sum(o2.m * pn.rank / o2.od), 0))")} AS rank
         |  FROM od o JOIN $prev ps ON ps.rep = o.rep CROSS JOIN nn
         |       LEFT JOIN du ON du.rep = o.rep
         |       LEFT JOIN od o2 ON o2.rep = du.nbr
         |       LEFT JOIN $prev pn ON pn.rep = du.nbr
         |  GROUP BY o.rep)"""
    val chain = (1 to PrIters)
      .map(i => iter(s"pr${i - 1}", s"pr$i")).mkString(",\n")
    s"""WITH ${LlmExt.simhashFpsCtes},
       |$classGraphCtes,
       |$classRankCtes,
       |pr0 AS (
       |  SELECT rep, ${Det.sql6("1.0 / nn.n")} AS rank
       |  FROM part CROSS JOIN nn),
       |$chain
       |SELECT f.doc_id, p.rank
       |FROM fps f JOIN cls c ON f.fp = c.fp
       |     JOIN pr$PrIters p ON c.rep = p.rep
       |ORDER BY doc_id""".stripMargin
  }

  private val llmKeeperScaleSql =
    s"""WITH RECURSIVE ${LlmExt.simhashFpsCtes},
       |$classGraphCtes,
       |$classRankCtes,
       |$classCcCtes,
       |pr AS (
       |  SELECT o.rep,
       |         ${Det.sql6(
         "0.15 / any_value(nn.n) + 0.85 * (" +
         "any_value((o.m - 1) * (1.0 / nn.n) / o.od) + " +
         "coalesce(sum(o2.m * (1.0 / nn.n) / o2.od), 0))")} AS rank
       |  FROM od o CROSS JOIN nn
       |       LEFT JOIN du ON du.rep = o.rep
       |       LEFT JOIN od o2 ON o2.rep = du.nbr
       |  GROUP BY o.rep),
       |k AS (
       |  SELECT c.cluster, c.id, pr.rank,
       |         row_number() OVER (PARTITION BY c.cluster
       |                            ORDER BY pr.rank DESC, c.id) AS rn
       |  FROM c JOIN pr ON c.id = pr.rep)
       |SELECT k.cluster, sz.cluster_size::BIGINT AS n_members,
       |       k.id AS keeper_doc, k.rank AS keeper_rank
       |FROM k JOIN sz ON sz.cluster = k.cluster
       |WHERE rn = 1 ORDER BY k.cluster""".stripMargin

  // -------------------------------------- slice (sf3 independence) oracles

  /** Sampled vertex-induced-subgraph oracles — the engine-INDEPENDENT
    * sf3 evidence for the iterative graph trio (VERDICT r11 #1). The
    * scale variants above restate the contraction identities the
    * engine itself implements, which weakens the sf3 oracle's
    * independence exactly where it is being trusted. These instead
    * run the PRIMARY (fully expanded) formulations over a
    * harness-provided `slice_docs(sid)` sample — a union of clusters
    * picked from the engine's own output, which is legitimate because
    * the `__closure` guard proves FROM THE RAW DATA that no expanded
    * edge crosses the slice boundary: a closure-passing slice is a
    * union of TRUE components no matter how it was chosen. An engine
    * that SPLIT a true component fails closure; one that MERGED or
    * mislabeled components, or got any rank wrong, fails the expanded
    * slice oracle. The one global coupling — PageRank's 0.15/n term —
    * is injected via `global_n(n)`, computed by `__n_nodes` over
    * distinct fingerprints; the ONLY identity that uses is "equal fps
    * ⇒ identical adjacency", a tautology of the edge predicate (the
    * hamming distance is a function of the two fps alone), NOT the
    * engine's reachability / rank-propagation / argmax algebra.
    * Everything else — edge enumeration, reachability, the 12 chained
    * rank iterations, the keeper argmax — is the primary SQL verbatim
    * with `fps` swapped for the slice; tractable because |slice| is
    * ~1e3 docs where the full sf3 expansion costs DuckDB 25–90+ min.
    * Slice degrees equal global degrees (closure), so the restricted
    * iteration reproduces the global ranks on the slice exactly.
    * Harness: tools/slice_check.py; runs recorded in SCALE.md. */
  private val sliceFsCtes =
    """fs AS MATERIALIZED (
      |  SELECT f.doc_id, f.fp
      |  FROM fps f JOIN slice_docs s ON f.doc_id = s.sid),
      |e AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM fs a JOIN fs b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.fp, b.fp)) <= 3)""".stripMargin

  private val dedupCcSliceSql =
    s"""WITH RECURSIVE ${LlmExt.simhashFpsCtes},
       |$sliceFsCtes,
       |u AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       |r AS (
       |  SELECT a AS id, a AS reach FROM u
       |  UNION
       |  SELECT r.id, u.b FROM r JOIN u ON r.reach = u.a),
       |c AS (SELECT id, min(reach) AS cluster FROM r GROUP BY id)
       |SELECT id AS doc_id, cluster,
       |       count(*) OVER (PARTITION BY cluster)::BIGINT AS cluster_size
       |FROM c ORDER BY doc_id""".stripMargin

  /** Triangles on the slice (VERDICT r12 #5): the primary three-way
    * self-join verbatim with `fps` restricted to the slice. The
    * closure guard is what makes the restriction exact — with no
    * expanded edge crossing the boundary, every triangle and every
    * degree of a slice node is entirely within the slice, so the
    * slice-local counts equal the global ones for those nodes. */
  private val graphTrianglesSliceSql =
    s"""WITH ${LlmExt.simhashFpsCtes},
       |$sliceFsCtes,
       |tri AS (
       |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
       |  FROM e e1 JOIN e e2 ON e1.b = e2.a
       |       JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
       |nt AS (
       |  SELECT node, count(*) AS n_triangles
       |  FROM (SELECT unnest([a, b, c]) AS node FROM tri)
       |  GROUP BY node),
       |dg AS (
       |  SELECT node, count(*) AS degree
       |  FROM (SELECT unnest([a, b]) AS node FROM e)
       |  GROUP BY node)
       |SELECT nt.node AS doc_id, dg.degree, nt.n_triangles
       |FROM nt JOIN dg ON nt.node = dg.node
       |ORDER BY doc_id""".stripMargin

  private val graphPagerankConvSliceSql = {
    val iter = (prev: String, cur: String) =>
      s"""$cur AS (
         |  SELECT u.dst AS id,
         |         ${Det.sql6(
              "0.15 / any_value(nn.n) + " +
              s"0.85 * sum(p.rank / deg.outdeg)")} AS rank
         |  FROM u JOIN deg ON u.src = deg.src
         |         JOIN $prev p ON u.src = p.id CROSS JOIN nn
         |  GROUP BY u.dst)"""
    val chain = (1 to PrIters)
      .map(i => iter(s"pr${i - 1}", s"pr$i")).mkString(",\n")
    s"""WITH ${LlmExt.simhashFpsCtes},
       |$sliceFsCtes,
       |u AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT src, count(*) AS outdeg FROM u GROUP BY src),
       |nn AS (SELECT n FROM global_n),
       |pr0 AS (
       |  SELECT src AS id, ${Det.sql6("1.0 / nn.n")} AS rank
       |  FROM deg CROSS JOIN nn),
       |$chain
       |SELECT id AS doc_id, rank FROM pr$PrIters ORDER BY doc_id""".stripMargin
  }

  private val llmKeeperSliceSql =
    s"""WITH RECURSIVE ${LlmExt.simhashFpsCtes},
       |$sliceFsCtes,
       |u AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
       |r AS (
       |  SELECT src AS id, src AS reach FROM u
       |  UNION
       |  SELECT r.id, u.dst FROM r JOIN u ON r.reach = u.src),
       |c AS (SELECT id, min(reach) AS cluster FROM r GROUP BY id),
       |deg AS (SELECT src, count(*) AS outdeg FROM u GROUP BY src),
       |nn AS (SELECT n FROM global_n),
       |pr AS (
       |  SELECT u.dst AS id,
       |         ${Det.sql6(
            "0.15 / any_value(nn.n) + " +
            "0.85 * sum((1.0 / nn.n) / deg.outdeg)")} AS rank
       |  FROM u JOIN deg ON u.src = deg.src CROSS JOIN nn
       |  GROUP BY u.dst),
       |k AS (
       |  SELECT c.cluster, c.id, pr.rank,
       |         row_number() OVER (PARTITION BY c.cluster
       |                            ORDER BY pr.rank DESC, c.id) AS rn,
       |         count(*) OVER (PARTITION BY c.cluster) AS n_members
       |  FROM c JOIN pr ON c.id = pr.id)
       |SELECT cluster, n_members::BIGINT AS n_members,
       |       id AS keeper_doc, rank AS keeper_rank
       |FROM k WHERE rn = 1 ORDER BY cluster""".stripMargin

  /** Global participant count over distinct fingerprints (equal fps ⇒
    * identical adjacency — a property of the edge DEFINITION, used in
    * place of the 150k×150k expanded scan DuckDB needs ~7 min for). */
  private val sliceNNodesSql =
    s"""WITH ${LlmExt.simhashFpsCtes},
       |cls AS (SELECT fp, count(*) AS m FROM fps GROUP BY fp)
       |SELECT sum(m)::BIGINT AS n FROM cls c
       |WHERE m > 1 OR EXISTS (
       |  SELECT 1 FROM cls d
       |  WHERE d.fp <> c.fp AND bit_count(xor(c.fp, d.fp)) <= 3)""".stripMargin

  /** Count of expanded edges crossing the slice boundary, stated over
    * distinct fp pairs (same tautology as [[sliceNNodesSql]]: a
    * crossing (s∈S, t∉S) edge exists iff some (fp_S, fp_T) pair —
    * including an equal pair — is within hamming 3). Must be 0. */
  private val sliceClosureSql =
    s"""WITH ${LlmExt.simhashFpsCtes},
       |sfp AS (SELECT DISTINCT f.fp FROM fps f
       |        JOIN slice_docs s ON f.doc_id = s.sid),
       |tfp AS (SELECT DISTINCT f.fp FROM fps f
       |        WHERE f.doc_id NOT IN (SELECT sid FROM slice_docs))
       |SELECT count(*)::BIGINT AS crossing
       |FROM sfp a JOIN tfp b ON bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin

  // -------------------------------------------------------------- registry

  val table: Seq[Query] = Seq(
    Query("q_llm_pii", pii, Some(piiSql)),
    Query("q_llm_centroid", centroid, Some(centroidSql)),
    Query("q_llm_dedup_cc", dedupCc, Some(dedupCcSql)),
    Query("q_llm_dedup_substr", dedupSubstr, Some(dedupSubstrSql)),
    Query("q_graph_pagerank", graphPagerank, Some(graphPagerankSql)),
    Query("q_graph_pagerank_conv", graphPagerankConv, Some(graphPagerankConvSql)),
    Query("q_graph_triangles", graphTriangles, Some(graphTrianglesSql)),
    Query("q_llm_keeper", llmKeeper, Some(llmKeeperSql)),
  )

  override val scaleOracles: Map[String, String] = Map(
    "q_llm_dedup_cc" -> dedupCcScaleSql,
    "q_graph_pagerank_conv" -> graphPagerankConvScaleSql,
    "q_llm_keeper" -> llmKeeperScaleSql,
  )

  override val sliceOracles: Map[String, String] = Map(
    "q_llm_dedup_cc" -> dedupCcSliceSql,
    "q_graph_pagerank_conv" -> graphPagerankConvSliceSql,
    "q_llm_keeper" -> llmKeeperSliceSql,
    "q_graph_triangles" -> graphTrianglesSliceSql,
    "__n_nodes" -> sliceNNodesSql,
    "__closure" -> sliceClosureSql,
  )
}
