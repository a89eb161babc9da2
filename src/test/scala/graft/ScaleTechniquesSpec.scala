package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Executable proofs of the scale techniques the engine relies on at
  * 100 TB but that the oracle queries can't surface at test SF:
  * bucketed co-located joins (no exchange) and two-phase salted
  * aggregation for skewed keys. */
class ScaleTechniquesSpec extends AnyFunSuite {
  // def, not lazy val: each test re-resolves the shared session so a
  // context death in an earlier test fails one test, not the suite
  private def s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("bucketed tables join without a shuffle exchange") {
    val wh = Scratch.deleteOnExit(
      Files.createTempDirectory("graft-warehouse").toString)
    // write both sides bucketed on the join key — the 100-TB pattern
    // for repeated fact⋈fact joins: pay the shuffle once at write time
    Tables.orders(s, d).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    Tables.customer(s, d).write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer_b").saveAsTable("customer_b")
    val joined = s.table("orders_b")
      .join(s.table("customer_b"), col("o_custkey") === col("c_custkey"))
    // disable auto-broadcast so the plan decision is bucketing, not size
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == Tables.orders(s, d).count())
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join query equals the plain join it rewrites") {
    // q_join_skew_salted's oracle is the UNSALTED SQL; assert the same
    // equivalence inside Spark so the invariant doesn't depend on the
    // DuckDB gate alone
    val salted = SparkEntry.queries("q_join_skew_salted")(s, d).collect().toSeq
    val plain = Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        graft.ops.Det.r2(sum(col("l_extendedprice"))).as("revenue"))
      .orderBy(col("s_nationkey")).collect().toSeq
    assert(salted.nonEmpty && salted == plain)
  }

  test("salted two-phase aggregation equals direct aggregation on skewed keys") {
    val sp = s; import sp.implicits._
    // one hot key carrying 90% of rows — the shape where a plain
    // groupBy sends 90% of the data to one reducer
    val skewed = (1 to 9000).map(i => ("hot", i.toDouble)) ++
      (1 to 1000).map(i => (s"key${i % 50}", i.toDouble))
    val df = skewed.toDF("k", "v")
    val direct = df.groupBy($"k")
      .agg(sum($"v").as("total"), count(lit(1)).as("n"))
      .orderBy($"k").collect().toSeq
    // phase 1: spread each key over 16 salts (map-side key explosion);
    // phase 2: merge partials per real key — both shuffles are balanced
    val salted = df
      .withColumn("salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(16)))
      .groupBy($"k", $"salt")
      .agg(sum($"v").as("pt"), count(lit(1)).as("pn"))
      .groupBy($"k")
      .agg(sum($"pt").as("total"), sum($"pn").as("n"))
      .orderBy($"k").collect().toSeq
    assert(salted.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))) ==
      direct.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))))
  }

  test("small-file compaction conserves rows and hits the file target") {
    val sp = s; import sp.implicits._
    // the lakehouse maintenance pass: a streaming sink or over-parallel
    // writer leaves N tiny files; compaction rewrites to few large ones.
    // Row-group-sized files are what keep 100 TB scans at
    // maxPartitionBytes-sized tasks instead of one task per tiny file.
    val base = Files.createTempDirectory("graft-compact").toString
    try {
    val ev = Tables.events(s, d)
    ev.repartition(64).write.mode("overwrite").parquet(s"$base/small")
    def parquetFiles(p: String) =
      Option(new java.io.File(p).listFiles).get
        .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$base/small") == 64, "fragmented input")
    // compact: one job, explicit target file count (a real deployment
    // computes it from bytes/maxPartitionBytes)
    s.read.parquet(s"$base/small").repartition(4)
      .write.mode("overwrite").parquet(s"$base/compact")
    assert(parquetFiles(s"$base/compact") == 4, "compaction file target")
    val before = ev.count()
    val after = s.read.parquet(s"$base/compact").count()
    assert(before == after, "compaction conserves every row")
    // and the data survives byte-exactly: same per-type aggregate
    val a = s.read.parquet(s"$base/compact").groupBy($"event_type")
      .agg(count(lit(1)), sum($"value")).orderBy($"event_type")
      .collect().toSeq
    val b = ev.groupBy($"event_type")
      .agg(count(lit(1)), sum($"value")).orderBy($"event_type")
      .collect().toSeq
    assert(a.map(r => (r.getString(0), r.getLong(1))) ==
      b.map(r => (r.getString(0), r.getLong(1))))
    } finally {
      // repeated runs must not accrete directories in the system tmpdir
      Scratch.rm(new java.io.File(base))
    }
  }

  test("iterative-loop partition count tracks input size (verdict r7 #3)") {
    import graft.ops.LlmPipe
    val c = 32
    // floor: KB-sized local loop frames stay at 8 partitions
    assert(LlmPipe.loopPartitions(0L, c) == 8)
    assert(LlmPipe.loopPartitions(10000L, c) == 8)
    assert(LlmPipe.loopPartitions(8L * LlmPipe.LoopTargetRows, c) == 8)
    // CPU regime: one partition per ~LoopTargetRows up to the core
    // count (sf3's 4.4M-edge graph plans 18-wide rounds, not the old
    // 8-partition floor that idled 24 of 32 cores)
    assert(LlmPipe.loopPartitions(18L * LlmPipe.LoopTargetRows, c) == 18)
    assert(LlmPipe.loopPartitions(100L * LlmPipe.LoopTargetRows, c) == 32)
    assert(LlmPipe.loopPartitions(100L * LlmPipe.LoopTargetRows, 8) == 8)
    // shuffle regime: once rows/LoopRowsPerPart exceeds the cores the
    // count is ceil(rows / LoopRowsPerPart) — linear in the edge
    // count, so a cluster-scale candidate graph plans proportionally
    // wide loop shuffles from the same code path
    assert(LlmPipe.loopPartitions(250L * LlmPipe.LoopRowsPerPart, c) == 250)
    assert(LlmPipe.loopPartitions(1000L * LlmPipe.LoopRowsPerPart - 1, c)
      == 1000)
    // monotone: more edges never plan fewer partitions
    val probes = Seq(0L, 1L, 7L, 8L, 9L, 64L, 1024L)
      .map(_ * LlmPipe.LoopRowsPerPart)
    assert(probes.map(LlmPipe.loopPartitions(_, c)) ==
      probes.map(LlmPipe.loopPartitions(_, c)).sorted)
    // and loopFrame actually pins the child session to the derived
    // count (small input => the 8 floor), without touching the caller
    val sp = s; import sp.implicits._
    val callerParts = s.conf.get("spark.sql.shuffle.partitions")
    val lf = LlmPipe.loopFrame(
      (1L to 100L).toDF("da").select($"da", ($"da" + 1).as("db")))
    assert(lf.sparkSession.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(lf.sparkSession ne s)
    assert(s.conf.get("spark.sql.shuffle.partitions") == callerParts)
    assert(lf.count() == 100L)
  }

  test("q_join_bucketed joins with zero exchange at two bucket counts") {
    // descend through AQE wrappers to the SMJ, then assert its whole
    // subtree is exchange-free: co-bucketed layout means the join's
    // shuffle was paid once at write time, not per query. Run at the
    // session-sized default (defaultParallelism, 4 here) AND at 2 —
    // bucket count is a layout choice (sized from parallelism since
    // r11; the old constant 8 capped join parallelism at 8), and
    // layout must change neither the plan property nor the rows.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def all(p: SparkPlan): Seq[SparkPlan] = {
      val through = p match {
        case a: AdaptiveSparkPlanExec => all(a.executedPlan)
        case q: QueryStageExec        => all(q.plan)
        case _ => Nil
      }
      p +: (through ++ p.children.flatMap(all))
    }
    def runOnce(df: org.apache.spark.sql.DataFrame, n: Int): Seq[String] = {
      val rows = df.collect().map(_.toString).toSeq
      assert(rows.nonEmpty)
      val nodes = all(df.queryExecution.executedPlan)
      val smjs = nodes.collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, "bucketed join did not plan as sort-merge:\n" +
        df.queryExecution.executedPlan)
      val belowJoin = smjs.flatMap(all)
      assert(!belowJoin.exists(_.isInstanceOf[Exchange]),
        "exchange below the bucketed join — the write-time shuffle was " +
          "not reused:\n" + df.queryExecution.executedPlan)
      val scans = belowJoin.collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty &&
        scans.forall(_.outputPartitioning.numPartitions == n),
        s"bucketed scans do not read $n buckets:\n" +
          df.queryExecution.executedPlan)
      rows
    }
    val atDefault = runOnce(SparkEntry.queries("q_join_bucketed")(s, d),
      s.sparkContext.defaultParallelism)
    val atTwo = runOnce(ops.Lakehouse.joinBucketed(s, d, 2), 2)
    assert(atDefault == atTwo,
      "bucket count changed query results — layout leaked into values")
  }

  test("bucketed-layout cache never serves regenerated source data (advice r10)") {
    // same dir, new content: the cache key carries a content signature,
    // so rewriting the parquet under an unchanged path must re-bucket,
    // not replay the stale layout
    val tmp = Scratch.deleteOnExit(
      Files.createTempDirectory("graft-stale").toString)
    def gen(frac: Int): Unit = {
      Tables.lineitem(s, d).filter(col("l_orderkey") % frac === 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      Tables.orders(s, d).coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/orders.parquet")
    }
    gen(1)
    val full = SparkEntry.queries("q_join_bucketed")(s, tmp)
      .agg(sum(col("n_items"))).head().getLong(0)
    gen(2) // regenerate IN PLACE with half the fact rows
    val half = SparkEntry.queries("q_join_bucketed")(s, tmp)
      .agg(sum(col("n_items"))).head().getLong(0)
    assert(half < full,
      s"regenerated source served stale bucketed layout: $half vs $full")
  }

  test("q_scan_partitioned prunes to 7 of 30 date partitions (verdict r9 #2)") {
    val df = SparkEntry.queries("q_scan_partitioned")(s, d)
    // the one-week filter must reach the scan as PARTITION pruning —
    // directory-level, before any parquet footer is read — not as a
    // post-scan filter
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["),
      s"no partition filters on the scan:\n$plan")
    assert(!plan.contains("PartitionFilters: []"),
      s"partition filter list is EMPTY — filter did not bind to the " +
        s"partition column:\n$plan")
    // execute, then read the scan's own metrics: the written layout
    // has 30 date directories, the week filter must leave 7 read
    // (inputFiles would NOT do here — it lists the relation's files
    // BEFORE pruning)
    // materialize THIS frame's own execution (a .count() would build a
    // separate one and leave these metrics untouched)
    assert(df.collect().nonEmpty)
    // descend through AQE wrappers — a bare .collect on the adaptive
    // root does not traverse materialized query stages
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val here = p match {
        case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case q: QueryStageExec        => scansOf(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case _ => Nil
      }
      here ++ p.children.flatMap(scansOf)
    }
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no file scan in executed plan")
    val partsRead = scans.map(_.metrics("numPartitions").value).sum
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    assert(partsRead == 7, s"expected 7 of 30 partitions read, got $partsRead")
    val totalFiles = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      // the scratch dir the query wrote: re-derive its path
      walk(new java.io.File(Scratch.dir("hivepart") + "/" +
        d.replaceAll("[^A-Za-z0-9.]", "_")))
    }
    assert(filesRead < totalFiles,
      s"pruning read all $totalFiles files ($filesRead)")
  }
}
