package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the staged-checkpoint release contract (advice r12): the
  * lazily-consumed slicing operators leave their localCheckpoint
  * blocks registered with ops.Staged, and a sweep at the query
  * boundary unpersists them deterministically instead of waiting for
  * driver GC to trigger the ContextCleaner. */
class StagedSweepSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("rankedBy slicing registers its checkpoint; sweep releases it") {
    val sc = spark.sparkContext
    spark.conf.set(Gate.Key, "large")
    try {
      ops.Staged.sweep() // drain anything prior suites staged
      val before = sc.getPersistentRDDs.keySet
      // forces the split path → one staged checkpoint per invocation
      val df = SparkEntry.queries("q_agg_trimmed")(spark, d)
      assert(df.collect().nonEmpty)
      val staged = sc.getPersistentRDDs.keySet -- before
      assert(staged.nonEmpty,
        "split path ran but no checkpoint blocks were registered")
      val released = Graft.sweepStaged()
      assert(released >= 1, s"sweep released $released, expected >= 1")
      val after = sc.getPersistentRDDs.keySet
      assert((after & staged).isEmpty,
        s"sweep left staged RDDs persisted: ${after & staged}")
    } finally spark.conf.unset(Gate.Key)
  }

  test("overlap-split slicing registers its checkpoint; sweep releases it") {
    val sc = spark.sparkContext
    spark.conf.set(Gate.Key, "large")
    try {
      ops.Staged.sweep()
      val before = sc.getPersistentRDDs.keySet
      val df = SparkEntry.queries("q_ts_anomaly")(spark, d)
      assert(df.collect().length >= 0) // materialize (may be few rows)
      val staged = sc.getPersistentRDDs.keySet -- before
      assert(staged.nonEmpty,
        "split path ran but no checkpoint blocks were registered")
      assert(Graft.sweepStaged() >= 1)
      assert((sc.getPersistentRDDs.keySet & staged).isEmpty)
    } finally spark.conf.unset(Gate.Key)
  }
}
