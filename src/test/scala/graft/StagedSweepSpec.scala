package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the staged-checkpoint release contract (advice r12): the
  * lazily-consumed overlap-split slicing leaves its localCheckpoint
  * blocks registered with ops.Staged, and a sweep at the query
  * boundary unpersists them deterministically instead of waiting for
  * driver GC to trigger the ContextCleaner. */
class StagedSweepSpec extends AnyFunSuite {
  private def spark = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

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
