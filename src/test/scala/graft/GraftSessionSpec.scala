package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the session every entry point builds through
  * [[GraftSession.local]]: the shared test session must carry every
  * factory setting plus exactly the two test-only overrides, so the
  * builders cannot drift apart again. */
class GraftSessionSpec extends AnyFunSuite {
  private def s = SparkTestBase.spark
  private def conf(k: String) = s.sparkContext.getConf.get(k)

  test("the shared test session carries every factory setting") {
    assert(s.sparkContext.master == "local[4]")
    assert(conf("spark.sql.shuffle.partitions") == "4")
    assert(conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "32")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf("spark.sql.codegen.cache.maxEntries") == "2000")
    assert(conf("spark.sql.extensions") == "graft.GraftExtensions")
    assert(conf("spark.executor.heartbeat.maxFailures") == "1000000")
    assert(conf("spark.ui.enabled") == "false")
  }

  test("the extensions are live: graft_hash60 resolves") {
    val v = s.sql("SELECT graft_hash60('graft') AS h").head().getLong(0)
    assert(v >= 0L && v < (1L << 60))
    // every name of the one function table, in a fresh session that
    // only the extensions could have given it to (newSession does not
    // inherit functions other suites registered on the shared session)
    val fresh = s.newSession()
    for (f <- functions.GraftFunctions.table) {
      val info = fresh.sessionState.catalog.lookupFunctionInfo(
        org.apache.spark.sql.catalyst.FunctionIdentifier(f.name))
      assert(info.getClassName == f.className, s"${f.name} resolved to $info")
    }
  }

  test("the test-only overrides are layered on top") {
    assert(conf("spark.shuffle.manager") ==
      "org.apache.spark.shuffle.graft.KillingShuffleManager")
  }
}
