package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (sessions are
  * expensive; suites only read) — recreated if its context dies, so a
  * single context death cannot cascade through every later suite.
  * Built by the same [[GraftSession.local]] factory as Verify and
  * Bench, at 4 cores, plus one test-only override. */
object SparkTestBase {
  private def build(): SparkSession = {
    val s = GraftSession.local(4, Map(
      // behavior-identical SortShuffleManager wrapper; inert unless
      // RetryDeterminismSpec arms graft.RetryInjector (test-only —
      // Verify/Bench run the stock manager)
      "spark.shuffle.manager" ->
        "org.apache.spark.shuffle.graft.KillingShuffleManager"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  @volatile private var cached: SparkSession = _

  /** The shared session; rebuilt when a previous failure (or an
    * external shutdown) stopped its SparkContext, so one death fails
    * one test instead of every test scheduled after it. */
  def spark: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      // a stopped context can linger as the default session and poison
      // getOrCreate — clear both registries before rebuilding
      if (cached != null) {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      cached = build()
    }
    cached
  }

  val sfDir = "/root/testdata/sf0.001"
}
