package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.scalatest.Assertions._

/** The row_number-then-filter top-k shape plans through Spark's own
  * `WindowGroupLimit` pair. Its scale property is the partial one below
  * the shuffle exchange: each map task keeps at most k rows per group,
  * so the shuffle carries k × groups × map tasks rows at most, whatever
  * the group skew (a billion-page host costs like a ten-page one). */
object TopKPlan extends AdaptiveSparkPlanHelper {

  /** `df`'s physical plan (initial or final AQE plan) feeds a shuffle
    * exchange from a partial `WindowGroupLimit` of `k`. */
  def assertShuffleBounded(df: DataFrame, k: Int): Unit = {
    val plan = df.queryExecution.executedPlan
    val limits = collect(plan) { case e: ShuffleExchangeExec => e }
      .flatMap(_.child.collect {
        case w: WindowGroupLimitExec if w.mode == Partial => w.limit
      })
    assert(limits.contains(k),
      s"no partial WindowGroupLimit of $k below an exchange (found $limits):\n$plan")
  }
}
