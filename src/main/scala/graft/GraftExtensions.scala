package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The deployment entry point for graft's engine extensions: the native
  * SQL functions of the [[graft.functions.GraftFunctions]] table,
  * injected the way a cluster rollout would configure them:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * It adds no optimizer rule and no planner strategy: the
  * row_number-then-filter top-k shape plans through Spark's own
  * partial and final `WindowGroupLimit`.
  *
  * [[GraftSession.local]] (Verify, Bench, the dev tool and the tests)
  * builds every session with exactly this config, so the scored path
  * IS the deployment path. Sessions built without the conf get the
  * same functions from `Graft.registerFunctions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    graft.functions.GraftFunctions.table.foreach(f => e.injectFunction(
      (FunctionIdentifier(f.name), new ExpressionInfo(f.className, f.name),
        f.build)))
}
