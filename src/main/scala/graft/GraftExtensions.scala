package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The deployment entry point for graft's engine extensions: the TopK
  * rewrite rule + physical strategy (plans/TopK.scala) and the native
  * `graft_dot` expression (functions/DotProduct.scala), injected the
  * way a cluster rollout would configure them:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * [[GraftSession.local]] (Verify, Bench, the dev tool and the tests)
  * builds every session with exactly this config, so the scored path
  * IS the deployment path. `TopK.install` /
  * `GraftFunctions.register` remain as per-session equivalents for
  * sessions built without the conf (both are idempotent; a session
  * with the conf AND the calls behaves identically). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.TopK.TopKRewrite)
    e.injectPlannerStrategy(_ => graft.plans.TopK.TopKStrategy)
    // arity checked in every builder: a wrong argument count must read
    // as a clean error naming the function, not an
    // IndexOutOfBoundsException out of the builder (review r13)
    def fn(name: String, className: String, arity: Int)(
        b: Seq[Expression] => Expression): Unit =
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(className, name),
        { exprs: Seq[Expression] =>
          require(exprs.length == arity,
            s"$name expects $arity argument(s), got ${exprs.length}")
          b(exprs)
        }))
    fn("graft_dot", classOf[graft.functions.DotProduct].getName, 2)(
      exprs => graft.functions.DotProduct(exprs(0), exprs(1)))
    // graft_ngrams checks its own arity + literal args in fromExprs
    e.injectFunction((
      FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[graft.functions.NgramHash].getName,
        "graft_ngrams"),
      (exprs: Seq[Expression]) => graft.functions.NgramHash.fromExprs(exprs)))
    fn("graft_hash60", classOf[graft.functions.Hash60].getName, 1)(
      exprs => graft.functions.Hash60(exprs(0)))
    // graft_ngram_h60 checks its own arity + literal width in fromExprs
    e.injectFunction((
      FunctionIdentifier("graft_ngram_h60"),
      new ExpressionInfo(classOf[graft.functions.NgramHash60].getName,
        "graft_ngram_h60"),
      (exprs: Seq[Expression]) =>
        graft.functions.NgramHash60.fromExprs(exprs)))
    // Spark ships bloom-filter build/probe as INTERNAL expressions
    // (used by its own runtime join filters, not in the public
    // registry); expose them as first-class pipeline functions — the
    // Dolma-style decontamination pre-filter needs exactly this pair.
    fn("graft_bloom_agg",
      "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate",
      3)(exprs =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), exprs(1), exprs(2)))
    fn("graft_bloom_contains",
      "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain",
      2)(exprs =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1)))
  }
}
