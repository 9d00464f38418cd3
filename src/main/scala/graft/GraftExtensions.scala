package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.expressions.VectorExpressions

/** Session-extension entry point: makes the engine's native expressions
  * available to ANY SparkSession via
  * `--conf spark.sql.extensions=graft.GraftExtensions` — the standard
  * deployment route on a shared cluster, where you cannot call
  * registration code inside someone else's driver. Also injects
  * [[graft.plans.VectorFoldRewrite]], the optimizer rule that turns the
  * natural-but-interpreted HOF vector folds into the codegen'd native
  * expressions (the 8x chunk-dedup win, applied automatically). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorExpressions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.VectorFoldRewrite)
    // whole-operator tier: plans the graft.plans.AsOfJoin logical node
    // (cost-based: broadcast exec under the autoBroadcast threshold,
    // shuffled streaming-merge exec above it)
    ext.injectPlannerStrategy(s => new graft.plans.AsOfJoinStrategy(s))
    // SQL frontend for the same operator, the ASOF JOIN syntax (DuckDB
    // dialect): text rewrite to a marked plain join + the rule
    // completing it into the AsOfJoin node
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    ext.injectFunction(graft.plans.AsOfSyntax.markerFunction)
    ext.injectResolutionRule(_ => graft.plans.ResolveAsOfSyntax)
  }
}
