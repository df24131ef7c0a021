package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Cluster-wide deployment hook for graft's SQL surface:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * injects every [[SqlSurface]] function, optimizer rule and planner
  * strategy into each session at startup — the production twin of
  * [[GraftSession.registerFunctions]] / [[GraftSession.registerOptimizations]],
  * reading the same table. A function builder runs at analysis time, in
  * the session that is active then.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    SqlSurface.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    SqlSurface.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    SqlSurface.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info,
        (exprs: Seq[Expression]) => f.build(SparkSession.active, exprs)))
    }
  }
}
