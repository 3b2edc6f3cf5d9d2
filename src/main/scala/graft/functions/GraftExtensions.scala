package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Library deployment hook: the standard way to ship custom Catalyst
  * expressions with a Spark library. Activate with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (cluster config)
  * or `SparkSession.builder().withExtensions(new GraftExtensions)` — every
  * session built with it (including Thrift/Connect sessions, where a
  * per-session `GraftFunctions.register` call isn't reachable) gets the
  * `graft_*` SQL functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    // optimizer tier: composed size(array_intersect(...)) rewritten to the
    // allocation-free native count wherever result-identical
    ext.injectOptimizerRule(_ => RewriteIntersectCount)
    // whole-operator tier: plans the AsofJoinPlan logical node onto the
    // native sort-merge AsofJoinExec, and IntervalJoinPlan onto the
    // active-set merge IntervalJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
  }
}
