package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions
import graft.plans.{AsOfJoinStrategy, PushFilterThroughAsOfJoin}

/** Canonical registration of every engine extension point
  * (SparkSessionExtensions): the as-of join planner strategy, its
  * filter-pushdown rule and every function in `GraftFunctions.all`, so
  * a session built with `.withExtensions(new GraftExtensions)` (as
  * GraftSession does) — or `spark.sql.extensions=graft.GraftExtensions`
  * — has the whole engine surface. Queries register nothing: they need
  * a session that carries these extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
    GraftFunctions.all.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
  }
}
