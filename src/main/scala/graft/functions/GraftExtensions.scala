package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: makes the engine's codegen'd
  * functions available in ANY session — including pure-SQL users — via
  *
  * {{{
  * spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * (the `SparkSessionExtensions` registration path; programmatic sessions
  * can equally call `VectorExpressions.register`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name, usage, "", "")

  override def apply(e: SparkSessionExtensions): Unit = {
    // custom-plan tier: the top-k-per-key operator + its pushdown rule
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.TopKPushdown)
    VectorExpressions.functions.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), build))
    }
  }
}
