package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/**
 * SparkSessionExtensions entry point (SURVEY.md §2.11): makes every graft
 * expression available to pure-SQL users at session build time —
 *
 *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
 *   // or: SparkSession.builder().withExtensions(new GraftExtensions) ...
 *
 * No custom Rule/SparkStrategy is registered: parity needs none
 * (SURVEY.md §7.3) — all operators compose from built-in plans plus these
 * scalar expressions, which keeps every graft query inside Catalyst's
 * optimizer and whole-stage codegen.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
}
