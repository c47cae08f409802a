package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst-Expression bridge. Spark 4 moved these conversions
  * behind `private[sql]` (`classic.ExpressionUtils`); libraries shipping
  * native expressions (as graft does for posting-block decode) expose them
  * through a package-located shim — the standard extension-library
  * technique. No Spark internals are modified. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An Observation's metrics as one row, in the order they were declared
    * (`get` returns them as an unordered map); waits for the observed
    * action like `get`. */
  def observed(o: Observation): Row = o.getRow

  /** Each group's n smallest values of `c`, in ascending order: Catalyst's
    * bounded top-n aggregate `collect_top_k` with `reverse = true`. A
    * bounded priority queue per group and task, so partial aggregation
    * ships at most n values per group. Spark 4.1 keeps it out of the
    * function registry and its Column API. */
  def collectTopK(c: Column, n: Int): Column =
    column(new CollectTopK(expression(c), n, true, 0, 0).toAggregateExpression())

  /** A session that starts with `spark`'s conf, temporary views and
    * functions and shares its SparkContext and cached data; conf set on it
    * afterwards stays its own. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** A DataFrame over a logical plan, analyzed and run in `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
