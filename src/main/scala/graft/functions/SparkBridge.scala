package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
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
}
