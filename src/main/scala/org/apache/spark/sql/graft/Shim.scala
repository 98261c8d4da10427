package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge.
  *
  * Spark 4's Connect refactor made `ExpressionUtils` (and `Column.expr`)
  * `private[sql]`; third-party libraries shipping custom Catalyst
  * expressions use a package-local shim to lift them into the public
  * Column API. This is the only file in the Spark namespace, and the
  * one place that constructs Spark's internal `CollectTopK`. */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's bounded-heap `CollectTopK` aggregate: the `k` largest
    * values of `e` per group, descending; with `reverse` the `k`
    * smallest, ascending. */
  def collectTopK(e: Column, k: Int, reverse: Boolean): Column =
    column(new CollectTopK(expression(e), k, reverse, 0, 0)
      .toAggregateExpression())
}
