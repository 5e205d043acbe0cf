package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal Column ↔ Expression bridge for graft's native Catalyst
  * expressions. Spark 4 made `ExpressionUtils` (and `Column.expr`)
  * `private[sql]`, so libraries shipping their own expressions host this
  * two-liner inside the sql package — the established pattern for
  * third-party Catalyst extensions; only [[GraftPlanBridge]] joins it
  * outside the graft namespace.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
