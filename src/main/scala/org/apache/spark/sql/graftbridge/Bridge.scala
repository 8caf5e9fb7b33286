package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Classic-mode Column <-> Catalyst Expression bridge.
  *
  * Spark 4 unified the Column API over ColumnNode (for Connect); wrapping a
  * custom Catalyst `Expression` as a user-facing `Column` goes through
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is `private[sql]` —
  * this object lives under `org.apache.spark.sql` purely to re-export the
  * two conversions for graft's native expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `c`'s own Catalyst tree, attributes still unresolved (by name) —
    * [[expression]] wraps a user Column in an opaque leaf instead. */
  def unresolved(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
