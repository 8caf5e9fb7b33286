package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Classic-mode Column <-> Catalyst Expression bridge.
  *
  * Spark 4 unified the Column API over ColumnNode (for Connect); wrapping a
  * custom Catalyst `Expression` as a user-facing `Column` goes through
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is `private[sql]` —
  * this object lives under `org.apache.spark.sql` purely to re-export the
  * two conversions for graft's native expressions, and to build frames
  * over driver-held rows.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `c`'s own Catalyst tree, attributes still unresolved (by name) —
    * [[expression]] wraps a user Column in an opaque leaf instead. */
  def unresolved(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** A frame over `rows`, held on the driver as a `LocalRelation`. Spark's
    * `ConvertToLocalRelation` evaluates a filter, projection or limit over
    * it in the optimizer, so a query of only those starts no job. */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `df`'s rows collected (one job) into a [[localFrame]] of the same
    * schema. `executeCollect` decodes each row into bytes of its own, so
    * the frame holds a copy that no later read can overwrite. */
  def collectLocal(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
    localFrame(df.sparkSession, df.schema, rows.toSeq)
  }
}
