package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression bridge for graft's custom Catalyst expressions.
  *
  * Spark 4 made the Column/Expression conversion `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils); placing this shim inside
  * the org.apache.spark.sql package is the established pattern extension
  * libraries use to lift custom expressions into the public Column DSL
  * without registering them through SparkSessionExtensions (which would
  * require control over every SparkSession's construction).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The errors Spark's `slice` raises on a zero start or a negative
    * length, for kernels that reproduce it. */
  def sliceStartError(): Throwable =
    errors.QueryExecutionErrors.unexpectedValueForStartInFunctionError("slice")
  def sliceLengthError(length: Int): Throwable =
    errors.QueryExecutionErrors.unexpectedValueForLengthInFunctionError("slice", length)

  /** DataFrame from a hand-built logical plan (custom operators, e.g. the
    * native as-of join node) — `Dataset.ofRows` is private[sql]. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
