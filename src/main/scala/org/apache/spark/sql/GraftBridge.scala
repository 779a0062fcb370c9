package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column ↔ Expression conversions (Spark 4
  * moved them behind `org.apache.spark.sql.classic.ExpressionUtils`).
  * Needed to expose custom Catalyst expressions as `Column`s.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** DataFrame over an already-built logical plan (`classic.Dataset.ofRows`
    * is private[sql]) — used by SqlEnv's analyzed-plan post-passes. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** Spark's `WRONG_NUM_ARGS` error for a fixed-arity function
    * (`QueryCompilationErrors` is private[sql]). */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(name, Seq(expected), actual)
}
