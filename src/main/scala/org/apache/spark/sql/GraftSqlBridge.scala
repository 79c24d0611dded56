package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` helpers so the graft library can build Columns
  * directly from custom Catalyst expressions (the standard extension-library
  * pattern — same package, no reflection).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a logical plan (Dataset.ofRows is
    * private[sql]) — used by the optimization layer to re-root a query
    * around a persisted subplan.
    */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Run `body` on a clone of `s` (`cloneSession` is private[sql]) that
    * carries its conf, functions and temp views, with `overrides` set on
    * the clone only: the caller's conf is never written, so a query planned
    * on it meanwhile keeps its own layout. Frames built in `body` belong to
    * the clone; re-home a result with [[ofRows]].
    */
  def withConf[T](s: SparkSession, overrides: (String, String)*)(
      body: SparkSession => T): T = {
    val clone = s.asInstanceOf[classic.SparkSession].cloneSession()
    overrides.foreach { case (k, v) => clone.conf.set(k, v) }
    body(clone)
  }
}
