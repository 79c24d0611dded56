package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` and `private[spark]` helpers so the graft
  * library can build Columns directly from custom Catalyst expressions (the
  * standard extension-library pattern — same package, no reflection).
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

  /** [[withConf]] for a `body` that runs its streams to their end on the
    * clone. Spark adds a `StreamingQueryListenerBus` to the context's
    * listener bus for each session that starts a stream and never removes
    * it; the clone's is removed once `body` returns, so repeated calls
    * leave the context's listener count where it was.
    */
  def withStreamConf[T](s: SparkSession, overrides: (String, String)*)(
      body: SparkSession => T): T =
    withConf(s, overrides: _*) { c =>
      try body(c)
      finally c.sparkContext.listenerBus.removeListener(
        StreamBusField.get(c.streams).asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
    }

  /** Free `rdd`'s cached blocks without blocking, as `RDD.unpersist`
    * does, through the context's `private[spark]` `unpersistRDD`:
    * `RDD.unpersist` on a locally checkpointed RDD also logs a WARN that
    * it cannot be recomputed, and the graph loops free one such RDD per
    * round, never to read it again. `rdd`'s own storage level is left
    * set.
    */
  def unpersistBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** `classic.StreamingQueryManager`'s private `listenerBus`. */
  private lazy val StreamBusField = {
    val f = classOf[classic.StreamingQueryManager].getDeclaredField("listenerBus")
    f.setAccessible(true)
    f
  }
}
