package org.apache.spark.sql

/** Test access to a session's id (`private[sql]`), the id its SQL
  * executions tag their jobs with.
  */
object SessionId {
  def apply(s: SparkSession): String = s.asInstanceOf[classic.SparkSession].sessionUUID
}
