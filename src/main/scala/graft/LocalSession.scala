package graft

import org.apache.spark.sql.SparkSession

/** The session every dev main runs on: `local[cpus]` with as many shuffle
  * partitions, UTC, no UI, a 64 MB broadcast-join threshold and WARN logs
  * (the Bench configuration, so a correctness dump runs the plans the
  * bench times). `canChangeCachedPlanOutputPartitioning` is on for the
  * session's whole life: with Spark's default (off) every persisted frame
  * (the session memos, the operators' registered persists) is built with
  * adaptive execution's final-stage shuffle optimizations off, so the
  * stage that fills the cache keeps its shuffle's partitions as planned.
  */
object LocalSession {
  def apply(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
