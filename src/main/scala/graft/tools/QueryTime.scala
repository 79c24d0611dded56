package graft.tools

import graft.LocalSession

/** Dev diagnostic: time individual SparkEntry queries (cold, then warm
  * reruns) without paying for the whole Bench sweep.
  *
  * Usage: runMain graft.tools.QueryTime q_mei_assign q_simhash_dedup
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      GRAFT_QT_RUNS (default 2: one cold + one warm)
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("GRAFT_QT_RUNS", "2").toInt
    val spark = LocalSession(cpus.toInt)
    // experiment knob: GRAFT_QT_CONF="spark.sql.adaptive.enabled=false,..."
    sys.env.get("GRAFT_QT_CONF").foreach(_.split(',').filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    for (name <- args) {
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to runs).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-24s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
