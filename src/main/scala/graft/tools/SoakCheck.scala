package graft.tools

import graft.{LocalSession, ScalingBench}

/** Sustained-volume soak: the flagship align job over a k×-replicated corpus
  * in one job at local[32] — memory-stability and throughput evidence for
  * the would-it-survive-100× question. Usage: SoakCheck [k=64] [sfDir]
  */
object SoakCheck {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 64
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = LocalSession(32)
    ScalingBench.run(spark, sfDir, 1) // warm
    val (docs, sec) = ScalingBench.run(spark, sfDir, k)
    // measure the LIVE set, not accumulated garbage: without a collection
    // first the number is just "allocation since the last young GC" and
    // varies 5x run-to-run at identical behavior
    System.gc()
    Thread.sleep(200)
    val rt = Runtime.getRuntime
    println(f"""{"soak":{"docs":$docs,"sec":$sec%.1f,"docs_per_sec":${docs / sec}%.0f,"heap_used_mb":${(rt.totalMemory - rt.freeMemory) / 1048576}}}""")
    spark.stop()
  }
}
