package graft

import graft.pipeline.{AlignJob, Page, PageGen}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Scaling-efficiency evidence for the BASELINE.md north rule: the identical
  * flagship align job on identical deterministic input at two parallelism
  * levels (local[N] and local[4N] — the sandbox stand-in for N vs 4N
  * executors). Prints one JSON line with docs/sec at both and
  * eff = (thr_4N / thr_N) / 4.
  *
  * Usage: ScalingBench [n=8] [replicate=8] [sfDir]
  */
object ScalingBench {

  /** Pages replicated k× with distinct urls/seeds — a bigger deterministic
    * corpus so per-run timing noise stays small.
    */
  def corpus(spark: SparkSession, sfDir: String, k: Int): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
      .as[(Long, String, String)]
      .flatMap { case (id, text, lang) =>
        (0 until k).map(r => PageGen.pageFor(id + r.toLong * 10000000L, text, lang))
      }
  }

  def run(spark: SparkSession, sfDir: String, k: Int): (Long, Double) = {
    val pages = corpus(spark, sfDir, k)
    val n = pages.count()
    val t0 = System.nanoTime()
    AlignJob.metrics(AlignJob.align(pages,
      saltPartitions = spark.sparkContext.defaultParallelism))
      .write.format("noop").mode("overwrite").save()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val nCores = if (args.length > 0) args(0).toInt else 8
    val k = if (args.length > 1) args(1).toInt else 8
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"

    // warmup in a throwaway high-parallelism session (JIT the kernel so the
    // first measured run isn't penalized; half the measured volume)
    val warm = LocalSession(4 * nCores)
    run(warm, sfDir, math.max(1, k / 2))
    warm.stop()

    val sN = LocalSession(nCores)
    val (docs, secN) = run(sN, sfDir, k)
    sN.stop()

    val s4N = LocalSession(4 * nCores)
    val (_, sec4N) = run(s4N, sfDir, k)
    s4N.stop()

    val thrN = docs / secN
    val thr4N = docs / sec4N
    val eff = (thr4N / thrN) / 4.0
    val record = s"""{"bench":"scaling","docs":$docs,"n_cores":$nCores,"thr_N":$thrN,"thr_4N":$thr4N,"sec_N":$secN,"sec_4N":$sec4N,"eff":$eff,"sf":"$sfDir"}"""
    println(record)
    // file copy of the record, same rationale as Bench (VERDICT r4 #1:
    // never depend on a log-tail buffer); appended, not overwritten — the
    // scaling protocol is run-several-times-and-report-all
    Bench.writeRecord(s"scaling_${nCores}x${k}_${System.currentTimeMillis()}.json", record)
  }
}
