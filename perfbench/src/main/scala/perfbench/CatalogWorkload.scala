package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.pipeline.{AlignJob, Page, PageGen}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One pass over a list of catalog queries: per query, the time spent
  * inside its closure (building the frame) and in the write that forces it.
  * A query that throws keeps the time it used and is named in `failed`.
  */
final case class CatalogPass(times: Vector[(String, Double, Double)], failed: Vector[String]) {
  def wallS: Double = times.map(t => t._2 + t._3).sum
}

/** The `catalog_shared` workload: the [[Layers.CatalogQueries]] of
  * `SparkEntry.queries`, which run the alignment pipeline or share a session
  * memo, in alphabetical order; each pass runs in a fresh session, so every
  * memo is built cold inside the pass.
  */
object CatalogWorkload {
  import Harness._

  type Query = (SparkSession, String) => DataFrame

  /** Run each query, forcing its result; with `dump`, each result is
    * written as parquet under it instead (the layout `graft.Verify` writes,
    * which the oracle compare reads).
    */
  def runPass(s: SparkSession, sf: String, queries: Seq[(String, Query)], tracer: Tracer,
      dump: Option[java.nio.file.Path]): CatalogPass = {
    val times = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val failed = mutable.ArrayBuffer.empty[String]
    queries.foreach { case (name, fn) =>
      tracer.span(name) {
        Probe.tag(s.sparkContext, name, tracer.current)
        val t0 = now()
        var t1 = Double.NaN
        try {
          val df = fn(s, sf)
          t1 = now()
          dump match {
            case Some(d) => df.write.mode("overwrite").parquet(d.resolve(name).toString)
            case None => force(df)
          }
        } catch {
          case NonFatal(e) =>
            failed += name
            log(s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val t2 = now()
        if (t1.isNaN) t1 = t2
        times += ((name, t1 - t0, t2 - t1))
      }
    }
    CatalogPass(times.toVector, failed.toVector)
  }

  val Setups = 5

  def run(o: Opts, tracer: Tracer): Result = {
    val sf = o.data("sf0.01")
    val all = graft.SparkEntry.queries
    val queries = Layers.CatalogQueries.map(q => q -> all(q))
    val dumpDir = o.out.resolve("verify")
    deleteTree(dumpDir)
    writeOracles(dumpDir)

    // set-up, repeated: a fresh session in this JVM and a scan of the input
    var nDocs = 0L
    val setups = (1 to Setups).map { _ =>
      tracer.span("setup") {
        timed {
          val s = startSession(o)
          try nDocs = s.read.parquet(s"$sf/documents.parquet").count() finally s.stop()
        }._2
      }
    }

    val heapAfterStop = mutable.ArrayBuffer.empty[Double]

    // warm-up: a first pass pays the JVM's JIT and code-generation warm-up
    // outside the timed passes, and dumps the results for the oracle compare
    val (_, warmS) = tracer.span("warmup") {
      val s = startSession(o)
      try timed(runPass(s, sf, queries, tracer, Some(dumpDir))) finally s.stop()
    }
    heapAfterStop += liveHeapMb()
    log(f"warm-up pass $warmS%.2f s (results dumped for the oracle compare)")
    // the JIT keeps compiling through the next pass; a traced run compares
    // an untraced and a traced pass, so it warms up once more to keep that
    // drift out of the tracing overhead
    if (o.trace) {
      val s = startSession(o)
      try tracer.span("warmup")(runPass(s, sf, queries, tracer, None)) finally s.stop()
    }

    val tracedPasses = mutable.ArrayBuffer.empty[CatalogPass]
    val failedNames = mutable.LinkedHashSet.empty[String]
    var attempted, failed = 0
    var cached = (0, 0.0)

    // exactly one timed pass (and one traced pass), whatever the window: a
    // later pass would run with more JIT warm-up and more leaked session memos
    // behind it, so a faster program would change what the metrics measure
    val m = new Measure(o, minPasses = 1, maxPasses = 1)
    m.loop { tracedPass =>
      val s = startSession(o)
      val probe = if (tracedPass) Some(new Probe(s, tracer)) else None
      val pass = tracer.span("pass")(runPass(s, sf, queries, tracer, None))
      probe.foreach(_.close())
      attempted += pass.times.length
      failed += pass.failed.length
      failedNames ++= pass.failed
      if (tracedPass) tracedPasses += pass
      pass.times.foreach { case (q, b, e) => log(f"  $q%-22s ${b + e}%.3f s") }
      val heap = liveHeapMb(Some(s))
      cached = cachedBlocks(s)
      s.stop()
      heapAfterStop += liveHeapMb()
      PassResult(pass.wallS, heap, probe)
    }
    log(s"heap after each session stop (MB): ${heapAfterStop.map(h => f"$h%.1f").mkString(" ")}")

    val e2e = Seq(
      "setup_s" -> (median(setups), "s"),
      "wall_s" -> (m.wallMedian, "s"),
      "docs_per_s" -> (nDocs / m.wallMedian, "1/s"),
      "ok_share" -> (1.0 - failed.toDouble / attempted, "share"),
      "live_heap_mb" -> (m.heapMedian, "MB"))

    val layers =
      if (!o.trace) Map.empty[String, Double]
      else {
        val n = tracedPasses.length.toDouble
        def avg(f: CatalogPass => Double) = tracedPasses.map(f).sum / n
        def qTime(q: String) = avg(_.times.filter(_._1 == q).map(t => t._2 + t._3).sum)
        def family(qs: Seq[String]) = qs.map(qTime).sum
        m.layerMetrics ++ kernelLayers(o, sf, tracer) ++
          Layers.CatalogQueries.map(q => s"catalog.${q}_s" -> qTime(q)) ++
          Layers.OpsLoops.map(q => s"ops.${q}_jobs" -> m.jobsByQuery(q) / n) ++ Map(
            "catalog.build_s" -> avg(_.times.map(_._2).sum),
            "catalog.exec_s" -> avg(_.times.map(_._3).sum),
            "catalog.align_family_s" -> family(Layers.CatalogAlign),
            "catalog.graph_family_s" -> family(Layers.CatalogGraph),
            "catalog.tok_family_s" -> family(Layers.CatalogTok),
            "catalog.cached_entries" -> cached._1.toDouble,
            "catalog.cached_mb" -> cached._2,
            "catalog.heap_growth_mb" -> (heapAfterStop.last - heapAfterStop.head))
      }
    Result(new Gate, attempted, failed, failedNames.toVector, e2e, layers, Seq(
      "docs" -> nDocs.toString, "warmup_s" -> f"$warmS%.3f", "dump_dir" -> dumpDir.toString,
      "timed_passes" -> m.untraced.length.toString,
      "queries" -> Layers.CatalogQueries.mkString(","),
      "cached_entries" -> cached._1.toString, "cached_mb" -> f"${cached._2}%.3f",
      "heap_after_stop_mb" -> heapAfterStop.map(h => f"$h%.1f").mkString(" ")))
  }

  /** The oracle SQL the compare runs, written the way `graft.Verify` writes it. */
  private def writeOracles(dir: java.nio.file.Path): Unit =
    Harness.writeString(dir.resolve("oracle_sql.json"), Json.obj(
      graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

  /** The kernel work of the catalog's alignment family: the sf0.01 pages as
    * `AlignJob.synthPages` builds them, replayed outside Spark, plus the
    * pages scan forced alone.
    */
  private def kernelLayers(o: Opts, sf: String, tracer: Tracer): Map[String, Double] = {
    val s = startSession(o)
    try {
      val docs = AlignInputs.loadDocs(s, s"$sf/documents.parquet")
      val pages: Vector[Page] = docs.map(d => PageGen.pageFor(d.id, d.text, d.lang))
      val rows = AlignInputs.replay(pages, o.cpus)
      val replay = new StageReplay(tracer)
      tracer.span("replay")(pages.zip(rows).foreach { case (p, r) => replay.run(p, r) })
      require(replay.mismatches == 0, s"${replay.mismatches} stage replays differ from AlignKernel")
      val scanS = median((1 to 3).map(_ => timed(force(AlignJob.synthPages(s, sf).toDF()))._2))
      Layers.fromReplay(replay) ++ Layers.fromRows(pages, rows) + ("pipeline.scan_s" -> scanS)
    } finally s.stop()
  }

  /** Failure accounting check: a pass with one injected throwing query must
    * count it as attempted and failed, name it, and keep its time.
    */
  def selfTest(o: Opts, tracer: Tracer): Result = {
    val gate = new Gate
    val all = graft.SparkEntry.queries
    val injected: Query = (s, _) => {
      s.range(200000).selectExpr("sum(id)").collect()
      throw new IllegalStateException("injected failure")
    }
    val queries = Seq("q_link_edges" -> all("q_link_edges"), "q_injected_failure" -> injected,
      "q_robots" -> all("q_robots"))
    val s = startSession(o)
    val pass = try runPass(s, o.data("sf0.01"), queries, tracer, None) finally s.stop()
    val injectedTime = pass.times.find(_._1 == "q_injected_failure").map(t => t._2 + t._3)
    gate.check(pass.failed == Vector("q_injected_failure"), s"failed list ${pass.failed}")
    gate.check(pass.times.length == 3, s"${pass.times.length} of 3 queries timed")
    gate.check(injectedTime.exists(_ > 0), "the failing query's time was dropped")
    Result(gate, pass.times.length, pass.failed.length, pass.failed, Seq(
      "wall_s" -> (pass.wallS, "s"), "ok_share" -> (1.0 - pass.failed.length / 3.0, "share")),
      Map.empty, Seq("injected_s" -> injectedTime.fold("")(t => f"$t%.3f")))
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }
}
