package perfbench

import scala.collection.mutable

import graft.align._
import graft.pipeline.{AlignJob, AlignedDoc, Page, PageGen}
import org.apache.spark.sql.{Dataset, SparkSession}

/** One source document of the sf0.1 corpus. */
final case class Doc(id: Long, text: String, lang: String)

/** Inputs and checks of the alignment workload. */
object AlignInputs {

  def loadDocs(s: SparkSession, path: String): Vector[Doc] = {
    import s.implicits._
    s.read.parquet(path).select("doc_id", "text", "lang").as[(Long, String, String)]
      .collect().toVector.sortBy(_._1).map { case (i, t, l) => Doc(i, t, l) }
  }

  /** align_long: page k's transcript is longChars(k) chars of corpus texts
    * joined by spaces, under the fixed id LongIdBase + k; the seed sets the
    * order of the pages in the table. The texts, lengths and ids (which set
    * the rendering noise and the url that picks a page's partition) are the
    * same for every seed: with 32 pages, seed-drawn texts moved the run's
    * DP cells by 12% between seeds, more than the run-to-run noise the
    * benchmark's bounds allow.
    */
  def longPages(docs: Vector[Doc], seed: Long, n: Int): Vector[Page] = {
    val rng = new PageGen.Rng(0x10a9L)
    val pages = Vector.tabulate(n) { k =>
      val len = longChars(k, n)
      val sb = new java.lang.StringBuilder(len + 600)
      while (sb.length < len) {
        if (sb.length > 0) sb.append(' ')
        sb.append(docs(rng.nextInt(docs.length)).text)
      }
      PageGen.pageFor(LongIdBase + k, sb.substring(0, len).trim, docs.head.lang)
    }
    sample(n, n, seed).map(pages)
  }

  val LongMinChars = 1000
  val LongMaxChars = 50000
  val LongIdBase = 900000L

  /** Midpoint of the k-th of n equal slices of the log length range. */
  def longChars(k: Int, n: Int): Int = {
    val (lo, hi) = (math.log(LongMinChars), math.log(LongMaxChars))
    math.exp(lo + (hi - lo) * (k + 0.5) / n).toInt
  }

  def writePages(s: SparkSession, pages: Vector[Page], dir: String): Unit = {
    import s.implicits._
    s.createDataset(pages).write.mode("overwrite").parquet(dir)
  }

  def readPages(s: SparkSession, dir: String): Dataset[Page] = {
    import s.implicits._
    s.read.parquet(dir).as[Page]
  }

  /** The flagship job as `SparkEntry` runs it: salted over the session's cores. */
  def alignJob(s: SparkSession, dir: String): Dataset[AlignedDoc] =
    AlignJob.align(readPages(s, dir), saltPartitions = s.sparkContext.defaultParallelism)

  /** Canonical rendering of one output row; `partition_id` is left out
    * because it depends on the execution, not on the page.
    */
  def render(d: AlignedDoc): String =
    Seq(d.url, d.n_spans, d.spans.map(c => s"${c.seq}:${c.syl}:${c.ulx}:${c.uly}:${c.lrx}:${c.lry}")
      .mkString(";"), d.tra_len, d.ocr_len, d.edit_distance, d.gap_count, d.band_width,
      d.cells_filled, d.error).mkString("\t")

  /** The row `AlignJob.align` builds from a kernel result. */
  def toDoc(url: String, r: KernelResult): AlignedDoc =
    AlignedDoc(url, r.spans.length,
      r.spans.zipWithIndex.map { case (b, i) => graft.pipeline.SpanCols(i, b.syl, b.ulx, b.uly, b.lrx, b.lry) },
      -1, r.traAlign.length, r.ocrAlign.length, r.editDistance, r.gapCount, r.bandUsed,
      r.cellsFilled, r.error)

  /** A page the run could not align: a kernel error, or a dropped alignment. */
  def isFailure(error: String): Boolean =
    error.startsWith("kernel:") || error.contains("band_overflow_drop")

  /** Replay pages through `AlignKernel.process` outside Spark, on `threads`
    * plain threads with one workspace each; results in page order.
    */
  def replay(pages: Vector[Page], threads: Int): Vector[AlignedDoc] = {
    val out = new Array[AlignedDoc](pages.length)
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        val ws = new NeedlemanWunsch.Workspace
        val cache = new Syllabify.Cache
        var i = t
        while (i < pages.length) {
          val p = pages(i)
          out(i) = toDoc(p.url, AlignKernel.process(p.text, p.html, ws = ws, sylCache = cache))
          i += threads
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    out.toVector
  }

  /** Pick `k` distinct indices of `n` in seeded order. */
  def sample(n: Int, k: Int, seed: Long): Vector[Int] = {
    val rng = new PageGen.Rng(seed ^ 0x5a3b1eL)
    val idx = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i -= 1
    }
    idx.toVector.take(k)
  }
}

/** Single-thread busy time of each kernel stage, from replaying pages
  * through the stages' public functions in the order `AlignKernel` runs
  * them. Each replayed page must reproduce the job's output row exactly.
  */
final class StageReplay(tracer: Tracer) {
  var cleanS, extractS, abbrevS, dpS, syllabifyS, projectS = 0.0
  var docs = 0
  var dpCells = 0L
  val dpDocMs = mutable.ArrayBuffer.empty[Double]
  var mismatches = 0

  private val ws = new NeedlemanWunsch.Workspace
  private val cache = new Syllabify.Cache

  private def stage[A](name: String)(body: => A): (A, Double) =
    tracer.span(name)(Harness.timed(body))

  def run(p: Page, expect: AlignedDoc): Unit = tracer.span("align.page") {
    val max = AlignKernel.MaxAlignChars
    val (clean, tc) = stage("align.clean")(CleanText.clean(if (p.text == null) "" else p.text))
    val (boxes, te) = stage("align.extract")(ExtractHtml.extractCharBoxes(p.html))
    val transcript = if (clean.length > max) clean.substring(0, max) else clean
    val stream = if (boxes.length > max) boxes.take(max) else boxes
    val (chars, ta) = stage("align.abbrev")(Abbrev.expand(stream))
    val ocr = chars.iterator.map(_.ch).mkString
    val (ar, td) = stage("align.dp")(NeedlemanWunsch.alignChars(transcript, ocr, ws = ws))
    val (syls, ts) = stage("align.syllabify")(Syllabify.syllabifyText(transcript, cache))
    val (spans, tp) = stage("align.project")(
      SpanProject.projectSyllables(syls, ar.traAlign, SpanProject.insertGaps(chars, ar.ocrAlign)))
    cleanS += tc; extractS += te; abbrevS += ta; dpS += td; syllabifyS += ts; projectS += tp
    docs += 1
    dpCells += ar.cellsFilled
    dpDocMs += td * 1000
    val got = spans.zipWithIndex.map { case (b, i) =>
      graft.pipeline.SpanCols(i, b.syl, b.ulx, b.uly, b.lrx, b.lry) }
    if (got != expect.spans || ar.cellsFilled != expect.cells_filled ||
        ar.bandUsed != expect.band_width || ar.traAlign.length != expect.tra_len) mismatches += 1
  }
}

/** The `align_long` workload: `AlignJob.align` over a pages table written
  * as parquet, forced in full, one job at a time.
  */
object AlignWorkload {
  import Harness._

  val LongPages = 32
  val Setups = 5

  def run(o: Opts, tracer: Tracer): Result = {
    val pagesDir = o.out.resolve("pages").toString
    var pages = Vector.empty[Page]

    // set-up, repeated: fresh session, input generation, parquet write
    var s: SparkSession = null
    val setupS = (1 to Setups).map { _ =>
      if (s != null) s.stop()
      tracer.span("setup") {
        timed {
          s = startSession(o)
          val docs = AlignInputs.loadDocs(s, o.data("sf0.1/documents.parquet"))
          pages = AlignInputs.longPages(docs, o.seed, LongPages)
          AlignInputs.writePages(s, pages, pagesDir)
        }._2
      }
    }
    log(f"set-up ${setupS.map(t => f"$t%.2f").mkString(" ")} s, ${pages.length} pages")

    // warm-up pass, collected: its output feeds the correctness gate
    val (rows, warmS) = tracer.span("warmup") {
      timed(AlignInputs.alignJob(s, pagesDir).collect().toVector)
    }
    log(f"warm-up pass $warmS%.2f s")
    val gate = new Gate
    val gateS = tracer.span("gate") {
      timed(AlignGates.long(gate, pages, rows, o.seed, o.root))._2
    }
    log(f"correctness gate $gateS%.2f s")
    val failedUrls = rows.filter(d => AlignInputs.isFailure(d.error)).map(_.url)

    val m = new Measure(o, minPasses = 3)
    m.loop { tracedPass =>
      val probe = if (tracedPass) Some(new Probe(s, tracer)) else None
      val wall = tracer.span("pass") {
        Probe.tag(s.sparkContext, o.workload, tracer.current)
        timed(force(AlignInputs.alignJob(s, pagesDir).toDF()))._2
      }
      probe.foreach(_.close())
      PassResult(wall, liveHeapMb(Some(s)), probe)
    }

    val e2e = Seq(
      "setup_s" -> (median(setupS), "s"),
      "wall_s" -> (m.wallMedian, "s"),
      "docs_per_s" -> (pages.length / m.wallMedian, "1/s"),
      "ok_share" -> (1.0 - failedUrls.length.toDouble / rows.length, "share"),
      "live_heap_mb" -> (m.heapMedian, "MB"))

    val (entries, cachedMb) = cachedBlocks(s)
    val replay = new StageReplay(tracer)
    val layers =
      if (!o.trace) Map.empty[String, Double]
      else {
        val scanS = median((1 to 3).map(_ => timed(force(AlignInputs.readPages(s, pagesDir).toDF()))._2))
        val rowByUrl = rows.map(d => d.url -> d).toMap
        tracer.span("replay") {
          pages.foreach(p => replay.run(p, rowByUrl(p.url)))
        }
        gate.check(replay.mismatches == 0,
          s"${replay.mismatches} stage replays differ from the job's output rows")
        m.layerMetrics ++ Layers.fromReplay(replay) ++ Layers.fromRows(pages, rows) ++ Map(
          "pipeline.scan_s" -> scanS,
          "catalog.cached_entries" -> entries.toDouble, "catalog.cached_mb" -> cachedMb)
      }
    s.stop()
    Result(gate, rows.length, failedUrls.length, failedUrls, e2e, layers, Seq(
      "pages" -> pages.length.toString, "warmup_s" -> f"$warmS%.3f",
      "replay_docs" -> replay.docs.toString, "dp_cells" -> rows.map(_.cells_filled).sum.toString,
      "cached_entries" -> entries.toString, "cached_mb" -> f"$cachedMb%.3f"))
  }
}
