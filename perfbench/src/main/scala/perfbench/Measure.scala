package perfbench

import scala.collection.mutable

import graft.align.{AlignKernel, CleanText}
import graft.pipeline.{AlignedDoc, Page}

/** Correctness findings of one run; any finding makes the run incorrect. */
final class Gate {
  val problems = mutable.ArrayBuffer.empty[String]
  def fail(msg: String): Unit = { problems += msg; Harness.log(s"GATE FAILED: $msg") }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
  def ok: Boolean = problems.isEmpty
}

/** What a workload hands back to [[Main]]. */
final case class Result(
    gate: Gate,
    attempted: Int,
    failed: Int,
    failedNames: Seq[String],
    endToEnd: Seq[(String, (Double, String))],
    layers: Map[String, Double],
    notes: Seq[(String, String)])

/** One timed job of the closed loop. `probe` is set on traced passes. */
final case class PassResult(wallS: Double, heapMb: Double, probe: Option[Probe])

/** The closed loop: one client submits one job at a time. Untraced runs
  * spend the whole window untraced; traced runs spend the first half
  * untraced and the second half with listeners attached, so the tracing
  * overhead is the difference of the two medians. Each phase runs at least
  * `minPasses` and at most `maxPasses` jobs, however long its window.
  */
final class Measure(o: Opts, minPasses: Int, maxPasses: Int = Int.MaxValue) {
  import Harness._

  val untraced = mutable.ArrayBuffer.empty[Double]
  val traced = mutable.ArrayBuffer.empty[Double]
  val heaps = mutable.ArrayBuffer.empty[Double]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val skews = mutable.ArrayBuffer.empty[Double]
  val jobsByQuery = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def loop(pass: Boolean => PassResult): Unit = {
    val start = now()
    def phase(tracedPhase: Boolean, until: Double, into: mutable.ArrayBuffer[Double]): Unit =
      while (into.length < minPasses || (into.length < maxPasses && now() - start < until)) {
        val r = pass(tracedPhase)
        into += r.wallS
        if (!tracedPhase) heaps += r.heapMb
        r.probe.foreach(absorb(_, r.wallS))
        log(f"${if (tracedPhase) "traced " else ""}pass ${into.length}: ${r.wallS}%.3f s, heap ${r.heapMb}%.1f MB")
      }
    phase(tracedPhase = false, if (o.trace) o.seconds / 2 else o.seconds, untraced)
    if (o.trace) phase(tracedPhase = true, o.seconds, traced)
  }

  private def absorb(p: Probe, wallS: Double): Unit = {
    val st = p.spark
    Seq("spark.jobs" -> st.jobs.toDouble, "spark.stages" -> st.stages.toDouble,
      "spark.tasks" -> st.tasks.toDouble, "spark.executor_run_s" -> st.runS,
      "spark.executor_cpu_s" -> st.cpuS, "spark.gc_s" -> st.gcS,
      "spark.scheduler_delay_s" -> st.schedDelayS, "spark.shuffle_write_mb" -> st.shuffleWriteMb,
      "spark.shuffle_read_mb" -> st.shuffleReadMb, "spark.spill_mb" -> st.spillMb,
      "busy_s" -> st.taskBusyS, "wall_s" -> wallS,
      "streaming.batches" -> p.stream.batches.toDouble, "streaming.rows" -> p.stream.rows.toDouble)
      .foreach { case (k, v) => sums(k) += v }
    skews += st.taskSkew
    st.jobsByQuery.foreach { case (q, n) => jobsByQuery(q) += n }
  }

  def wallMedian: Double = median(untraced.toSeq)
  def heapMedian: Double = median(heaps.toSeq)

  /** Per traced pass averages of the engine counters. */
  def layerMetrics: Map[String, Double] = {
    val n = traced.length.toDouble
    val per = sums.toMap.map { case (k, v) => k -> v / n }
    per.filter { case (k, _) => k.startsWith("spark.") || k.startsWith("streaming.") } ++ Map(
      "spark.core_idle_share" -> math.max(0.0, 1.0 - sums("busy_s") / (sums("wall_s") * o.cpus)),
      "spark.task_skew" -> skews.sum / skews.length,
      "trace.overhead_s" -> (median(traced.toSeq) - wallMedian))
  }
}

/** Names and units of every per-layer metric, and the ones derived from
  * kernel output rows and stage replays.
  */
object Layers {
  /** The catalog workload's queries: the builders and consumers of six of
    * the seven session memos (all but the dedup clusters), the
    * one-prep/many-DP evaluation, the parquet and manifest writes, the
    * streaming sink and the three graph loops.
    */
  val CatalogAlign = Vector("q_align_metrics", "q_align_spans", "q_align_stream",
    "q_eval_alignment", "q_resume")
  val CatalogGraph = Vector("q_components_dist", "q_harmonic", "q_harmonic_hll",
    "q_link_edges", "q_lpa_dist")
  val CatalogTok = Vector("q_bpe_encode", "q_unigram_encode", "q_wordpiece_encode")
  val CatalogQueries: Vector[String] = (CatalogAlign ++ CatalogGraph ++ CatalogTok).sorted
  val OpsLoops = Vector("q_components_dist", "q_lpa_dist", "q_harmonic_hll")

  val Units: Vector[(String, String)] = Vector(
    "align.clean_s" -> "s", "align.extract_s" -> "s", "align.abbrev_s" -> "s",
    "align.dp_s" -> "s", "align.syllabify_s" -> "s", "align.project_s" -> "s",
    "align.dp_cells" -> "count",
    "align.dp_mcells_per_s" -> "Mcells/s", "align.dp_doc_p50_ms" -> "ms",
    "align.dp_doc_p99_ms" -> "ms", "align.dp_full_docs" -> "count",
    "align.dp_banded_docs" -> "count", "align.dp_full_cells_share" -> "share",
    "align.band_final_share" -> "share", "align.truncated" -> "count",
    "align.band_capped" -> "count", "align.band_overflow_drop" -> "count",
    "align.errors" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.scheduler_delay_s" -> "s", "spark.core_idle_share" -> "share",
    "spark.task_skew" -> "ratio", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB", "pipeline.scan_s" -> "s",
    "catalog.build_s" -> "s", "catalog.exec_s" -> "s") ++
    CatalogQueries.map(q => s"catalog.${q}_s" -> "s") ++ Vector(
    "catalog.align_family_s" -> "s", "catalog.graph_family_s" -> "s",
    "catalog.tok_family_s" -> "s", "catalog.cached_entries" -> "count",
    "catalog.cached_mb" -> "MB", "catalog.heap_growth_mb" -> "MB") ++
    OpsLoops.map(q => s"ops.${q}_jobs" -> "count") ++ Vector(
    "streaming.batches" -> "count", "streaming.rows" -> "count",
    "trace.overhead_s" -> "s")

  def fromReplay(r: StageReplay): Map[String, Double] = Map(
    "align.clean_s" -> r.cleanS, "align.extract_s" -> r.extractS, "align.abbrev_s" -> r.abbrevS,
    "align.dp_s" -> r.dpS, "align.syllabify_s" -> r.syllabifyS, "align.project_s" -> r.projectS,
    "align.dp_mcells_per_s" -> (if (r.dpS > 0) r.dpCells / r.dpS / 1e6 else 0.0),
    "align.dp_doc_p50_ms" -> Harness.quantile(r.dpDocMs.toSeq, 0.5),
    "align.dp_doc_p99_ms" -> Harness.quantile(r.dpDocMs.toSeq, 0.99))

  /** Counts over every page of the run, from the job's output rows. */
  def fromRows(pages: Seq[Page], rows: Seq[AlignedDoc]): Map[String, Double] = {
    val textByUrl = pages.iterator.map(p => p.url -> p.text).toMap
    val (banded, full) = rows.filterNot(d => AlignInputs.isFailure(d.error))
      .partition(_.band_width > 0)
    def n(d: AlignedDoc): Long =
      math.min(CleanText.clean(textByUrl(d.url)).length, AlignKernel.MaxAlignChars) + 1L
    val cells = rows.map(_.cells_filled).sum.toDouble
    val bandedCells = banded.map(_.cells_filled).sum.toDouble
    Map(
      "align.dp_cells" -> cells,
      "align.dp_full_docs" -> full.length.toDouble,
      "align.dp_banded_docs" -> banded.length.toDouble,
      "align.dp_full_cells_share" -> (if (cells > 0) full.map(_.cells_filled).sum / cells else 0.0),
      "align.band_final_share" -> (if (bandedCells > 0)
        banded.map(d => n(d) * (2L * d.band_width + 1)).sum / bandedCells else 0.0),
      "align.truncated" -> rows.count(_.error.contains("truncated")).toDouble,
      "align.band_capped" -> rows.count(_.error.contains("band_capped")).toDouble,
      "align.band_overflow_drop" -> rows.count(_.error.contains("band_overflow_drop")).toDouble,
      "align.errors" -> rows.count(_.error.startsWith("kernel:")).toDouble)
  }
}
