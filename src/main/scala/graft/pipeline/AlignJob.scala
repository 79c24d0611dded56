package graft.pipeline

import graft.align._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** One output span column group (FIXTURES.md output schema, flat ints). */
final case class SpanCols(seq: Int, syl: String, ulx: Int, uly: Int, lrx: Int, lry: Int)

/** Per-document kernel output: spans + lineage/metrics
  * (SURVEY.md §4 item 4 — partition lineage travels with the row).
  */
final case class AlignedDoc(
    url: String,
    n_spans: Int,
    spans: Seq[SpanCols],
    partition_id: Int,
    tra_len: Int,
    ocr_len: Int,
    edit_distance: Int,
    gap_count: Int,
    band_width: Int,
    cells_filled: Long,
    error: String)

/** The flagship job: Dataset[Page] → per-url aligned spans via the typed
  * mapPartitions kernel (SURVEY.md §3 lifecycle). Catalyst plan:
  * FileScan → [Exchange(layout)] → DeserializeToObject → MapPartitions →
  * SerializeFromObject — one narrow scan, at most one shuffle, then the
  * embarrassingly parallel CPU-bound kernel stage.
  */
object AlignJob {

  /** Synthesize the pages table from the driver's documents parquet —
    * deterministic (seed = doc_id), so every run and parallelism level sees
    * identical bytes.
    */
  def synthPages(spark: SparkSession, sfDir: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
      .as[(Long, String, String)]
      .map { case (id, text, lang) => PageGen.pageFor(id, text, lang) }
  }

  /** Run the kernel over pages.
    *
    * @param saltPartitions if > 0, lay the rows out over this many partitions
    *   before the kernel (see [[layout]]) — the explicit skew break of
    *   SURVEY.md §4 item 3: kernel cost is opaque to AQE, so one
    *   pathologically long document must not straggle a partition. On batch
    *   input this runs one small planning job when `align` is called.
    *   0 = no extra shuffle (input partitioning is trusted). Trade-off at
    *   10^12 rows: the layout Exchange moves the full page payloads once —
    *   worth it when per-partition kernel-cost variance is high; skip it when
    *   input splits are already well-mixed and rely on the MaxAlignChars cap
    *   + many-docs-per-partition averaging (the metrics table's per-partition
    *   lineage shows which regime you're in).
    */
  def align(
      pages: Dataset[Page],
      scoring: Scoring = Scoring.Default,
      saltPartitions: Int = 0): Dataset[AlignedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._

    layout(pages, saltPartitions).mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      // one reusable DP workspace + syllable memo per partition: no
      // per-document buffer churn, repeated vocabulary syllabified once
      val ws = new graft.align.NeedlemanWunsch.Workspace
      val sylCache = new Syllabify.Cache
      it.map { p =>
        val r = AlignKernel.process(p.text, p.html, scoring, ws = ws, sylCache = sylCache)
        AlignedDoc(
          url = p.url,
          n_spans = r.spans.length,
          spans = r.spans.iterator.zipWithIndex.map { case (s, i) =>
            SpanCols(i, s.syl, s.ulx, s.uly, s.lrx, s.lry)
          }.toSeq,
          partition_id = pid,
          tra_len = r.traAlign.length,
          ocr_len = r.ocrAlign.length,
          edit_distance = r.editDistance,
          gap_count = r.gapCount,
          band_width = r.bandUsed,
          cells_filled = r.cellsFilled,
          error = r.error)
      }
    }
  }

  /** Per-page evaluation of the `pred` scoring's spans against the `gt`
    * scoring's spans of the same page, scored in the kernel task: (url,
    * mean_iou, mean_range_iou, n_gt_spans) by [[EvalJob.docMeans]]. Each
    * page is extracted once and only the DP runs per scoring; no shuffle
    * after the layout. A page with no GT spans emits no row.
    */
  def evaluate(
      pages: Dataset[Page],
      gt: Scoring,
      pred: Scoring,
      saltPartitions: Int): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._

    layout(pages, saltPartitions).mapPartitions { it =>
      val ws = new graft.align.NeedlemanWunsch.Workspace
      val sylCache = new Syllabify.Cache
      it.flatMap { p =>
        val rs = AlignKernel.processMulti(p.text, p.html, Seq(gt, pred), ws, sylCache)
        EvalJob.docMeans(rs(0).spans, rs(1).spans).map { case (iou, rangeIou, n) =>
          (p.url, iou, rangeIou, n)
        }
      }
    }.toDF("url", "mean_iou", "mean_range_iou", "n_gt_spans")
  }

  /** Pages per partition that [[layout]] places by estimated cost. */
  private val PlannedPagesPerPartition = 16

  /** The kernel stage's input over `k` partitions. The `PlannedPagesPerPartition·k`
    * pages with the most estimated DP cells ([[NeedlemanWunsch.estimateCells]]
    * on the capped text length) are placed longest-first, each into the
    * least-loaded partition; every other row goes to `pmod(xxhash64(url), k)`.
    * One Exchange either way. Streaming input gets an empty plan (no query
    * can run on it ahead of the stream), so its rows all take the hash.
    * `k` ≤ 0 leaves the input partitioning as it is.
    */
  private def layout(pages: Dataset[Page], k: Int): Dataset[Page] =
    if (k <= 0) pages
    else {
      val (urls, bins) =
        if (pages.isStreaming) (Array.empty[String], Array.empty[Int]) else planHeaviest(pages, k)
      pages.repartitionById(k, coalesce(
        element_at(map_from_arrays(lit(urls), lit(bins)), col("url")),
        pmod(xxhash64(col("url")), lit(k)).cast(IntegerType)))
    }

  /** (urls, partitions) of the heaviest pages: one narrow driver query over
    * (url, capped text length), then longest-first into the least-loaded of
    * `k` bins, ties broken by url. The transcript length stands in for both
    * sides of the DP: the stream is extracted from the html, which the query
    * does not read.
    */
  private def planHeaviest(pages: Dataset[Page], k: Int): (Array[String], Array[Int]) = {
    val cells = udf((len: Int) => NeedlemanWunsch.estimateCells(len, len))
    val heaviest = pages
      .select(col("url"),
        cells(least(length(col("text")), lit(AlignKernel.MaxAlignChars))).as("cells"))
      .where(col("url").isNotNull && col("cells").isNotNull)
      .orderBy(col("cells").desc, col("url"))
      .limit(PlannedPagesPerPartition * k)
      .collect()
    val loads = new Array[Long](k)
    // a repeated url keeps its first bin: the plan is a map keyed by url
    val bins = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    heaviest.foreach { r =>
      val bin = bins.getOrElseUpdate(r.getString(0), loads.indices.minBy(loads(_)))
      loads(bin) += r.getLong(1)
    }
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      f"align layout: k=$k, ${heaviest.length} rows planned, estimated bin load " +
        f"max ${loads.max / 1e6}%.1f M / mean ${loads.sum / 1e6 / k}%.1f M cells")
    (bins.keys.toArray, bins.values.toArray)
  }

  /** Flat spans table: (url, seq, syl, ulx, uly, lrx, lry). */
  def spans(aligned: Dataset[AlignedDoc]): DataFrame = spansDf(aligned.toDF())

  /** [[spans]] over an untyped aligned table (the session-memoized cached
    * form — the typed plan's kernel closure makes every align() call
    * plan-unique, so sharing kernel output across queries requires sharing
    * the DataFrame itself).
    */
  def spansDf(aligned: DataFrame): DataFrame =
    aligned
      .select(col("url"), explode(col("spans")).as("s"))
      .select(col("url"), col("s.seq").as("seq"), col("s.syl").as("syl"),
        col("s.ulx").as("ulx"), col("s.uly").as("uly"),
        col("s.lrx").as("lrx"), col("s.lry").as("lry"))

  /** Per-document metrics/lineage side table. */
  def metrics(aligned: Dataset[AlignedDoc]): DataFrame = metricsDf(aligned.toDF())

  /** [[metrics]] over an untyped aligned table. */
  def metricsDf(aligned: DataFrame): DataFrame =
    aligned.drop("spans")
}
