package graft.pipeline

import graft.align.{AlignKernel, BBox, Scoring, SylBox}
import graft.ops.CacheRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Alignment evaluation — the reference's metrics layer
  * (evaluate_text_alignment.py:109-131, SURVEY.md O40–O44) as one
  * per-page rule, [[scoreDoc]], run where a page's spans are made: in the
  * kernel task that aligns it under two scorings ([[AlignJob.evaluate]]),
  * over an aligned page against its XML ground truth (q_eval_gtxml), and
  * inside each grid-search task ([[gridSearch]]).
  */
object EvalJob {

  /** The per-document rule over one page's spans (gt_seq = index in
    * `gt`, prediction order = order in `pred`): one (gt_seq, iou,
    * range_iou) per collapsed GT span, in collapse order (first occurrence
    * of each syllable text; the LAST span with that text is scored — the
    * reference keys its per-document score dict by `box['syl']`).
    * Candidates are substring matches either way
    * (`x.syl in box.syl or box.syl in x.syl`); the best is the FIRST max
    * of intersection area in prediction order (`ints.index(max(ints))`);
    * both scores are 0 unless that intersection is > 0. The scores are
    * bbox IOU and char-range IOU (the black-area analogue).
    */
  def scoreDoc(gt: IndexedSeq[SylBox], pred: IndexedSeq[SylBox]): IndexedSeq[(Int, Double, Double)] = {
    val lastByText = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    gt.indices.foreach(i => lastByText.put(gt(i).syl, i))
    lastByText.valuesIterator.map { i =>
      val g = gt(i)
      def inter(p: SylBox): Long =
        BBox.intersectArea(g.ulx, g.uly, g.lrx, g.lry, p.ulx, p.uly, p.lrx, p.lry)
      val cands = pred.filter(p => g.syl.contains(p.syl) || p.syl.contains(g.syl))
      if (cands.isEmpty) (i, 0.0, 0.0)
      else {
        val p = cands.maxBy(inter) // the first of equal maxima
        if (inter(p) > 0)
          (i, BBox.iou(g.ulx, g.uly, g.lrx, g.lry, p.ulx, p.uly, p.lrx, p.lry),
            BBox.rangeIou(g.ulx, g.lrx, p.ulx, p.lrx))
        else (i, 0.0, 0.0)
      }
    }.toIndexedSeq
  }

  /** One page's evaluation row, without the url: (mean_iou,
    * mean_range_iou, n_gt_spans), [[scoreDoc]]'s scores folded in
    * ascending gt_seq order (double addition is order-sensitive; the
    * reference's np.mean sums in dict order — the value set is identical,
    * only the last-ulp summation order is pinned); None when the page has
    * no GT spans.
    */
  def docMeans(gt: IndexedSeq[SylBox], pred: IndexedSeq[SylBox]): Option[(Double, Double, Int)] = {
    val perSpan = scoreDoc(gt, pred).sortBy(_._1)
    val n = perSpan.length
    if (n == 0) None
    else Some((perSpan.foldLeft(0.0)(_ + _._2) / n, perSpan.foldLeft(0.0)(_ + _._3) / n, n))
  }

  /** Scoring-parameter grid search (evaluate_text_alignment.py:178-198,
    * SURVEY.md O44), distributed: the param grid is the Dataset, the fixture
    * pages are broadcast, each task aligns the fixtures under its params and
    * scores against fixed ground-truth spans -- the DEFAULT-scoring
    * alignment of the same noisy stream (the shared coordinate system; the
    * reference scores against fixed human GT on the same page image).
    * mean_score is agreement-with-default, so the default combo scores
    * exactly 1.0. Returns (params, mean_score) sorted ascending like the
    * reference's final sort.
    */
  def gridSearch(
      spark: SparkSession,
      fixtures: Seq[(String, String)], // (transcript, noisyStream)
      matches: Seq[Int] = Seq(5, 8, 11),
      mismatches: Seq[Int] = Seq(-4, -7, -10),
      gapOpensX: Seq[Int] = Seq(-2, -5, -7),
      gapOpensY: Seq[Int] = Seq(-2, -5, -7),
      gapExtendsX: Seq[Int] = Seq(0, -3, -5),
      gapExtendsY: Seq[Int] = Seq(0, -3, -5)): DataFrame = {
    import spark.implicits._

    // ground truth: default-scoring spans on the SAME noisy stream — the
    // shared coordinate system (the reference scores param combos against
    // fixed human GT boxes on the same page image; the degeneration fixes
    // the default alignment as GT)
    val gtByFixture = fixtures.map { case (tra, noisy) =>
      val stream = noisy.zipWithIndex.map { case (c, k) => graft.align.CharBox.at(c, k) }.toVector
      AlignKernel.processStream(tra, stream, Scoring.Default).spans
    }
    val fixturesB = spark.sparkContext.broadcast(fixtures)
    val gtB = spark.sparkContext.broadcast(gtByFixture)

    val grid = for {
      m <- matches; mm <- mismatches; gox <- gapOpensX
      goy <- gapOpensY; gex <- gapExtendsX; gey <- gapExtendsY
    } yield (m, mm, gox, goy, gex, gey)

    // persisted under the sort: the range partitioner's sampling job would
    // otherwise re-run the kernel over the grid
    val scored = CacheRegistry.register(grid.toDS()
      .repartition(spark.sparkContext.defaultParallelism)
      .map { case (m, mm, gox, goy, gex, gey) =>
        val sc = Scoring(m, mm, gox, goy, gex, gey)
        val scores = fixturesB.value.zip(gtB.value).map { case ((tra, noisy), gtSpans) =>
          val stream = noisy.zipWithIndex.map { case (c, k) => graft.align.CharBox.at(c, k) }.toVector
          val pred = AlignKernel.processStream(tra, stream, sc).spans
          // range IOU summed in collapse order; an empty GT agrees fully
          val perGt = scoreDoc(gtSpans, pred).map(_._3)
          if (perGt.isEmpty) 1.0 else perGt.sum / perGt.length
        }
        (m, mm, gox, goy, gex, gey, scores.sum / scores.length)
      }
      .toDF("match", "mismatch", "gap_open_x", "gap_open_y",
        "gap_extend_x", "gap_extend_y", "mean_score")
      .persist(StorageLevel.MEMORY_AND_DISK))
    scored.orderBy(col("mean_score"), col("match"), col("mismatch"),
        col("gap_open_x"), col("gap_open_y"), col("gap_extend_x"), col("gap_extend_y"))
  }
}
