package graft.pipeline

import graft.align.{AlignKernel, BBox, Scoring, SylBox}
import graft.ops.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** Alignment evaluation — the reference's metrics layer
  * (evaluate_text_alignment.py:109-131, SURVEY.md O40–O44) re-expressed
  * relationally: per ground-truth span, candidates are predicted spans of the
  * same document whose syllable substring-matches either way
  * (`x.syl in box.syl or box.syl in x.syl`), the max-intersection candidate
  * wins (FIRST max in prediction order — `ints.index(max(ints))`), scored by
  * bbox IOU and char-range IOU (the black-area analogue), averaged per doc.
  * [[scoreDoc]] is the same rule over one page's span lists, for a task
  * that holds both span systems of a page ([[AlignJob.evaluate]]).
  */
object EvalJob {

  /** Intersection area as a pure Column expression (BBox.intersectArea,
    * evaluate_text_alignment.py:16-31): dx*dy when both positive, else 0.
    * Long arithmetic mirrors the Scala kernel exactly.
    */
  def interCol(gUlx: Column, gUly: Column, gLrx: Column, gLry: Column,
               pUlx: Column, pUly: Column, pLrx: Column, pLry: Column): Column = {
    val dx = least(gLrx, pLrx).cast("long") - greatest(gUlx, pUlx)
    val dy = least(gLry, pLry).cast("long") - greatest(gUly, pUly)
    when(dx > 0 && dy > 0, dx * dy).otherwise(lit(0L))
  }

  /** Per-GT-span scored rows: (url, gt_seq, iou, range_iou) — one row per
    * surviving (dict-collapsed) GT span, zero-filled where no candidate
    * matched. Exact values (single integer-ratio divisions), independent of
    * plan/partitioning — the hash-stable form for oracles.
    *
    * All bbox math is pure Column arithmetic (codegen'd — no UDF boxing in
    * the theta-join hot path); the Scala BBox functions remain the unit-test
    * single-row form.
    *
    * @param gt   ground-truth spans: (url, seq, syl, ulx, uly, lrx, lry)
    * @param pred predicted spans: same schema
    */
  def evaluatePerSpan(gt: DataFrame, pred: DataFrame): DataFrame = {
    // Reference quirk replicated (evaluate_text_alignment.py:109-131): the
    // per-document score dict is keyed by box['syl'], so GT spans with the
    // SAME syllable text collapse — the LAST occurrence (in GT order) wins —
    // and the mean runs over distinct GT syllable texts.
    val lastPerSyl = Window.partitionBy(col("url"), col("gt_syl"))
      .orderBy(col("gt_seq").desc)
    val g = gt.select(col("url"), col("seq").as("gt_seq"), col("syl").as("gt_syl"),
      col("ulx").as("g_ulx"), col("uly").as("g_uly"),
      col("lrx").as("g_lrx"), col("lry").as("g_lry"))
      .withColumn("syl_rn", row_number().over(lastPerSyl))
      .filter(col("syl_rn") === 1)
      .drop("syl_rn")
    val p = pred.select(col("url"), col("seq").as("p_seq"), col("syl").as("p_syl"),
      col("ulx").as("p_ulx"), col("uly").as("p_uly"),
      col("lrx").as("p_lrx"), col("lry").as("p_lry"))

    val inter = interCol(
      col("g_ulx"), col("g_uly"), col("g_lrx"), col("g_lry"),
      col("p_ulx"), col("p_uly"), col("p_lrx"), col("p_lry"))

    // substring theta-join within each document (equi on url, theta on syl)
    val joined = g.join(p, Seq("url"))
      .filter(col("gt_syl").contains(col("p_syl")) || col("p_syl").contains(col("gt_syl")))
      .withColumn("inter", inter)

    // argmax-per-GT-span: FIRST max in prediction order (reference
    // `ints.index(max(ints))`, evaluate_text_alignment.py:127)
    val w = Window.partitionBy(col("url"), col("gt_seq"))
      .orderBy(col("inter").desc, col("p_seq").asc)

    // IOU (unclamped reference form — but only evaluated under inter > 0,
    // where areaInt == inter; evaluate_text_alignment.py:34-53) and
    // char-range IOU, both as Column arithmetic
    val areaG = (col("g_lrx") - col("g_ulx")).cast("long") * (col("g_lry") - col("g_uly"))
    val areaP = (col("p_lrx") - col("p_ulx")).cast("long") * (col("p_lry") - col("p_uly"))
    val iouExpr = col("inter").cast("double") / (areaG + areaP - col("inter"))
    val rInter = greatest(lit(0), least(col("g_lrx"), col("p_lrx")) - greatest(col("g_ulx"), col("p_ulx")))
    val rLenG = greatest(lit(0), col("g_lrx") - col("g_ulx"))
    val rLenP = greatest(lit(0), col("p_lrx") - col("p_ulx"))
    val rUnion = rLenG + rLenP - rInter
    val rangeIouExpr = when(rUnion <= 0, lit(0.0))
      .otherwise(rInter.cast("double") / rUnion)

    val best = joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      // reference zeroes the score when no candidate overlaps (:124-126)
      .withColumn("iou", when(col("inter") > 0, iouExpr).otherwise(lit(0.0)))
      .withColumn("range_iou", when(col("inter") > 0, rangeIouExpr).otherwise(lit(0.0)))
      .select(col("url"), col("gt_seq"), col("iou"), col("range_iou"))

    // GT spans with no substring candidate score 0 (:119-121)
    val allGt = g.select(col("url"), col("gt_seq"))
    allGt.join(best, Seq("url", "gt_seq"), "left")
      .na.fill(0.0, Seq("iou", "range_iou"))
  }

  /** Per-url mean IOU / mean char-range IOU over (dict-collapsed) GT spans.
    *
    * Deterministic mean: folds scores in ascending gt_seq order (double
    * addition is order-sensitive; a plain avg() would hash-differ across
    * plans/parallelism). Per-document span counts are bounded, so the
    * collect_list is safe. The reference's np.mean sums in dict order — the
    * value set is identical; only the last-ulp summation order is pinned
    * differently here.
    */
  def evaluate(gt: DataFrame, pred: DataFrame): DataFrame =
    evaluatePerSpan(gt, pred)
      .groupBy(col("url"))
      .agg(
        expr("array_sort(collect_list(struct(gt_seq, iou, range_iou)))").as("xs"))
      .select(col("url"),
        (expr("aggregate(xs, 0.0D, (a, x) -> a + x.iou)") / size(col("xs"))).as("mean_iou"),
        (expr("aggregate(xs, 0.0D, (a, x) -> a + x.range_iou)") / size(col("xs"))).as("mean_range_iou"),
        size(col("xs")).as("n_gt_spans"))

  /** The per-document rule of [[evaluatePerSpan]] over one page's spans,
    * the typed form that runs inside a kernel task (gt_seq = index in
    * `gt`, prediction order = order in `pred`): one (gt_seq, iou,
    * range_iou) per collapsed GT span, in collapse order (first occurrence
    * of each syllable text; the LAST span with that text is scored).
    * Candidates are substring matches either way; the best is the FIRST
    * max of intersection area in prediction order; both scores are 0
    * unless that intersection is > 0.
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

  /** [[evaluate]]'s row for one page, without the url: (mean_iou,
    * mean_range_iou, n_gt_spans), [[scoreDoc]]'s scores folded in
    * ascending gt_seq order; None when the page has no GT spans.
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
