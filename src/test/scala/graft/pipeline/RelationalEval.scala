package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The tests' reference evaluator: the reference's per-document rule
  * (evaluate_text_alignment.py:109-131) re-expressed relationally, over
  * span tables of many documents. Per ground-truth span, candidates are
  * predicted spans of the same document whose syllable substring-matches
  * either way, the max-intersection candidate wins (FIRST max in prediction
  * order), scored by bbox IOU and char-range IOU, averaged per doc. It
  * shares no code with the production rule, [[EvalJob.scoreDoc]], which
  * the specs compare against it row for row.
  */
object RelationalEval {

  /** GT boxes of one page as a span table (url, seq, syl, ulx, uly, lrx,
    * lry), difficult boxes optionally dropped as in the reference
    * (`eval_difficult=False`, evaluate_text_alignment.py:111-113).
    */
  def gtFrame(spark: SparkSession, url: String, xml: String,
              evalDifficult: Boolean = false): DataFrame = {
    import spark.implicits._
    // seq is assigned BEFORE the difficult filter so it stably identifies
    // the source XML object regardless of evalDifficult
    GtXml.parse(xml).zipWithIndex
      .filter { case (b, _) => evalDifficult || b.difficult == 0 }
      .map { case (b, i) => (url, i, b.syl, b.ulx, b.uly, b.lrx, b.lry) }
      .toDF("url", "seq", "syl", "ulx", "uly", "lrx", "lry")
  }

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
}
