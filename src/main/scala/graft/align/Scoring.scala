package graft.align

/** Alignment scoring system.
  *
  * Mirrors the reference's accepted arities (textSeqCompare.py:24-42) with the
  * default system `[8, -4, -7, -7, -3, 0]` (textSeqCompare.py:10):
  * match, mismatch, gap_open_x, gap_open_y, gap_extend_x, gap_extend_y.
  *
  * x-gaps consume transcript chars (gap rendered in the noisy/OCR string);
  * y-gaps consume noisy-stream chars (gap rendered in the transcript string).
  */
final case class Scoring(
    matchScore: Double,
    mismatch: Double,
    gapOpenX: Double,
    gapOpenY: Double,
    gapExtendX: Double,
    gapExtendY: Double) {

  @inline def score(a: String, b: String): Double =
    if (a == b) matchScore else mismatch

  @inline def score(a: Char, b: Char): Double =
    if (a == b) matchScore else mismatch

  /** All six parameters are whole numbers of sane magnitude — the first
    * gate for the Int DP fill (every reference scoring system is integral:
    * the default, the 4/6-arity forms, the whole grid). The Int fill also
    * needs the page's path scores to fit its bound, and absorbs at its
    * NegInf sentinel exactly like IEEE absorbs at -1e100, so outputs are
    * identical — see NeedlemanWunsch.intFillFits and fillBandInt.
    */
  val isIntegral: Boolean =
    Seq(matchScore, mismatch, gapOpenX, gapOpenY, gapExtendX, gapExtendY)
      .forall(v => v == math.rint(v) && math.abs(v) <= (1 << 20))
}

object Scoring {
  /** Default scoring system (textSeqCompare.py:10). */
  val Default: Scoring = Scoring(8, -4, -7, -7, -3, 0)

  /** DP boundary rows/cols use the module constant `gap_extend = -1`
    * (textSeqCompare.py:9, 53-60) regardless of the scoring system — a
    * reference quirk required for byte-identical output.
    */
  val BoundaryGapExtend: Double = -1.0

  /** Off-matrix sentinel (textSeqCompare.py:55,60). */
  val NegInf: Double = -1e100

  /** 4-arity form `[match, mismatch, gap_open, gap_extend]`
    * (textSeqCompare.py:35-40).
    */
  def symmetric(m: Double, mm: Double, gapOpen: Double, gapExtend: Double): Scoring =
    Scoring(m, mm, gapOpen, gapOpen, gapExtend, gapExtend)
}
