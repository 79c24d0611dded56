package graft.align

import scala.collection.mutable.ArrayBuffer

/** Result of a char-level alignment.
  *
  * @param traAlign gapped transcript string ('_' = gap)
  * @param ocrAlign gapped noisy-stream string ('_' = gap)
  * @param bandUsed final band half-width that produced the accepted result
  *                 (0 = full matrix / not banded)
  * @param cellsFilled DP cells of the fills actually run (an attempt that
  *                    reuses a wider fill's result adds none)
  * @param note non-empty when the giant-document policy engaged:
  *             `band_capped:<b>` (result from the widest runnable band,
  *             accepted WITHOUT full agreement) or `band_overflow_drop:<b>`
  *             (no runnable band produced an in-band traceback; alignment
  *             dropped). Surfaces in the metrics table's `error` column so a
  *             10^12-row run can count and re-route these documents.
  */
final case class AlignResult(
    traAlign: String,
    ocrAlign: String,
    bandUsed: Int,
    cellsFilled: Long,
    note: String = "")

/** Needleman–Wunsch global alignment with affine gaps (Gotoh three-matrix DP).
  *
  * Faithful re-derivation of the reference kernel
  * (textSeqCompare.py:13-177) including its quirks:
  *   - a `' '` sentinel is appended to BOTH sequences before the DP
  *     (textSeqCompare.py:21-22) and the forced sentinel-pair alignment is
  *     later dropped by the `[-1:0:-1]` reversal (textSeqCompare.py:104-107,
  *     167-170);
  *   - boundary rows/cols use the module constant `gap_extend = -1`
  *     (textSeqCompare.py:9, 53-60), NOT the scoring system's extend costs;
  *   - off-matrix states are seeded with `-1e100` (textSeqCompare.py:55,60);
  *   - argmax ties are broken by FIRST index in the exact candidate orders of
  *     textSeqCompare.py:70, 75-77, 83-85;
  *   - the traceback starts at the bottom-right cell, forcibly aligning the
  *     sentinel chars, and drains any leftover prefix
  *     (textSeqCompare.py:96-170).
  *
  * Two implementations are provided:
  *   - [[alignTokens]] — literal-semantics port over token sequences (full
  *     matrices); the correctness anchor, used by golden tests;
  *   - [[alignChars]] — char-specialized DP: the full matrix below
  *     [[FullMatrixCellThreshold]], above it a banded DP (O(n·b) fill,
  *     rolling score rows, in-band pointer storage) accepted by the
  *     band-agreement rule of [[alignCharsBanded]], falling back to the full
  *     matrix. Property tests assert banded == full on randomized inputs.
  *
  * Every char fill (banded or full) runs one of two fills with identical
  * outputs: [[fillBandInt]] when the scoring is integral and the page's path
  * scores fit its Int bound ([[intFillFits]] — every reference scoring on
  * any realistic page), [[fillBandDouble]] otherwise. The Int fill splits
  * each row into a branch-free pass over the previous row, which C2
  * auto-vectorizes, and the serial y-gap chain.
  */
object NeedlemanWunsch {

  import Scoring.{BoundaryGapExtend, NegInf}

  /** Reusable grow-only DP buffers. One instance per partition (kernel
    * reused across rows inside mapPartitions — SURVEY.md §3) removes the
    * per-document allocation of the rolling rows and pointer storage.
    * NOT thread-safe; one per task.
    */
  final class Workspace {
    private[align] var rows: Array[Array[Double]] = Array.fill(6)(new Array[Double](0))
    /** The Int fill's rows: mat, x, y of even rows (0-2) and of odd rows
      * (3-5), the previous row shifted one column right (6-8), A (9) and
      * the pass-A pointer bits (10).
      */
    private[align] var irows: Array[Array[Int]] = Array.fill(11)(new Array[Int](0))
    private[align] var ptrs: Array[Byte] = new Array[Byte](0)
    private[align] var stream: Array[Int] = new Array[Int](0)
    private[align] def ensureRows(m: Int): Unit =
      if (rows(0).length < m) rows = Array.fill(6)(new Array[Double](m))
    private[align] def ensureIntRows(m: Int): Unit =
      if (irows(0).length < m) irows = Array.fill(11)(new Array[Int](m))
    private[align] def ensurePtrs(sz: Int): Unit =
      if (ptrs.length < sz) ptrs = new Array[Byte](sz)
    /** The OCR stream copied into a flat array once per fill, indexed by DP
      * column: `stream(j)` holds char j − 1, the char that column j matches,
      * so the fills read it at the index they store at. The inner loop
      * reads it once per cell, and `String.charAt`'s indirection + bounds
      * check is measurable at ~10 ns/cell total loop cost.
      */
    private[align] def streamArray(s: String): Array[Int] = {
      if (stream.length <= s.length) stream = new Array[Int](s.length + 1)
      var j = 0
      while (j < s.length) { stream(j + 1) = s.charAt(j); j += 1 }
      stream
    }
  }

  /** First index of the maximum of three values (Python
    * `vals.index(max(vals))` — first-wins on ties, textSeqCompare.py:72).
    */
  @inline private def argmax3(v0: Double, v1: Double, v2: Double): Int = {
    var best = 0
    var bv = v0
    if (v1 > bv) { best = 1; bv = v1 }
    if (v2 > bv) { best = 2; bv = v2 }
    best
  }

  @inline private def max3(v0: Double, v1: Double, v2: Double): Double = {
    var bv = v0
    if (v1 > bv) bv = v1
    if (v2 > bv) bv = v2
    bv
  }

  /** Literal-semantics port of `perform_alignment` over token sequences
    * (textSeqCompare.py:13-177). Full O(n·m) matrices — correctness anchor.
    */
  def alignTokens(
      transcriptIn: IndexedSeq[String],
      ocrIn: IndexedSeq[String],
      scoring: Scoring = Scoring.Default): (Vector[String], Vector[String]) = {

    // sentinel padding (textSeqCompare.py:21-22)
    val tra = transcriptIn :+ " "
    val ocr = ocrIn :+ " "
    val n = tra.length
    val m = ocr.length

    val mat = Array.ofDim[Double](n, m)
    val xMat = Array.ofDim[Double](n, m)
    val yMat = Array.ofDim[Double](n, m)
    val matPtr = Array.ofDim[Byte](n, m)
    val xPtr = Array.ofDim[Byte](n, m)
    val yPtr = Array.ofDim[Byte](n, m)

    // boundary conditions (textSeqCompare.py:53-60)
    var i = 0
    while (i < n) {
      mat(i)(0) = BoundaryGapExtend * i
      xMat(i)(0) = NegInf
      yMat(i)(0) = BoundaryGapExtend * i
      i += 1
    }
    var j = 0
    while (j < m) {
      mat(0)(j) = BoundaryGapExtend * j
      xMat(0)(j) = BoundaryGapExtend * j
      yMat(0)(j) = NegInf
      j += 1
    }

    // fill (textSeqCompare.py:62-88)
    i = 1
    while (i < n) {
      j = 1
      while (j < m) {
        val matchScore = scoring.score(tra(i - 1), ocr(j - 1))

        val m0 = mat(i - 1)(j - 1); val m1 = xMat(i - 1)(j - 1); val m2 = yMat(i - 1)(j - 1)
        mat(i)(j) = max3(m0, m1, m2) + matchScore
        matPtr(i)(j) = argmax3(m0, m1, m2).toByte

        val y0 = mat(i)(j - 1) + scoring.gapOpenY + scoring.gapExtendY
        val y1 = xMat(i)(j - 1) + scoring.gapOpenY + scoring.gapExtendY
        val y2 = yMat(i)(j - 1) + scoring.gapExtendY
        yMat(i)(j) = max3(y0, y1, y2)
        yPtr(i)(j) = argmax3(y0, y1, y2).toByte

        val x0 = mat(i - 1)(j) + scoring.gapOpenX + scoring.gapExtendX
        val x1 = xMat(i - 1)(j) + scoring.gapExtendX
        val x2 = yMat(i - 1)(j) + scoring.gapOpenX + scoring.gapExtendX
        xMat(i)(j) = max3(x0, x1, x2)
        xPtr(i)(j) = argmax3(x0, x1, x2).toByte
        j += 1
      }
      i += 1
    }

    // traceback (textSeqCompare.py:96-170)
    val traAlign = new ArrayBuffer[String](n + m)
    val ocrAlign = new ArrayBuffer[String](n + m)
    var xpt = n - 1
    var ypt = m - 1
    var mpt: Int = matPtr(xpt)(ypt)

    // forced sentinel alignment (textSeqCompare.py:104-107)
    traAlign += tra(xpt)
    ocrAlign += ocr(ypt)

    while (xpt > 0 && ypt > 0) {
      if (mpt == 0) {
        traAlign += tra(xpt - 1)
        ocrAlign += ocr(ypt - 1)
        mpt = matPtr(xpt)(ypt)
        xpt -= 1; ypt -= 1
      } else if (mpt == 1) {
        traAlign += tra(xpt - 1)
        ocrAlign += "_"
        mpt = xPtr(xpt)(ypt)
        xpt -= 1
      } else {
        traAlign += "_"
        ocrAlign += ocr(ypt - 1)
        mpt = yPtr(xpt)(ypt)
        ypt -= 1
      }
    }
    while (ypt > 0) {
      traAlign += "_"; ocrAlign += ocr(ypt - 1); ypt -= 1
    }
    while (xpt > 0) {
      ocrAlign += "_"; traAlign += tra(xpt - 1); xpt -= 1
    }

    // `[-1:0:-1]` — reverse dropping element 0 (the sentinel pair)
    (traAlign.tail.reverse.toVector, ocrAlign.tail.reverse.toVector)
  }

  /** Default initial band half-width for the banded fast path. */
  val DefaultInitialBand: Int = 64

  /** Minimum band half-width the banded path will run. Degenerate bands
    * (1–8) produce stable-but-wrong outputs far more often (measured
    * 211/8000 at bands 1–5 — see graft.tools.BandSweep).
    */
  val MinBand: Int = 16

  /** Consecutive agreeing band doublings required before a banded result is
    * accepted (bands b, 2b, 4b must produce identical output). The widest
    * band of the first streak, `b << AgreementStreak`, is filled first; the
    * narrower two are then filled only when its path does not prove their
    * result (see [[alignCharsBanded]]). Measured on
    * ≤60-char adversarial gibberish — the worst case, where the band is a
    * large fraction of the matrix — single agreement is wrong ≈0.2% of the
    * time; production documents only reach this path above the full-matrix
    * threshold (band ≤3% of the matrix), where the long-document
    * differential suite shows byte-identity against the reference.
    */
  val AgreementStreak: Int = 2

  /** Below this many DP cells the full matrix is run directly — guaranteed
    * byte-identical by construction (and banding wouldn't win at this size).
    * 16M cells ≈ 4k×4k chars ≈ 48 MB of packed pointers per in-flight doc.
    */
  val FullMatrixCellThreshold: Long = 16L * 1000 * 1000

  /** Whether [[alignChars]] runs the full matrix (rather than the banded
    * path) on a traLen × ocrLen problem; [[estimateCells]] shares it.
    */
  def usesFullMatrix(traLen: Int, ocrLen: Int): Boolean =
    (traLen + 1L) * (ocrLen + 1L) <= FullMatrixCellThreshold

  /** DP cells [[alignChars]] fills on a traLen × ocrLen problem with the
    * default initial band: exact on the full matrix; on the banded path the
    * single widest fill of the first streak (band 256 = 64 <<
    * [[AgreementStreak]], whose path proves the narrower two), ignoring the
    * band's clipping at the matrix corners. A cost model for placing pages,
    * not a bound: a page that needs narrower fills or wider bands fills more.
    */
  def estimateCells(traLen: Int, ocrLen: Int): Long =
    if (usesFullMatrix(traLen, ocrLen)) traLen.toLong * ocrLen
    else traLen.toLong * math.min(2L * (DefaultInitialBand << AgreementStreak) + 1, ocrLen)

  /** Char-level alignment. Small problems run the full matrix (exact by
    * construction). Large problems use the banded fast path (O(n·band) fill)
    * with a doubling-agreement acceptance rule — see [[alignCharsBanded]].
    */
  def alignChars(
      transcript: String,
      ocrStream: String,
      scoring: Scoring = Scoring.Default,
      ws: Workspace = new Workspace): AlignResult =
    if (usesFullMatrix(transcript.length, ocrStream.length))
      alignCharsFull(transcript, ocrStream, scoring, ws)
    else
      alignCharsBanded(transcript, ocrStream, scoring, DefaultInitialBand, ws)

  /** Full-matrix char alignment (band = m covers every column). */
  def alignCharsFull(
      transcript: String,
      ocrStream: String,
      scoring: Scoring,
      ws: Workspace = new Workspace): AlignResult = {
    val m = ocrStream.length + 1
    val f = alignCharsWithBand(transcript, ocrStream, scoring, m, ws)
    val (ta, oa) = f.res.get // full band never aborts
    AlignResult(ta, oa, 0, f.cells)
  }

  /** Banded char alignment with the three-band agreement rule: keep doubling
    * the band; accept once THREE consecutive band widths (b, 2b, 4b —
    * [[AgreementStreak]] = 2 agreeing doublings) produce IDENTICAL output;
    * at band ≥ m the result is the full matrix (exact by construction).
    *
    * Rationale: with a zero gap-extend cost (the default scoring has
    * gap_extend_y = 0) band-edge truncation can influence cells arbitrarily
    * far away, so NO per-run certificate of exactness exists for a fixed
    * band. The three-band agreement streak (b, 2b, 4b identical, with a
    * floor of [[MinBand]]) is the empirical acceptance rule — measured
    * 0/20000 disagreements vs the full matrix across
    * default/adversarial/realistic scorings (graft.tools.BandSweep) — and it is
    * validated continuously by the property and differential suites.
    * Documents small enough for [[FullMatrixCellThreshold]] (the realistic
    * web-page range) never take this path and are exact by construction; any
    * disagreement here widens toward the provably exact full matrix.
    *
    * Widest first: the first streak's widest band W = b << [[AgreementStreak]]
    * is filled once up front, when W < m and its pointers fit the storage
    * budget (the doubling loop reaches W in that case anyway). The attempts
    * then run in the doubling order, but an attempt at band b' ≤ W takes W's
    * result without a fill when b' = W, or when W's path half-width is ≤ b'.
    * That is exact by a lemma: for bands b' ≤ B on one centre line, if band
    * B's traceback stays within b' of the line, band b' returns the same
    * result.
    *   - Every band-b' value is ≤ its band-B value: band b' allows a subset
    *     of the paths, and max, add, NegInf absorption and IEEE rounding are
    *     monotone. The cells on the path keep their band-B values, because
    *     the path lies in band b'.
    *   - Ties (first-wins argmax): a candidate listed before the chosen one
    *     was strictly smaller in band B, so it stays strictly smaller in band
    *     b', and every pointer on the path is chosen the same way.
    *   - Corner pointer: the traceback starts from the corner's mat pointer
    *     (textSeqCompare.py:96-107), which compares the three states at
    *     (n−2, m−2). When it names x or y, that state's value is not on the
    *     path, so its pointer chain from (n−2, m−2) counts toward the
    *     half-width as well.
    * Which bands must agree stays the empirical rule above: the lemma only
    * skips fills whose result it proves, so `traAlign`, `ocrAlign`,
    * `bandUsed` and `note` are the doubling loop's for every input, and
    * `cellsFilled` is never higher.
    */
  def alignCharsBanded(
      transcript: String,
      ocrStream: String,
      scoring: Scoring = Scoring.Default,
      initialBand: Int = DefaultInitialBand,
      ws: Workspace = new Workspace,
      maxPtrCells: Long = Int.MaxValue - 8): AlignResult =
    alignCharsBandedWith(transcript, ocrStream, scoring, initialBand, ws, maxPtrCells,
      forceDoubleFill = false)

  /** [[alignCharsBanded]] with an explicit fill choice: `forceDoubleFill`
    * runs [[fillBandDouble]] on every scoring, so the equivalence properties
    * and graft.tools.BandSweep can compare the two fills on identical inputs.
    */
  private[graft] def alignCharsBandedWith(
      transcript: String,
      ocrStream: String,
      scoring: Scoring,
      initialBand: Int,
      ws: Workspace,
      maxPtrCells: Long,
      forceDoubleFill: Boolean): AlignResult = {
    val n = transcript.length + 1
    val m = ocrStream.length + 1
    var cells = 0L

    // Giant-document policy (VERDICT r1 #8): the widest band whose packed
    // in-band pointer storage n·(2b+1) fits the budget. A document that
    // never reaches band agreement STOPS doubling here and returns a
    // deterministic, metricized result instead of tripping the storage
    // `require` into a per-row error.
    val maxBandStorage: Int =
      (math.min((maxPtrCells / n - 1) / 2, Int.MaxValue.toLong)).toInt

    if (maxBandStorage < MinBand)
      return AlignResult("", "", 0, 0L, note = s"band_overflow_drop:0")

    var band = math.min(math.max(MinBand, initialBand), maxBandStorage)

    if (band >= m) {
      val f = alignCharsWithBand(transcript, ocrStream, scoring, m, ws, forceDoubleFill)
      val (ta, oa) = f.res.get
      return AlignResult(ta, oa, 0, f.cells)
    }

    val widest = band.toLong << AgreementStreak
    val wide: Option[Fill] =
      if (widest < m && widest <= maxBandStorage)
        Some(alignCharsWithBand(transcript, ocrStream, scoring, widest.toInt, ws, forceDoubleFill))
      else None
    wide.foreach(cells += _.cells)
    def attempt(b: Int): Option[(String, String)] = wide match {
      case Some(w) if b == widest || (b < widest && w.halfWidth <= b) => w.res
      case _ =>
        val f = alignCharsWithBand(transcript, ocrStream, scoring, b, ws, forceDoubleFill)
        cells += f.cells
        f.res
    }

    var prev = attempt(band)
    // widest band that produced an in-band traceback so far (a later, wider
    // attempt can fail on the edge while a narrower one succeeded — the cap
    // fallback must not discard that success)
    var lastSuccess: Option[(Int, (String, String))] = prev.map(band -> _)
    var streak = 0 // consecutive band doublings with identical output
    while (true) {
      val nextBand = math.min(m, band * 2)
      if (nextBand > maxBandStorage) {
        // cannot widen further: accept the widest successful result
        // (explicitly marked as agreement-uncertified) or drop
        return lastSuccess match {
          case Some((b, (ta, oa))) =>
            AlignResult(ta, oa, b, cells, note = s"band_capped:$b")
          case None =>
            AlignResult("", "", band, cells, note = s"band_overflow_drop:$band")
        }
      }
      val full = nextBand >= m
      val cur = attempt(nextBand)
      if (full) {
        val (ta, oa) = cur.get
        return AlignResult(ta, oa, 0, cells)
      }
      if (cur.isDefined) lastSuccess = Some(nextBand -> cur.get)
      if (cur.isDefined && cur == prev) {
        streak += 1
        if (streak >= AgreementStreak) {
          val (ta, oa) = cur.get
          return AlignResult(ta, oa, nextBand, cells)
        }
      } else streak = 0
      prev = cur
      band = nextBand
    }
    throw new IllegalStateException("unreachable")
  }

  /** One banded fill: the alignment (None if the traceback touched the band
    * edge), the DP cells filled, and the path's half-width — the largest
    * |j − center(i)| over the cells the traceback visits and, when the
    * corner's mat pointer names x or y, over that state's pointer chain from
    * (n−2, m−2) (see [[alignCharsBanded]]). The half-width is Int.MaxValue
    * when the traceback aborts or the corner chain leaves the band.
    */
  private[graft] final case class Fill(res: Option[(String, String)], cells: Long, halfWidth: Int)

  /** One banded attempt.
    *
    * Band: row i is filled for j in [max(1, c(i)-b), min(m-1, c(i)+b)] where
    * c(i) = round(i·(m-1)/(n-1)) — the skewed diagonal, which always contains
    * (0,0) and (n-1,m-1). Score matrices roll (two rows); pointers are stored
    * only in-band (3 bits per cell worth, kept as bytes).
    */
  private[graft] def alignCharsWithBand(
      transcript: String,
      ocrStream: String,
      scoring: Scoring,
      band: Int,
      ws: Workspace,
      forceDoubleFill: Boolean = false): Fill = {

    val sentinel = ' '
    val n = transcript.length + 1
    val m = ocrStream.length + 1
    @inline def traAt(i: Int): Char = if (i == n - 1) sentinel else transcript.charAt(i)
    @inline def ocrAt(j: Int): Char = if (j == m - 1) sentinel else ocrStream.charAt(j)

    val slope = if (n > 1) (m - 1).toDouble / (n - 1).toDouble else 0.0
    @inline def center(i: Int): Int = math.round(i * slope).toInt

    val width = 2 * band + 1
    require(n.toLong * width <= Int.MaxValue - 8,
      s"alignment pointer storage too large: n=$n band=$band — cap document length upstream")
    // packed in-band pointers: bits 0-1 mat, 2-3 x, 4-5 y;
    // (i, j) -> i*width + (j - (center(i)-band))
    ws.ensurePtrs(n * width)
    val ptrs = ws.ptrs
    @inline def bandIdx(i: Int, j: Int): Int = i * width + (j - (center(i) - band))

    // the fill writes only `ptrs` + returns the cell count; integral
    // scorings (every reference system) take the Int fill when its bound holds
    val cells =
      if (!forceDoubleFill && intFillFits(scoring, n, m))
        fillBandInt(transcript, ocrStream, scoring, band, ws, n, m, slope, ptrs)
      else fillBandDouble(transcript, ocrStream, scoring, band, ws, n, m, slope, ptrs)

    // traceback (textSeqCompare.py:96-170); aborts only if the path escapes
    // the stored band (acceptance is agreement-based, see alignCharsBanded).
    // Visited cells have 1 ≤ j ≤ m-1, so a cell is in band iff its distance
    // |j - center(i)| from the centre line is ≤ band.
    val traAlign = new java.lang.StringBuilder(n + m)
    val ocrAlign = new java.lang.StringBuilder(n + m)
    var xpt = n - 1
    var ypt = m - 1
    // boundary cells have pointer 0 (the reference's np.zeros init); they are
    // never stored in the band, so guard the corner read when a side is empty
    val corner: Int = if (xpt == 0 || ypt == 0) 0 else ptrs(bandIdx(xpt, ypt)) & 3
    var mpt = corner

    traAlign.append(traAt(xpt))
    ocrAlign.append(ocrAt(ypt))

    var halfWidth = 0
    var aborted = false
    while (!aborted && xpt > 0 && ypt > 0) {
      val d = math.abs(ypt - center(xpt))
      if (d > band) { aborted = true }
      else {
        if (d > halfWidth) halfWidth = d
        if (mpt == 0) {
          traAlign.append(traAt(xpt - 1))
          ocrAlign.append(ocrAt(ypt - 1))
          mpt = ptrs(bandIdx(xpt, ypt)) & 3
          xpt -= 1; ypt -= 1
        } else if (mpt == 1) {
          traAlign.append(traAt(xpt - 1))
          ocrAlign.append('_')
          mpt = (ptrs(bandIdx(xpt, ypt)) >> 2) & 3
          xpt -= 1
        } else {
          traAlign.append('_')
          ocrAlign.append(ocrAt(ypt - 1))
          mpt = (ptrs(bandIdx(xpt, ypt)) >> 4) & 3
          ypt -= 1
        }
      }
    }
    if (aborted && band < m) return Fill(None, cells, Int.MaxValue)

    // corner clause of the lemma: a mat corner pointer's chain is the path
    // itself; an x or y one names a state whose chain the path skips
    var ci = n - 2
    var cj = m - 2
    var cs = corner
    while (corner != 0 && halfWidth <= band && ci > 0 && cj > 0) {
      val d = math.abs(cj - center(ci))
      if (d > band) halfWidth = Int.MaxValue
      else {
        if (d > halfWidth) halfWidth = d
        val p = ptrs(bandIdx(ci, cj))
        if (cs == 0) { cs = p & 3; ci -= 1; cj -= 1 }
        else if (cs == 1) { cs = (p >> 2) & 3; ci -= 1 }
        else { cs = (p >> 4) & 3; cj -= 1 }
      }
    }

    while (ypt > 0) { traAlign.append('_'); ocrAlign.append(ocrAt(ypt - 1)); ypt -= 1 }
    while (xpt > 0) { ocrAlign.append('_'); traAlign.append(traAt(xpt - 1)); xpt -= 1 }

    // `[-1:0:-1]` — drop the sentinel pair (index 0) and reverse
    val ta = traAlign.toString
    val oa = ocrAlign.toString
    Fill(Some((new StringBuilder(ta.substring(1)).reverse.toString,
               new StringBuilder(oa.substring(1)).reverse.toString)), cells, halfWidth)
  }

  /** Double-arithmetic banded fill: the path for non-integral scorings and
    * for integral ones outside the Int fill's bound (exact for integers
    * below 2^53). Writes packed pointers into `ptrs`; returns cells filled.
    * Rolling score rows (full width m); cells a row reads but its
    * predecessor didn't write are poisoned with NegInf before the fill,
    * keeping the hot loop branch-free.
    */
  private def fillBandDouble(
      transcript: String,
      ocrStream: String,
      scoring: Scoring,
      band: Int,
      ws: Workspace,
      n: Int,
      m: Int,
      slope: Double,
      ptrs: Array[Byte]): Long = {
    @inline def center(i: Int): Int = math.round(i * slope).toInt
    @inline def lo(i: Int): Int = math.max(1, center(i) - band)
    @inline def hi(i: Int): Int = math.min(m - 1, center(i) + band)
    val width = 2 * band + 1

    ws.ensureRows(m)
    val oc = ws.streamArray(ocrStream)
    var matPrev = ws.rows(0)
    var xPrev = ws.rows(1)
    var yPrev = ws.rows(2)
    var matCur = ws.rows(3)
    var xCur = ws.rows(4)
    var yCur = ws.rows(5)

    // row 0 boundary (textSeqCompare.py:57-60)
    var j = 0
    while (j < m) {
      matPrev(j) = BoundaryGapExtend * j
      xPrev(j) = BoundaryGapExtend * j
      yPrev(j) = NegInf
      j += 1
    }

    val gox = scoring.gapOpenX; val gex = scoring.gapExtendX
    val goy = scoring.gapOpenY; val gey = scoring.gapExtendY
    val matchS = scoring.matchScore; val mismatchS = scoring.mismatch

    var cells = 0L
    var i = 1
    while (i < n) {
      val ci = center(i)
      val jLo = math.max(1, ci - band)
      val jHi = math.min(m - 1, ci + band)
      val rowOff = i * width - (ci - band)
      val ti = transcript.charAt(i - 1) // fill never touches the sentinels

      // col 0 boundary (textSeqCompare.py:53-56)
      matCur(0) = BoundaryGapExtend * i
      xCur(0) = NegInf
      yCur(0) = BoundaryGapExtend * i

      if (i > 1) {
        // poison prev-row cells read this row ([jLo-1, jHi]) that the
        // previous row did not write ({0} ∪ [pLo, pHi] are valid)
        val pLo = lo(i - 1)
        val pHi = hi(i - 1)
        var jj = math.max(1, jLo - 1)
        while (jj < pLo) { matPrev(jj) = NegInf; xPrev(jj) = NegInf; yPrev(jj) = NegInf; jj += 1 }
        jj = math.max(pHi + 1, math.max(1, jLo - 1))
        while (jj <= jHi) { matPrev(jj) = NegInf; xPrev(jj) = NegInf; yPrev(jj) = NegInf; jj += 1 }
      }
      // current-row left neighbor of the band start (unless it's col 0)
      if (jLo - 1 >= 1) { matCur(jLo - 1) = NegInf; xCur(jLo - 1) = NegInf; yCur(jLo - 1) = NegInf }

      // carried registers: prev-row (j-1) is last iteration's prev-row (j),
      // cur-row (j-1) is last iteration's own output
      var pmJ1 = matPrev(jLo - 1); var pxJ1 = xPrev(jLo - 1); var pyJ1 = yPrev(jLo - 1)
      var cmJ1 = matCur(jLo - 1); var cxJ1 = xCur(jLo - 1); var cyJ1 = yCur(jLo - 1)
      j = jLo
      while (j <= jHi) {
        val msc = if (ti == oc(j)) matchS else mismatchS

        var mBest = 0; var mVal = pmJ1
        if (pxJ1 > mVal) { mBest = 1; mVal = pxJ1 }
        if (pyJ1 > mVal) { mBest = 2; mVal = pyJ1 }
        val mOut = mVal + msc

        val y0 = cmJ1 + goy + gey
        val y1 = cxJ1 + goy + gey
        val y2 = cyJ1 + gey
        var yBest = 0; var yVal = y0
        if (y1 > yVal) { yBest = 1; yVal = y1 }
        if (y2 > yVal) { yBest = 2; yVal = y2 }

        val pm = matPrev(j); val px = xPrev(j); val py = yPrev(j)
        val x0 = pm + gox + gex
        val x1 = px + gex
        val x2 = py + gox + gex
        var xBest = 0; var xVal = x0
        if (x1 > xVal) { xBest = 1; xVal = x1 }
        if (x2 > xVal) { xBest = 2; xVal = x2 }

        matCur(j) = mOut; yCur(j) = yVal; xCur(j) = xVal
        ptrs(rowOff + j) = (mBest | (xBest << 2) | (yBest << 4)).toByte
        pmJ1 = pm; pxJ1 = px; pyJ1 = py
        cmJ1 = mOut; cxJ1 = xVal; cyJ1 = yVal
        j += 1
      }
      cells += jHi - jLo + 1

      // roll rows
      val tm = matPrev; matPrev = matCur; matCur = tm
      val tx = xPrev; xPrev = xCur; xCur = tx
      val ty = yPrev; yPrev = yCur; yCur = ty
      i += 1
    }
    cells
  }

  /** Sentinel of the Int fill: below every value [[intFillFits]] admits
    * (|v| < 2^28), and far enough above Int.MinValue that the difference of
    * any two values fits in 32 bits.
    */
  private final val NI = -(1 << 29)

  /** Whether [[fillBandInt]] is exact on an n × m problem (sentinels
    * included). Every finite DP value is a path score: a boundary value −k
    * plus at most i + j − k step costs, so |v| ≤ (n+m)·C with C the largest
    * of 1 (the boundary step), |match|, |mismatch|, |gox+gex|, |gex|,
    * |goy+gey| and |gey|. Below 2^28, NI and every mask difference fit in an
    * Int.
    */
  private[align] def intFillFits(scoring: Scoring, n: Int, m: Int): Boolean =
    scoring.isIntegral && {
      import scoring._
      val c = Seq(1.0, matchScore, mismatch, gapOpenX + gapExtendX, gapExtendX,
        gapOpenY + gapExtendY, gapExtendY).map(math.abs).max
      (n.toLong + m) * c.toLong < (1L << 28)
    }

  /** All ones when v ≠ 0, else 0. */
  @inline private def nz(v: Int): Int = (v | -v) >> 31

  /** Int banded fill for integral scorings within [[intFillFits]] (with the
    * default scoring, n + m below ~26 M); outputs identical to
    * [[fillBandDouble]]. Each row is filled in two passes, [[passA]] and
    * [[passB]].
    *
    * Pass A computes, for every column j of the row, mat(j), x(j), their
    * pointers and A(j) = first-wins max(mat(j)+goy+gey, x(j)+goy+gey) with
    * its pointer bit. All of them read only the previous row, so the
    * iterations are independent and C2 auto-vectorizes the loop, provided
    * it stays branch-free and every load and store is at index j:
    *   - argmax: `k = (best − cand) >> 31` is all ones when cand is strictly
    *     greater, so `best += (cand − best) & k` keeps the first maximum;
    *   - NegInf absorption: `base + (cost & nz(base ^ NI))` leaves NI at NI,
    *     as IEEE leaves −1e100 + cost at −1e100, so poisoned candidates tie
    *     exactly and first-wins picks the same pointer as the Double fill;
    *   - match score: `matchS + (mmDelta & nz(ti − oc(j)))`;
    *   - same index: the previous row is copied one column right first
    *     (`System.arraycopy`, so sm(j) = matPrev(j−1)) and the stream is an
    *     Int array whose entry j holds char j−1. C2 cannot prove two Int
    *     arrays distinct, so a load at j−1 next to a store at j would count
    *     as a loop-carried dependence and leave the loop scalar.
    *
    * Pass B is the serial y chain, scalar:
    * y(j) = y(j−1)+gey when that is strictly greater than A(j−1), with
    * pointer 2, else A(j−1) with A's bit — the first-wins max of
    * (y0, y1, y2) is the first-wins max of (y0, y1) against y2. It writes
    * y and the packed pointer byte.
    *
    * Within the bound, NI is below every finite value and no sum or
    * difference wraps, so every comparison, first-wins tie and absorption
    * is the Double fill's.
    */
  private def fillBandInt(
      transcript: String,
      ocrStream: String,
      scoring: Scoring,
      band: Int,
      ws: Workspace,
      n: Int,
      m: Int,
      slope: Double,
      ptrs: Array[Byte]): Long = {
    @inline def center(i: Int): Int = math.round(i * slope).toInt
    @inline def lo(i: Int): Int = math.max(1, center(i) - band)
    @inline def hi(i: Int): Int = math.min(m - 1, center(i) + band)
    val width = 2 * band + 1

    ws.ensureIntRows(m)
    val oc = ws.streamArray(ocrStream)
    val r = ws.irows // layout: see Workspace.irows

    // row 0 boundary (textSeqCompare.py:57-60); BoundaryGapExtend = -1
    var j = 0
    while (j < m) {
      r(0)(j) = -j
      r(1)(j) = -j
      r(2)(j) = NI
      j += 1
    }

    var cells = 0L
    var i = 1
    while (i < n) {
      val ci = center(i)
      val jLo = math.max(1, ci - band)
      val jHi = math.min(m - 1, ci + band)
      val cur = (i & 1) * 3
      val prev = 3 - cur
      val matPrev = r(prev); val xPrev = r(prev + 1); val yPrev = r(prev + 2)

      // col 0 boundary (textSeqCompare.py:53-56)
      r(cur)(0) = -i
      r(cur + 1)(0) = NI
      r(cur + 2)(0) = -i

      if (i > 1) {
        // poison prev-row cells read this row ([jLo-1, jHi]) that the
        // previous row did not write ({0} ∪ [pLo, pHi] are valid)
        val pLo = lo(i - 1)
        val pHi = hi(i - 1)
        var jj = math.max(1, jLo - 1)
        while (jj < pLo) { matPrev(jj) = NI; xPrev(jj) = NI; yPrev(jj) = NI; jj += 1 }
        jj = math.max(pHi + 1, math.max(1, jLo - 1))
        while (jj <= jHi) { matPrev(jj) = NI; xPrev(jj) = NI; yPrev(jj) = NI; jj += 1 }
      }
      // the previous row one column right, so pass A reads it at index j
      val len = jHi - jLo + 1
      System.arraycopy(matPrev, jLo - 1, r(6), jLo, len)
      System.arraycopy(xPrev, jLo - 1, r(7), jLo, len)
      System.arraycopy(yPrev, jLo - 1, r(8), jLo, len)

      passA(r, oc, prev, jLo, jHi, transcript.charAt(i - 1), scoring)
      passB(r, cur, ptrs, i * width - (ci - band), jLo, jHi, i, scoring)
      cells += len
      i += 1
    }
    cells
  }

  /** Pass A of [[fillBandInt]] over columns [jLo, jHi] of one row: reads the
    * previous row (`r(prev..prev+2)`, its shifted copy in `r(6..8)`) and
    * writes mat and x of the row, A into `r(9)` and the pointer bits (mat in
    * 0-1, x in 2-3, A's in 4) into `r(10)`. A method of its own: compiled
    * inside the row loop of [[fillBandInt]], C2 left this loop scalar (the
    * whole fill measured about 3× slower).
    */
  private def passA(
      r: Array[Array[Int]],
      oc: Array[Int],
      prev: Int,
      jLo: Int,
      jHi: Int,
      ti: Int,
      scoring: Scoring): Unit = {
    val matPrev = r(prev); val xPrev = r(prev + 1); val yPrev = r(prev + 2)
    val matCur = r(3 - prev); val xCur = r(4 - prev)
    val sm = r(6); val sx = r(7); val sy = r(8); val aRow = r(9); val bits = r(10)
    val gex = scoring.gapExtendX.toInt
    val goxGex = (scoring.gapOpenX + scoring.gapExtendX).toInt
    val goyGey = (scoring.gapOpenY + scoring.gapExtendY).toInt
    val matchS = scoring.matchScore.toInt
    val mmDelta = scoring.mismatch.toInt - matchS
    var j = jLo
    while (j <= jHi) {
      val msc = matchS + (mmDelta & nz(ti - oc(j)))

      val m0 = sm(j); val m1 = sx(j); val m2 = sy(j)
      var k = (m0 - m1) >> 31
      var mVal = m0 + ((m1 - m0) & k)
      var mBest = k & 1
      k = (mVal - m2) >> 31
      mVal += (m2 - mVal) & k
      mBest += (2 - mBest) & k
      val mOut = mVal + (msc & nz(mVal ^ NI))

      val pm = matPrev(j); val px = xPrev(j); val py = yPrev(j)
      val x0 = pm + (goxGex & nz(pm ^ NI))
      val x1 = px + (gex & nz(px ^ NI))
      val x2 = py + (goxGex & nz(py ^ NI))
      k = (x0 - x1) >> 31
      var xVal = x0 + ((x1 - x0) & k)
      var xBest = k & 1
      k = (xVal - x2) >> 31
      xVal += (x2 - xVal) & k
      xBest += (2 - xBest) & k

      val y0 = mOut + (goyGey & nz(mOut ^ NI))
      val y1 = xVal + (goyGey & nz(xVal ^ NI))
      k = (y0 - y1) >> 31

      matCur(j) = mOut; xCur(j) = xVal
      aRow(j) = y0 + ((y1 - y0) & k)
      bits(j) = mBest | (xBest << 2) | ((k & 1) << 4)
      j += 1
    }
  }

  /** Pass B of [[fillBandInt]]: the y chain of row i over [jLo, jHi], into
    * `r(cur + 2)`, and the packed pointer bytes at `ptrs(rowOff + j)`. A
    * plain `if` measured faster here than a branch-free select, and a method
    * of its own faster than the same loop inside the row loop.
    */
  private def passB(
      r: Array[Array[Int]],
      cur: Int,
      ptrs: Array[Byte],
      rowOff: Int,
      jLo: Int,
      jHi: Int,
      i: Int,
      scoring: Scoring): Unit = {
    val yCur = r(cur + 2); val aRow = r(9); val bits = r(10)
    val gey = scoring.gapExtendY.toInt
    // the left neighbour is col 0 (mat = y = -i, x = NI) or a cell outside
    // the band (all NI)
    var yVal = if (jLo == 1) -i else NI
    var aVal = if (jLo == 1) -i + (scoring.gapOpenY + scoring.gapExtendY).toInt else NI
    var aBit = 0 // A's pointer bit, already in the y field
    var j = jLo
    while (j <= jHi) {
      val y2 = yVal + (gey & nz(yVal ^ NI))
      val b = bits(j)
      if (y2 > aVal) { yVal = y2; ptrs(rowOff + j) = ((b & 15) | 32).toByte }
      else { yVal = aVal; ptrs(rowOff + j) = ((b & 15) | aBit).toByte }
      yCur(j) = yVal
      aVal = aRow(j); aBit = b & 16
      j += 1
    }
  }
}
