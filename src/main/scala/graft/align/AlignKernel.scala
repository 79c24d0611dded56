package graft.align

/** Per-document result of the full alignment kernel. */
final case class KernelResult(
    spans: Vector[SylBox],
    traAlign: String,
    ocrAlign: String,
    editDistance: Int,
    gapCount: Int,
    bandUsed: Int,
    cellsFilled: Long,
    error: String)

/** The flagship per-row kernel: the reference's `process` core loop
  * (alignToOCR.py:187-330) re-expressed over web pages —
  *
  *   clean transcript (O8) → extract noisy stream from HTML (O13) →
  *   abbreviation expansion (O12) → NW affine-gap alignment (O1–O6) →
  *   syllabify transcript (O14/O15) → gap insertion (O18) →
  *   syllable→span projection (O19).
  *
  * Pure Scala, zero Spark imports — invoked from Dataset.mapPartitions so one
  * kernel instance's buffers serve a whole partition. Total (never throws on
  * malformed rows): errors land in `error`.
  */
object AlignKernel {

  /** Documents longer than this (either side) are truncated before the DP —
    * a deterministic skew guard (mirrors the reference's pathological-input
    * guards, textAlignPreprocessing.py:239). Truncation is recorded in
    * `error` so 10^12-row runs surface it in metrics rather than straggle.
    */
  val MaxAlignChars: Int = 100000

  /** Cleaned + truncated (transcript, stream, note) for a raw page — the
    * shared prep ahead of the per-scoring DP.
    */
  private def prep(transcriptRaw: String, html: Array[Byte]): (String, IndexedSeq[CharBox], String) = {
    val transcriptFull = CleanText.clean(if (transcriptRaw == null) "" else transcriptRaw)
    val extracted = ExtractHtml.extractCharBoxes(html)

    var note = ""
    val transcript =
      if (transcriptFull.length > MaxAlignChars) {
        note = s"transcript truncated ${transcriptFull.length}->$MaxAlignChars;"
        transcriptFull.substring(0, MaxAlignChars)
      } else transcriptFull
    val extracted2 =
      if (extracted.length > MaxAlignChars) {
        note += s"stream truncated ${extracted.length}->$MaxAlignChars;"
        extracted.take(MaxAlignChars)
      } else extracted
    (transcript, extracted2, note)
  }

  /** Align one page under one scoring system: [[processMulti]] with a
    * single system (same error handling).
    */
  def process(
      transcriptRaw: String,
      html: Array[Byte],
      scoring: Scoring = Scoring.Default,
      ws: NeedlemanWunsch.Workspace = new NeedlemanWunsch.Workspace,
      sylCache: Syllabify.Cache = new Syllabify.Cache): KernelResult =
    processMulti(transcriptRaw, html, Seq(scoring), ws, sylCache).head

  /** Align one page under SEVERAL scoring systems, one result per system in
    * order: the page is cleaned and extracted ONCE; only the DP + projection
    * re-run per system. Used by the evaluation query, which needs a GT and
    * a candidate alignment of the same page (VERDICT r1: don't synthesize +
    * extract the corpus twice).
    */
  def processMulti(
      transcriptRaw: String,
      html: Array[Byte],
      systems: Seq[Scoring],
      ws: NeedlemanWunsch.Workspace = new NeedlemanWunsch.Workspace,
      sylCache: Syllabify.Cache = new Syllabify.Cache): Seq[KernelResult] =
    try {
      val (transcript, extracted, note) = prep(transcriptRaw, html)
      systems.map(sc =>
        processStream(transcript, extracted, sc, note = note, ws = ws, sylCache = sylCache))
    } catch {
      case e: Exception =>
        val r = KernelResult(Vector.empty, "", "", 0, 0, 0, 0L,
          s"kernel: ${e.getClass.getSimpleName}: ${e.getMessage}")
        systems.map(_ => r)
    }

  /** Kernel from a pre-cleaned transcript and an extracted box stream —
    * the exact scope covered by the reference differential fixtures.
    */
  def processStream(
      transcript: String,
      stream: IndexedSeq[CharBox],
      scoring: Scoring = Scoring.Default,
      note: String = "",
      ws: NeedlemanWunsch.Workspace = new NeedlemanWunsch.Workspace,
      sylCache: Syllabify.Cache = new Syllabify.Cache): KernelResult = {

    // abbreviation expansion (alignToOCR.py:251-264)
    val allChars = Abbrev.expand(stream)
    val ocr = {
      val sb = new java.lang.StringBuilder(allChars.length)
      allChars.foreach(b => sb.append(b.ch))
      sb.toString
    }

    // alignment (textSeqCompare.py:13-177)
    val ar = NeedlemanWunsch.alignChars(transcript, ocr, scoring, ws)

    // syllabification of the *unaligned* transcript (alignToOCR.py:277),
    // memoized per kernel instance (pure function, Zipf vocabulary)
    val syls = Syllabify.syllabifyText(transcript, sylCache)

    // gap insertion + span projection (alignToOCR.py:283-324)
    val gapped = SpanProject.insertGaps(allChars, ar.ocrAlign)
    val spans = SpanProject.projectSyllables(syls, ar.traAlign, gapped)

    var edit = 0
    var gaps = 0
    var i = 0
    while (i < ar.traAlign.length) {
      val a = ar.traAlign.charAt(i); val b = ar.ocrAlign.charAt(i)
      if (a == '_' || b == '_') { gaps += 1; edit += 1 }
      else if (a != b) edit += 1
      i += 1
    }

    KernelResult(spans, ar.traAlign, ar.ocrAlign, edit, gaps, ar.bandUsed, ar.cellsFilled,
      note + ar.note)
  }
}
