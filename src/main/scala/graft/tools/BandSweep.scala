package graft.tools

import graft.align._

/** Offline sweep: disagreement rate of k-way doubling-agreement banded DP vs
  * the exact token kernel, per scoring family and agreement strength, on
  * strings of at most 60 chars; then a realistic-length leg: 2,000 noisy
  * copies of 300–3,000 chars through the banded path with the default
  * scoring against the full matrix, counting the pages accepted from the
  * single widest fill and the cells filled, and the same banded path with
  * the Double fill forced against the Int fill it takes by default.
  *
  * `runMain graft.tools.BandSweep [casesPerShortLeg=5000] [agree=2]`
  */
object BandSweep {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 5000
    val agree = if (args.length > 1) args(1).toInt else 2
    val rng = new java.util.Random(42)
    def randStr(maxLen: Int): String = {
      val len = rng.nextInt(maxLen)
      val sb = new StringBuilder
      for (_ <- 0 until len)
        sb.append(if (rng.nextInt(10) < 2) ' ' else ('a' + rng.nextInt(5)).toChar)
      sb.toString
    }
    def bandedK(a: String, b: String, sc: Scoring, b0: Int, k: Int): (String, String) = {
      // k consecutive agreeing bands required
      val m = b.length + 1
      var band = math.max(1, b0)
      var streak = 0
      var prev: Option[(String, String)] = None
      while (true) {
        val r = NeedlemanWunsch.alignCharsBanded(a, b, sc, band) // 2-way inside
        val cur = Some((r.traAlign, r.ocrAlign))
        if (r.bandUsed == 0) return cur.get // reached full
        if (cur == prev) { streak += 1; if (streak >= k - 1) return cur.get }
        else streak = 0
        prev = cur
        band = band * 2
        if (band >= m) {
          val rf = NeedlemanWunsch.alignCharsFull(a, b, sc)
          return (rf.traAlign, rf.ocrAlign)
        }
      }
      throw new IllegalStateException
    }
    def run(name: String, scGen: () => Scoring, cases: Int, b0: () => Int): Unit = {
      var fail = 0
      for (_ <- 0 until cases) {
        val a = randStr(60); val b = randStr(60)
        val sc = scGen()
        val (ta, oa) = NeedlemanWunsch.alignTokens(
          a.map(_.toString).toVector, b.map(_.toString).toVector, sc)
        val got = bandedK(a, b, sc, b0(), agree)
        if (got._1 != ta.mkString || got._2 != oa.mkString) fail += 1
      }
      println(s"$name agree=$agree: $fail/$cases disagree")
    }
    run("default-scoring-smallband", () => Scoring.Default, n, () => Seq(1,2,5,16)(rng.nextInt(4)))
    run("default-scoring-band16", () => Scoring.Default, n, () => 16)
    run("any-scoring-band16", () => Scoring(
      1 + rng.nextInt(12), -1 - rng.nextInt(12),
      -rng.nextInt(10), -rng.nextInt(10),
      -rng.nextInt(6), -rng.nextInt(6)), n, () => 16)
    val words = Array("alleluia", "dominus", "gloria", "sanctus", "benedictus", "meus", "dixit")
    var fail = 0
    for (i <- 0 until n) {
      val t = Array.fill(30 + rng.nextInt(60))(words(rng.nextInt(words.length))).mkString(" ")
      val noisy = graft.pipeline.PageGen.noisyRender(t, rng.nextLong())
      val (ta, oa) = NeedlemanWunsch.alignTokens(
        t.map(_.toString).toVector, noisy.map(_.toString).toVector)
      val got = bandedK(t, noisy, Scoring.Default, 64, agree)
      if (got._1 != ta.mkString || got._2 != oa.mkString) fail += 1
    }
    println(s"realistic-default-band64 agree=$agree: $fail/$n disagree")

    // alignChars runs the full matrix below 16 M cells, so the banded path
    // is called directly; a page is accepted from the single widest fill
    // when it filled no more cells than that one fill
    val longCases = 2000
    val widest = NeedlemanWunsch.DefaultInitialBand << NeedlemanWunsch.AgreementStreak
    val ws = new NeedlemanWunsch.Workspace
    var longFail = 0
    var fillFail = 0
    var single = 0
    var cells = 0L
    var fullCells = 0L
    for (_ <- 0 until longCases) {
      val len = 300 + rng.nextInt(2701)
      val sb = new StringBuilder
      while (sb.length < len) sb.append(words(rng.nextInt(words.length))).append(' ')
      val t = sb.substring(0, len)
      val noisy = graft.pipeline.PageGen.noisyRender(t, rng.nextLong())
      val r = NeedlemanWunsch.alignCharsBanded(t, noisy, ws = ws)
      val full = NeedlemanWunsch.alignCharsFull(t, noisy, Scoring.Default, ws)
      if (r.traAlign != full.traAlign || r.ocrAlign != full.ocrAlign) longFail += 1
      if (r != NeedlemanWunsch.alignCharsBandedWith(t, noisy, Scoring.Default,
          NeedlemanWunsch.DefaultInitialBand, ws, Int.MaxValue - 8L, forceDoubleFill = true))
        fillFail += 1
      if (r.bandUsed == widest &&
          r.cellsFilled == NeedlemanWunsch.alignCharsWithBand(t, noisy, Scoring.Default, widest, ws).cells)
        single += 1
      cells += r.cellsFilled
      fullCells += full.cellsFilled
    }
    println(s"realistic-long-300-3000-default: $longFail/$longCases disagree vs full matrix; " +
      s"$single/$longCases accepted from the single widest fill (band $widest); " +
      s"banded cells $cells, full-matrix cells $fullCells")
    println(s"realistic-long-300-3000-default: $fillFail/$longCases disagree, Int fill vs Double fill")
  }
}
