package graft.align

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** T3 property tests (SURVEY.md §5): structural invariants of the alignment
  * and the banded == full equivalence gate that licenses the banded fast
  * path. Alphabet excludes '_' (the gap char — same ambiguity exists in the
  * reference).
  */
object AlignmentPropertiesSpec extends Properties("alignment") {

  // The banded-agreement property is EMPIRICAL (see NeedlemanWunsch
  // scaladoc): universally true only below the full-matrix threshold. Pin
  // the generator seed so CI is deterministic; the wide sweep lives in
  // graft.tools.BandSweep (0/20,000 short pairs at band >= 16, and 0/2,000
  // noisy pages of 300-3,000 chars against the full matrix).
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withInitialSeed(org.scalacheck.rng.Seed(42L))

  private val charGen: Gen[Char] = Gen.frequency(
    8 -> Gen.oneOf('a', 'b', 'c', 'd', 'e'),
    2 -> Gen.const(' '))
  private val strGen: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))

  private val scoringGen: Gen[Scoring] = for {
    m <- Gen.chooseNum(1, 12)
    mm <- Gen.chooseNum(-12, -1)
    gox <- Gen.chooseNum(-9, 0)
    goy <- Gen.chooseNum(-9, 0)
    gex <- Gen.chooseNum(-5, 0)
    gey <- Gen.chooseNum(-5, 0)
  } yield Scoring(m, mm, gox, goy, gex, gey)

  // NOTE: initial bands below NeedlemanWunsch.MinBand are clamped up — tiny
  // bands can survive the agreement rule with wrong output (see BandSweep).
  property("banded (agreement rule) == literal full-matrix token kernel") =
    forAll(strGen, strGen, scoringGen, Gen.oneOf(16, 24, 64)) {
      (a: String, b: String, sc: Scoring, band: Int) =>
        val (ta, oa) = NeedlemanWunsch.alignTokens(
          a.map(_.toString).toVector, b.map(_.toString).toVector, sc)
        val r = NeedlemanWunsch.alignCharsBanded(a, b, sc, band)
        (r.traAlign == ta.mkString) :| s"tra: ${r.traAlign} vs ${ta.mkString}" &&
        (r.ocrAlign == oa.mkString) :| s"ocr: ${r.ocrAlign} vs ${oa.mkString}"
    }

  property("full char kernel == literal token kernel") =
    forAll(strGen, strGen, scoringGen) { (a: String, b: String, sc: Scoring) =>
      val (ta, oa) = NeedlemanWunsch.alignTokens(
        a.map(_.toString).toVector, b.map(_.toString).toVector, sc)
      val r = NeedlemanWunsch.alignCharsFull(a, b, sc)
      r.traAlign == ta.mkString && r.ocrAlign == oa.mkString
    }

  // the gate's signs widened: positive gap opens and extends, mismatch >= 0
  // and match <= 0 reach the absorption and tie cases the default signs miss
  private val wideScoringGen: Gen[Scoring] = for {
    m <- Gen.chooseNum(-6, 12)
    mm <- Gen.chooseNum(-12, 6)
    gox <- Gen.chooseNum(-9, 4)
    goy <- Gen.chooseNum(-9, 4)
    gex <- Gen.chooseNum(-5, 3)
    gey <- Gen.chooseNum(-5, 3)
  } yield Scoring(m, mm, gox, goy, gex, gey)

  private def doubleFill(a: String, b: String, sc: Scoring, band: Int): AlignResult =
    NeedlemanWunsch.alignCharsBandedWith(a, b, sc, band, new NeedlemanWunsch.Workspace,
      Int.MaxValue - 8L, forceDoubleFill = true)

  // the Int fill (production path for every integral scoring within its
  // bound) must equal the Double fill bit-for-bit on identical inputs — the
  // NI absorption masks mirror IEEE absorption at -1e100 exactly
  property("integer fill == double fill (identical inputs, all scorings)") =
    forAll(strGen, strGen, Gen.oneOf(scoringGen, wideScoringGen), Gen.oneOf(16, 24, 64)) {
      (a: String, b: String, sc: Scoring, band: Int) =>
        val int = NeedlemanWunsch.alignCharsBanded(a, b, sc, band)
        val dbl = doubleFill(a, b, sc, band)
        (int.traAlign == dbl.traAlign && int.ocrAlign == dbl.ocrAlign &&
          int.bandUsed == dbl.bandUsed) :|
          s"int=(${int.traAlign},${int.ocrAlign}) dbl=(${dbl.traAlign},${dbl.ocrAlign})"
    }

  // C = 2^20 puts the bound (n+m)·C < 2^28 at n+m = 256 (sentinels
  // included): 100 transcript chars against 153 stream chars take the Int
  // fill, against 154 the Double fill; both sides equal the Double fill
  property("Int bound: the dispatch picks Int below it, Double at it") = Prop.delay {
    val sc = Scoring(1 << 20, -(1 << 20), -(1 << 19), -(1 << 19), -(1 << 19), -(1 << 19))
    val rng = new scala.util.Random(7)
    def text(len: Int) = Seq.fill(len)("abcde "(rng.nextInt(6))).mkString
    val a = text(100)
    Prop.all(Seq(153 -> true, 154 -> false).map { case (len, int) =>
      val b = text(len)
      val got = NeedlemanWunsch.alignCharsBanded(a, b, sc, 16)
      (NeedlemanWunsch.intFillFits(sc, a.length + 1, b.length + 1) == int) :|
        s"stream $len: Int fill expected $int" &&
      (got == doubleFill(a, b, sc, 16)) :| s"stream $len: $got"
    }: _*)
  }

  // non-integral scorings take the Double fill natively: self-consistency
  // banded == full (the token anchor only accepts the same Double arithmetic)
  property("non-integral scoring: banded == full char kernel (double fill)") =
    forAll(strGen, strGen, Gen.oneOf(16, 24, 64)) { (a: String, b: String, band: Int) =>
      val sc = Scoring(8.25, -4.5, -7.25, -7.25, -3.5, -0.5)
      val banded = NeedlemanWunsch.alignCharsBanded(a, b, sc, band)
      val full = NeedlemanWunsch.alignCharsFull(a, b, sc)
      banded.traAlign == full.traAlign && banded.ocrAlign == full.ocrAlign
    }

  property("equal lengths; de-gapped outputs reproduce inputs; no gap-gap column") =
    forAll(strGen, strGen) { (a: String, b: String) =>
      val r = NeedlemanWunsch.alignChars(a, b)
      Prop.all(
        (r.traAlign.length == r.ocrAlign.length) :| "lengths",
        (r.traAlign.replace("_", "") == a) :| "degap tra",
        (r.ocrAlign.replace("_", "") == b) :| "degap ocr",
        (!r.traAlign.indices.exists(i =>
          r.traAlign.charAt(i) == '_' && r.ocrAlign.charAt(i) == '_')) :| "gap-gap")
    }

  private val wordGen: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("abcdefghijklmnopqrstuvwxyz".toSeq)).map(_.mkString))

  property("syllabify terminates and concatenation reproduces the word") =
    forAll(wordGen) { w: String =>
      Syllabify.syllabifyWord(w).mkString == w
    }

  property("memoized syllabification == direct (shared cache across inputs)") = {
    val sharedCache = new Syllabify.Cache
    forAll(Gen.listOfN(6, wordGen)) { ws: List[String] =>
      val text = ws.mkString(" ")
      Syllabify.syllabifyText(text, sharedCache) == Syllabify.syllabifyText(text)
    }
  }

  // NOTE: clean is NOT idempotent in general (reference parity: the
  // non-overlapping " | " collapse means clean("a | | a") == "a | a", which
  // cleans again to "a a"). Idempotence holds exactly on pipe-free inputs,
  // and the output alphabet is always [\w\s|] lowercase.
  private val messyGen: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, Gen.frequency(
      6 -> Gen.oneOf('a', 'B', 'c', '1', ' '),
      2 -> Gen.oneOf('!', '.', ',', '?', '%'),
      1 -> Gen.const('|'))).map(_.mkString))

  property("clean output alphabet is word/space/pipe, lowercase") =
    forAll(messyGen) { s: String =>
      CleanText.clean(s).forall(c =>
        (c.isLetterOrDigit && !c.isUpper) || c == '_' || c == '|' || c.isWhitespace)
    }

  property("clean is idempotent on pipe-free inputs") =
    forAll(messyGen.map(_.replace('|', 'x'))) { s: String =>
      val once = CleanText.clean(s)
      CleanText.clean(once) == once
    }

  property("spans ordered and within stream bounds") =
    forAll(strGen, strGen) { (a0: String, b: String) =>
      val a = CleanText.clean(a0)
      val stream = b.zipWithIndex.map { case (c, k) => CharBox.at(c, k) }.toVector
      val r = AlignKernel.processStream(a, stream)
      Prop.all(
        r.spans.forall(s => s.ulx >= 0 && s.lrx <= b.length) :| "bounds",
        (r.spans.map(_.ulx) == r.spans.map(_.ulx).sorted) :| "ordered")
    }
}

/** Equivalence of the forward-scan abbreviation expansion with the literal
  * reference algorithm (rescan-from-0). See Abbrev.expand scaladoc for the
  * proof sketch; this is the empirical gate.
  */
object AbbrevPropertiesSpec extends Properties("abbrev") {
  import org.scalacheck.Gen

  private val abbrevChars = "dnsūeal^āēūō"
  private val charGen: Gen[Char] = Gen.frequency(
    5 -> Gen.oneOf('a', 'l', 'd', 'n', 's', 'e', 'u', 'm', ' '),
    3 -> Gen.oneOf(abbrevChars.toSeq),
    1 -> Gen.oneOf('x', 'y', 'z'))

  property("forward-scan expand == literal reference expand") =
    Prop.forAll(Gen.chooseNum(0, 80).flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))) {
      s: String =>
        val stream = s.zipWithIndex.map { case (c, k) => CharBox.at(c, k) }.toVector
        Abbrev.expand(stream) == Abbrev.expandLiteral(stream)
    }
}
