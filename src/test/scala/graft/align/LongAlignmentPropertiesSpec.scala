package graft.align

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** The banded kernel on pairs long enough (70–1,500 chars against initial
  * bands 16–64) that `alignCharsBanded` fills the first streak's widest band
  * `b << AgreementStreak` first and proves the narrower bands from its path.
  * The short-string properties in [[AlignmentPropertiesSpec]] never reach
  * that order: there 4·b ≥ m.
  */
object LongAlignmentPropertiesSpec extends Properties("alignment.long") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withInitialSeed(org.scalacheck.rng.Seed(20261017L)).withMinSuccessfulTests(60)

  import NeedlemanWunsch.{AgreementStreak, Fill, MinBand, Workspace, alignCharsWithBand}

  final case class Case(a: String, b: String, sc: Scoring, band: Int, maxPtrCells: Long) {
    override def toString: String =
      s"Case(${a.length}×${b.length} chars, $sc, band $band, maxPtrCells $maxPtrCells)\n$a\n$b"
  }

  private val letter: Gen[Char] = Gen.frequency(
    9 -> Gen.oneOf("aeioudmnstrlc".toSeq),
    2 -> Gen.const(' '))
  private def text(n: Int): Gen[String] = Gen.listOfN(n, letter).map(_.mkString)

  /** A copy of `s` with runs of 1–40 chars inserted or deleted and single
    * chars substituted, in about one place per 60 chars.
    */
  private def noisy(s: String): Gen[String] =
    Gen.listOfN(s.length / 60 + 1, for {
      at <- Gen.chooseNum(0, s.length)
      kind <- Gen.chooseNum(0, 2)
      run <- Gen.chooseNum(1, 40)
      ins <- text(run)
    } yield (at, kind, run, ins)).map { edits =>
      edits.sortBy(-_._1).foldLeft(s) { case (acc, (at0, kind, run, ins)) =>
        val at = math.min(at0, acc.length)
        kind match {
          case 0 => acc.substring(0, at) + ins + acc.substring(at)
          case 1 => acc.substring(0, at) + acc.substring(math.min(acc.length, at + run))
          case _ => if (at < acc.length) acc.substring(0, at) + ins.head + acc.substring(at + 1) else acc
        }
      }
    }

  private val pairGen: Gen[(String, String)] = Gen.frequency(
    4 -> (for {
      n <- Gen.chooseNum(70, 1500)
      a <- text(n)
      b <- noisy(a)
    } yield (a, b)),
    1 -> (for {
      n <- Gen.chooseNum(70, 1500)
      m <- Gen.chooseNum(70, 1500)
      a <- text(n)
      b <- text(m)
    } yield (a, b)))

  private val scoringGen: Gen[Scoring] = Gen.frequency(
    3 -> Gen.const(Scoring.Default),
    1 -> Gen.const(Scoring.symmetric(10, -5, -7, -7)),
    1 -> Gen.const(Scoring(8.25, -4.5, -7.25, -7.25, -3.5, -0.5)),
    3 -> (for {
      m <- Gen.chooseNum(1, 12)
      mm <- Gen.chooseNum(-12, -1)
      gox <- Gen.chooseNum(-9, 0)
      goy <- Gen.chooseNum(-9, 0)
      gex <- Gen.chooseNum(-5, 0)
      gey <- Gen.chooseNum(-5, 0)
    } yield Scoring(m, mm, gox, goy, gex, gey)))

  /** One case in six caps the pointer storage at a band between MinBand and
    * twice the streak's widest band.
    */
  private val caseGen: Gen[Case] = for {
    (a, b) <- pairGen
    sc <- scoringGen
    band <- Gen.oneOf(16, 24, 32, 64)
    capped <- Gen.chooseNum(0, 5).map(_ == 0)
    cap <- Gen.chooseNum(MinBand, 2 * (band << AgreementStreak))
  } yield Case(a, b, sc, band,
    if (capped) (a.length + 1L) * (2L * cap + 1) else Int.MaxValue - 8L)

  /** The doubling loop of `alignCharsBanded` before the widest-first order:
    * every attempt runs its own fill.
    */
  private def doublingLoop(c: Case): AlignResult = {
    val ws = new Workspace
    val n = c.a.length + 1
    val m = c.b.length + 1
    var cells = 0L
    def fill(b: Int) = {
      val f = alignCharsWithBand(c.a, c.b, c.sc, b, ws)
      cells += f.cells
      f.res
    }
    val maxBandStorage = math.min((c.maxPtrCells / n - 1) / 2, Int.MaxValue.toLong).toInt
    if (maxBandStorage < MinBand) return AlignResult("", "", 0, 0L, note = "band_overflow_drop:0")
    var band = math.min(math.max(MinBand, c.band), maxBandStorage)
    if (band >= m) {
      val (ta, oa) = fill(m).get
      return AlignResult(ta, oa, 0, cells)
    }
    var prev = fill(band)
    var lastSuccess = prev.map(band -> _)
    var streak = 0
    while (true) {
      val nextBand = math.min(m, band * 2)
      if (nextBand > maxBandStorage) return lastSuccess match {
        case Some((b, (ta, oa))) => AlignResult(ta, oa, b, cells, note = s"band_capped:$b")
        case None => AlignResult("", "", band, cells, note = s"band_overflow_drop:$band")
      }
      val cur = fill(nextBand)
      if (nextBand >= m) {
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

  private def banded(c: Case, forceDoubleFill: Boolean = false): AlignResult =
    NeedlemanWunsch.alignCharsBandedWith(c.a, c.b, c.sc, c.band, new Workspace, c.maxPtrCells,
      forceDoubleFill)

  // (a) the lemma of alignCharsBanded, checked directly on both ends of the
  // proven range, their neighbours and bands a sixth of the range apart
  // (every band of the range would cost up to 200 fills per case)
  property("lemma: bands from the path half-width up to 4b give the 4b result") =
    forAll(caseGen) { c =>
      val w = c.band << AgreementStreak
      val ws = new Workspace
      val wide = alignCharsWithBand(c.a, c.b, c.sc, w, ws)
      val lo = math.max(MinBand, wide.halfWidth)
      val bands =
        if (lo > w) Nil
        else ((lo to w by math.max(1, (w - lo) / 6)) ++ Seq(lo + 1, w - 1, w))
          .filter(b => b >= lo && b <= w).distinct
      Prop.all(bands.map { b =>
        (alignCharsWithBand(c.a, c.b, c.sc, b, ws).res == wide.res) :|
          s"band $b differs from band $w (half-width ${wide.halfWidth})"
      }: _*)
    }

  // (b) the widest-first order changes no output and never fills more
  property("widest-first == doubling loop (outputs, band, note; cells no higher)") =
    forAll(caseGen) { c =>
      val got = banded(c)
      val want = doublingLoop(c)
      (got.traAlign == want.traAlign && got.ocrAlign == want.ocrAlign) :| "alignment" &&
      (got.bandUsed == want.bandUsed) :| s"band ${got.bandUsed} vs ${want.bandUsed}" &&
      (got.note == want.note) :| s"note '${got.note}' vs '${want.note}'" &&
      (got.cellsFilled <= want.cellsFilled) :| s"cells ${got.cellsFilled} > ${want.cellsFilled}"
    }

  /** The scorings of [[caseGen]] plus integral ones with the gate's signs
    * widened: positive gap opens and extends, mismatch ≥ 0, match ≤ 0.
    */
  private val wideCaseGen: Gen[Case] = for {
    c <- caseGen
    wide <- Gen.oneOf(false, true)
    m <- Gen.chooseNum(-6, 12)
    mm <- Gen.chooseNum(-12, 6)
    gox <- Gen.chooseNum(-9, 4)
    goy <- Gen.chooseNum(-9, 4)
    gex <- Gen.chooseNum(-5, 3)
    gey <- Gen.chooseNum(-5, 3)
  } yield if (wide) c.copy(sc = Scoring(m, mm, gox, goy, gex, gey)) else c

  // (c) the integer fill equals the double fill on long inputs too
  property("integer fill == double fill (long inputs)") =
    forAll(wideCaseGen) { c =>
      val int = banded(c)
      val dbl = banded(c, forceDoubleFill = true)
      (int == dbl) :| s"int=$int dbl=$dbl"
    }

  /** One fill's result and its in-band pointer bytes. */
  private def fillWithPtrs(c: Case, band: Int, forceDoubleFill: Boolean): (Fill, Seq[Byte]) = {
    val ws = new Workspace
    val f = alignCharsWithBand(c.a, c.b, c.sc, band, ws, forceDoubleFill)
    (f, ws.ptrs.take((c.a.length + 1) * (2 * band + 1)).toSeq)
  }

  private def textOf(len: Int, seed: Long): String = {
    val rng = new scala.util.Random(seed)
    Seq.fill(len)("aeioudmnst "(rng.nextInt(11))).mkString
  }

  // 40 chars against 4,000 at band 16: the centre line climbs 100 columns a
  // row, so no band row touches the one before it and every state past row
  // 1 has only NegInf candidates — the absorption ties alone decide the
  // pointers, compared here byte for byte
  property("integer fill == double fill: steep slope, band rows do not touch") = Prop.delay {
    val a = textOf(40, 1)
    val b = textOf(4000, 2)
    Prop.all(Seq(Scoring.Default, Scoring(-2, 3, 2, -3, 1, 2), Scoring(5, 0, 3, 4, -2, 3))
      .flatMap(sc => Seq(16, 64, 128).map(band => Case(a, b, sc, band, Int.MaxValue - 8L)))
      .map { c =>
        (fillWithPtrs(c, c.band, false) == fillWithPtrs(c, c.band, true)) :| s"fill $c" &&
        (banded(c) == banded(c, forceDoubleFill = true)) :| s"banded $c"
      }: _*)
  }

  // far past the Int bound ((n+m)·C ≈ 2^32.3 with C = 2^20) the dispatch
  // takes the Double fill; an Int fill there would wrap (2,460 matches
  // alone score 2^31.3)
  property("large scoring beyond the Int bound takes the double fill") = Prop.delay {
    val a = textOf(2500, 3)
    val sc = Scoring(1 << 20, -(1 << 20), -(1 << 19), -(1 << 19), -(1 << 19), -(1 << 19))
    val c = Case(a, a.take(1200) + textOf(40, 4) + a.drop(1260), sc, 16, Int.MaxValue - 8L)
    (banded(c) == banded(c, forceDoubleFill = true)) :| s"banded $c" &&
    !NeedlemanWunsch.intFillFits(sc, a.length + 1, c.b.length + 1) :| "Int fill chosen"
  }

  // The corner clause needs rare inputs (a search of 150,000 pairs with
  // trailing gap runs found three), so it gets a fixed case: band 64's
  // corner mat pointer names a state whose chain from (n-2, m-2) leaves
  // band 16 while the traceback itself stays inside it, and band 16 differs
  // from band 64, so only the chain keeps the 16 and 32 attempts from
  // reusing band 64's result.
  property("corner chain counts toward the half-width") = Prop.delay {
    val c = Case(
      "uutismmretndmcnuatr dcledrdetseulicceuslusuucuidinnnrduniioritusloro aon" +
      "dcacumsddeutc imuoaelnceunilsautuusitaduecttdunoclramroiriaisnccutrcrnmo" +
      "i unsdndon  uuii sramnllnoidrsmsl n cta ontti aiisntuuodrarmcetmrniemtul" +
      "lrcaotumte l c mituesuumisd ltd  meliod slat i oarot aanmiicro aaermtstd" +
      "essinllm uuiruluoursoloracuoauerorumr",
      "uutismmretndmcnuatr dcledrdetseulicceusuusaucuidinnnrduriiorituslo o aoi" +
      "dcacumsddrutc imtoaelnseunilsautuusitaduacttdunoclramroiriaisnccrtrcrnmo" +
      "i unsdndon  uuii sramnltnoidrsmsl n cta onoti aiisntuuodrarmcetmrniemtul" +
      "lrcaotumte l c mituesuumisd ltd  meliod slat imoarot aanmiicro aaermtstd" +
      "essinllm uuiruluouns",
      Scoring(8, -10, -4, 0, -5, -2), 16, Int.MaxValue - 8L)
    val ws = new Workspace
    val wide = alignCharsWithBand(c.a, c.b, c.sc, 64, ws)
    val got = banded(c)
    (alignCharsWithBand(c.a, c.b, c.sc, 16, ws).res != wide.res) :| "band 16 agrees with band 64" &&
    (wide.halfWidth > 16) :| s"half-width ${wide.halfWidth}" &&
    (got == doublingLoop(c).copy(cellsFilled = got.cellsFilled)) :| s"got $got"
  }
}
