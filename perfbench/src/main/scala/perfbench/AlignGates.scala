package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.align._
import graft.pipeline.{AlignedDoc, Page}

/** Correctness gates of the alignment workload. */
object AlignGates {

  /** Largest banded page whose full matrix the gate is willing to fill. */
  val FullCheckCells: Long = 40L * 1000 * 1000
  val BandedChecks = 3

  /** align_long: a seeded handful of banded pages align byte-identically to
    * the full matrix and their output rows equal the kernel replay; the
    * committed reference goldens replay byte-identically.
    */
  def long(gate: Gate, pages: Vector[Page], rows: Vector[AlignedDoc], seed: Long, root: Path): Unit = {
    val rowByUrl = rows.map(d => d.url -> d).toMap
    gate.check(rows.length == pages.length, s"${rows.length} output rows for ${pages.length} pages")
    val checkable = AlignInputs.sample(pages.length, pages.length, seed).iterator
      .map(pages(_))
      .filter(p => rowByUrl.get(p.url).exists(_.band_width > 0))
      .map(p => (p, prep(p)))
      .filter { case (_, (t, o)) => (t.length + 1L) * (o.length + 1L) <= FullCheckCells }
      .take(BandedChecks).toVector
    gate.check(checkable.length == BandedChecks,
      s"only ${checkable.length} banded pages small enough for a full-matrix check")
    checkable.foreach { case (p, (t, o)) =>
      val banded = NeedlemanWunsch.alignChars(t, o)
      val full = NeedlemanWunsch.alignCharsFull(t, o, Scoring.Default)
      gate.check(banded.bandUsed > 0, s"${p.url}: expected the banded path")
      gate.check(banded.traAlign == full.traAlign && banded.ocrAlign == full.ocrAlign,
        s"${p.url}: banded alignment differs from the full matrix")
      val replayed = AlignInputs.toDoc(p.url, AlignKernel.process(p.text, p.html))
      gate.check(AlignInputs.render(replayed) == AlignInputs.render(rowByUrl(p.url)),
        s"${p.url}: job output differs from the kernel replay")
    }
    Seq("diff", "long").foreach(g => goldens(gate, root, g))
  }

  /** Transcript and abbreviation-expanded stream exactly as the kernel sees them. */
  private def prep(p: Page): (String, String) = {
    val t = CleanText.clean(p.text)
    val o = Abbrev.expand(ExtractHtml.extractCharBoxes(p.html)).iterator.map(_.ch).mkString
    (t, o)
  }

  /** Replay `<name>_cases.tsv` through `processStream` against `<name>_golden.tsv`. */
  private def goldens(gate: Gate, root: Path, name: String): Unit = {
    val dir = root.resolve("src/test/resources")
    def lines(f: String) = Files.readAllLines(dir.resolve(f), StandardCharsets.UTF_8).asScala.toVector
    val cases = lines(s"${name}_cases.tsv")
    val golden = lines(s"${name}_golden.tsv")
    gate.check(cases.nonEmpty && cases.length == golden.length, s"$name goldens: length mismatch")
    val bad = cases.zip(golden).zipWithIndex.count { case ((c, g), _) =>
      val cs = c.split("\t", -1)
      val gs = g.split("\t", -1)
      val transcript = cs(0)
      val noisy = if (cs.length > 1) cs(1) else ""
      val r = AlignKernel.processStream(transcript,
        noisy.zipWithIndex.map { case (ch, k) => CharBox.at(ch, k) }.toVector)
      val got = Seq(r.traAlign, r.ocrAlign, Syllabify.syllabifyText(transcript).mkString(","),
        r.spans.map(s => s"${s.syl}:${s.ulx}:${s.uly}:${s.lrx}:${s.lry}").mkString(";"))
      got != gs.toSeq.take(4)
    }
    gate.check(bad == 0, s"$name goldens: $bad of ${cases.length} cases differ")
  }
}
