package graft.tools

import graft.align._
import graft.pipeline.PageGen

/** Single-threaded kernel micro-benchmark: DP cells/sec and per-stage time
  * split (extract vs align vs syllabify+project) on generator-realistic
  * pages. No Spark — isolates the kernel from scheduling noise.
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val words = Array("alleluia", "dominus", "gloria", "sanctus", "benedictus",
      "meus", "dixit", "batch", "stream", "window", "table", "filter")
    val rng = new java.util.Random(7)
    val docs = (0 until 200).map { i =>
      val t = Array.fill(80 + rng.nextInt(40))(words(rng.nextInt(words.length))).mkString(" ")
      val noisy = PageGen.noisyRender(t, i.toLong)
      val html = PageGen.wrapHtml(noisy, PageGen.urlFor(i.toLong), i.toLong)
      (t, noisy, html)
    }

    // warmup
    for (_ <- 0 until 3; (t, _, html) <- docs.take(50)) AlignKernel.process(t, html)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val (_, extractSec) = time { docs.foreach { case (_, _, html) => ExtractHtml.extractText(html) } }
    val (_, sylSec) = time { docs.foreach { case (t, _, _) => Syllabify.syllabifyText(t) } }
    var cells = 0L
    val ws = new NeedlemanWunsch.Workspace
    val (_, alignSec) = time {
      docs.foreach { case (t, noisy, _) =>
        cells += NeedlemanWunsch.alignChars(t, noisy, ws = ws).cellsFilled
      }
    }
    val sylCache = new Syllabify.Cache
    val (_, fullSec) = time { docs.foreach { case (t, _, html) =>
      AlignKernel.process(t, html, ws = ws, sylCache = sylCache) } }

    println(f"docs=${docs.length} extract=${extractSec}%.3fs syllabify=${sylSec}%.3fs " +
      f"alignOnly=${alignSec}%.3fs full=${fullSec}%.3fs")
    println(f"cells=$cells cells/s=${cells / alignSec / 1e6}%.1fM docs/s(full)=${docs.length / fullSec}%.1f")
  }
}
