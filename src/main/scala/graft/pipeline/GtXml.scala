package graft.pipeline

import graft.align.SylBox
import scala.xml.XML

/** Ground-truth box (PASCAL-VOC-style) — data model D9 (SURVEY.md),
  * evaluate_text_alignment.py:82-98.
  */
final case class GtBox(syl: String, difficult: Int, ulx: Int, uly: Int, lrx: Int, lry: Int)

/** PASCAL-VOC-ish XML ground-truth parser — port of the GT scan in
  * `evaluate_alignment` (evaluate_text_alignment.py:82-98): every `object`
  * element yields {name, difficult, bndbox/xmin..ymax}.
  */
object GtXml {

  def parse(xml: String): Vector[GtBox] = {
    val root = XML.loadString(xml)
    (root \ "object").iterator.map { el =>
      // <difficult> is optional in real PASCAL-VOC files — default 0
      val diffTxt = (el \ "difficult").text.trim
      GtBox(
        syl = (el \ "name").text,
        difficult = if (diffTxt.isEmpty) 0 else diffTxt.toInt,
        ulx = (el \ "bndbox" \ "xmin").text.trim.toInt,
        uly = (el \ "bndbox" \ "ymin").text.trim.toInt,
        lrx = (el \ "bndbox" \ "xmax").text.trim.toInt,
        lry = (el \ "bndbox" \ "ymax").text.trim.toInt)
    }.toVector
  }

  /** One page's GT spans in XML order, the `gt` side of
    * [[EvalJob.docMeans]]; difficult boxes optionally dropped as in the
    * reference (`eval_difficult=False`, evaluate_text_alignment.py:111-113).
    */
  def sylBoxes(xml: String, evalDifficult: Boolean = false): Vector[SylBox] =
    parse(xml).collect {
      case b if evalDifficult || b.difficult == 0 => SylBox(b.syl, b.ulx, b.uly, b.lrx, b.lry)
    }
}
