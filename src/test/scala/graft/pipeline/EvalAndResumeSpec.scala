package graft.pipeline

import graft.align.{CleanText, Syllabify}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.Comparator

/** Evaluation layer (O40–O44), parse_transcript port, and the
  * manifest-resume runner (T5).
  */
class EvalAndResumeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("parse_transcript port: syllables + word-begin flags (reference intent; the original crashes)") {
    val (syls, flags) = Syllabify.parseTranscript(
      Seq("# header", "Alleluia | dominus. dixit", "meus cantus"))
    assert(syls === Vector("al", "le", "lui", "a", "do", "mi", "nus",
      "dix", "it", "me", "us", "can", "tus"))
    assert(flags === Vector(0, 0, 0, 0, 1, 0, 0, 1, 0, 1, 0, 1, 0))
  }

  test("PASCAL-VOC XML ground truth parses and feeds EvalJob (O43 input shape)") {
    val xml =
      """<annotation><filename>f.png</filename>
        |<object><name>al</name><difficult>0</difficult>
        |  <bndbox><xmin>0</xmin><ymin>0</ymin><xmax>2</xmax><ymax>1</ymax></bndbox></object>
        |<object><name>le</name><difficult>1</difficult>
        |  <bndbox><xmin>2</xmin><ymin>0</ymin><xmax>4</xmax><ymax>1</ymax></bndbox></object>
        |<object><name>lu</name><difficult>0</difficult>
        |  <bndbox><xmin>4</xmin><ymin>0</ymin><xmax>7</xmax><ymax>1</ymax></bndbox></object>
        |</annotation>""".stripMargin
    val parsed = GtXml.parse(xml)
    assert(parsed === Vector(
      GtBox("al", 0, 0, 0, 2, 1), GtBox("le", 1, 2, 0, 4, 1), GtBox("lu", 0, 4, 0, 7, 1)))
    // difficult boxes dropped by default (evaluate_text_alignment.py:111-113)
    val gt = GtXml.sylBoxes(xml)
    assert(gt.length === 2)
    val res = EvalJob.docMeans(gt, gt).toSeq
    assert(res.length === 1 && res(0)._1 === 1.0)
  }

  test("q_eval_gtxml equals the relational reference, evalDifficult false and true") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val files = new java.io.File(s"${graft.catalog.Query.RepoDir}/src/test/resources/gtxml").listFiles()
      .filter(_.getName.endsWith(".xml")).sortBy(_.getName)
    assert(files.length === 3)
    // one more page whose every box is difficult: no row unless evalDifficult
    val allDifficult =
      """<annotation>
        |<object><name>a</name><difficult>1</difficult>
        |  <bndbox><xmin>0</xmin><ymin>0</ymin><xmax>2</xmax><ymax>1</ymax></bndbox></object>
        |<object><name>b</name><difficult>1</difficult>
        |  <bndbox><xmin>2</xmin><ymin>0</ymin><xmax>5</xmax><ymax>1</ymax></bndbox></object>
        |</annotation>""".stripMargin
    val xmls = files.toSeq.map { f =>
      PageGen.urlFor(f.getName.stripSuffix(".xml").toLong) ->
        new String(Files.readAllBytes(f.toPath), "UTF-8")
    } :+ (PageGen.urlFor(3) -> allDifficult)
    val urls = xmls.map(_._1).toSet
    val aligned = AlignJob.align(AlignJob.synthPages(spark, sf).filter(p => urls.contains(p.url)))
      .persist()
    val docs = aligned.collect()
    assert(docs.map(_.url).toSet === urls)
    val pred = AlignJob.spans(aligned)

    def perPage(evalDifficult: Boolean): Seq[Seq[Any]] = {
      val gt = xmls.map { case (u, x) => u -> GtXml.sylBoxes(x, evalDifficult) }.toMap
      docs.toSeq.flatMap { d =>
        val spans = d.spans.map(c => graft.align.SylBox(c.syl, c.ulx, c.uly, c.lrx, c.lry)).toIndexedSeq
        EvalJob.docMeans(gt(d.url), spans).map { case (iou, rangeIou, n) => Seq(d.url, iou, rangeIou, n) }
      }.sortBy(_.head.toString)
    }
    def reference(evalDifficult: Boolean): Seq[Seq[Any]] =
      RelationalEval.evaluate(
          xmls.map { case (u, x) => RelationalEval.gtFrame(spark, u, x, evalDifficult) }.reduce(_ unionAll _),
          pred)
        .orderBy("url").collect().map(_.toSeq).toSeq

    for (evalDifficult <- Seq(false, true)) {
      val (typed, relational) = (perPage(evalDifficult), reference(evalDifficult))
      assert(typed === relational, s"evalDifficult=$evalDifficult")
      assert(typed.exists(_.head == PageGen.urlFor(3)) === evalDifficult,
        s"all-difficult page, evalDifficult=$evalDifficult")
    }
    // the query itself: the three fixture files, difficult boxes dropped
    val rows = graft.SparkEntry.queries("q_eval_gtxml")(spark, sf).collect().map(_.toSeq).toSeq
    assert(rows.map(_(3)) === Seq(23, 42, 30))
    assert(rows === reference(evalDifficult = false))
    aligned.unpersist()
  }

  test("EvalJob: a span set evaluated against itself scores IOU 1.0 everywhere") {
    import spark.implicits._
    val pages = AlignJob.synthPages(spark, sfDir).filter(_.url < PageGen.urlFor(40))
    val spans = AlignJob.spans(AlignJob.align(pages))
    spans.persist()
    val res = RelationalEval.evaluate(spans, spans)
    val rows = res.collect()
    assert(rows.length > 0)
    for (r <- rows) {
      assert(math.abs(r.getAs[Double]("mean_iou") - 1.0) < 1e-12, r.toString)
      assert(math.abs(r.getAs[Double]("mean_range_iou") - 1.0) < 1e-12, r.toString)
    }
    spans.unpersist()
  }

  test("EvalJob: noisy spans vs clean ground truth score in (0, 1]") {
    val q = graft.SparkEntry.queries("q_eval_alignment")
    val rows = q(spark, sfDir).limit(50).collect()
    assert(rows.length > 0)
    val means = rows.map(_.getAs[Double]("mean_range_iou"))
    assert(means.forall(m => m >= 0.0 && m <= 1.0))
    assert(means.sum / means.length > 0.5, s"alignment quality collapsed: ${means.sum / means.length}")
  }

  test("grid search: scores bounded, result sorted, strong params near-perfect") {
    import spark.implicits._
    val fixtures = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].orderBy("doc_id").take(2)
      .map { case (id, t) =>
        val tra = CleanText.clean(t); (tra, PageGen.noisyRender(tra, id))
      }.toSeq
    val res = EvalJob.gridSearch(spark, fixtures,
      matches = Seq(8), mismatches = Seq(-4),
      gapOpensX = Seq(-7), gapOpensY = Seq(-7, -2),
      gapExtendsX = Seq(-3), gapExtendsY = Seq(0, -3)).collect()
    assert(res.length === 4)
    val scores = res.map(_.getAs[Double]("mean_score"))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores.sorted sameElements scores, "not sorted ascending")
    // the grid contains the default scoring itself == the GT → exactly 1.0
    assert(scores.max === 1.0, s"default params must reproduce GT: ${scores.max}")
  }

  private def rmTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  test("resumable runner: kill between waves, rerun resumes only missing buckets") {
    import spark.implicits._
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_resume_test"
    rmTree(out)
    val pages = AlignJob.synthPages(spark, sfDir).filter(_.url < PageGen.urlFor(120))
    pages.persist()

    // first run dies after one wave (2 of 4 buckets committed)
    val first = ResumableAlignRunner.run(pages, out, nBuckets = 4, bucketsPerWave = 2, maxWaves = 1)
    assert(first.length === 2)
    assert(ResumableAlignRunner.committedBuckets(out) === first.toSet)

    // snapshot read mid-flight: only committed buckets are visible, and the
    // bucket filter prunes at the partition-directory level
    val snap = ResumableAlignRunner.readCommitted(spark, out)
    assert(snap.select("bucket").distinct().as[Int].collect().toSet === first.toSet)
    assert(snap.count() > 0)

    // resume: processes exactly the remaining buckets
    val second = ResumableAlignRunner.run(pages, out, nBuckets = 4, bucketsPerWave = 2)
    assert(second.length === 2)
    assert(first.toSet.intersect(second.toSet).isEmpty)
    assert(ResumableAlignRunner.committedBuckets(out) === (0 until 4).toSet)

    // a third run is a no-op
    assert(ResumableAlignRunner.run(pages, out, nBuckets = 4).isEmpty)

    // resumed output == single-shot output, row for row
    val resumed = spark.read.parquet(s"$out/spans")
      .selectExpr("concat_ws(':', url, seq, syl, ulx, uly, lrx, lry)")
      .as[String].collect().sorted
    val direct = AlignJob.spans(AlignJob.align(pages))
      .selectExpr("concat_ws(':', url, seq, syl, ulx, uly, lrx, lry)")
      .as[String].collect().sorted
    assert(resumed sameElements direct)
    pages.unpersist()
    rmTree(out)
  }
}
