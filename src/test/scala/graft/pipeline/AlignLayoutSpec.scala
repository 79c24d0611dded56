package graft.pipeline

import graft.align.NeedlemanWunsch
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A heavy-tailed page set: page k holds the midpoint of the k-th of
  * `Count` equal slices of the log range MinChars–MaxChars, filled with the
  * sf0.01 document texts in doc_id order. Both sides of the full-matrix
  * threshold are present, and the longest page costs ~50× the shortest.
  */
object HeavyTailPages {
  val Count = 16
  val MinChars = 500
  val MaxChars = 20000

  def chars(k: Int): Int = {
    val (lo, hi) = (math.log(MinChars), math.log(MaxChars))
    math.exp(lo + (hi - lo) * (k + 0.5) / Count).toInt
  }

  def apply(spark: SparkSession): Dataset[Page] = {
    import spark.implicits._
    val texts = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .orderBy("doc_id").select("text").as[String].collect()
    var next = 0
    val pages = (0 until Count).map { k =>
      val sb = new java.lang.StringBuilder
      while (sb.length < chars(k)) {
        if (sb.length > 0) sb.append(' ')
        sb.append(texts(next % texts.length))
        next += 1
      }
      PageGen.pageFor(2000000L + k, sb.substring(0, chars(k)).trim, "en")
    }
    pages.toDS()
  }
}

/** The kernel's cost model and the cost-balanced partition layout. */
class AlignLayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** (transcript, noisy stream) of exactly `n` and `m` chars from one text. */
  private def pair(n: Int, m: Int): (String, String) = {
    val text = ("dominus vobiscum et cum spiritu tuo sursum corda habemus ad " +
      "dominum gratias agamus domino deo nostro dignum et iustum est ") * 120
    (text.take(n), PageGen.noisyRender(text, 7).take(m))
  }

  test("estimateCells equals cellsFilled on full-matrix pages") {
    for ((n, m) <- Seq((0, 0), (0, 9), (9, 0), (1, 1), (37, 41), (600, 520), (1999, 7999), (3999, 3999))) {
      val (t, o) = pair(n, m)
      assert(NeedlemanWunsch.usesFullMatrix(n, m), s"$n×$m")
      assert(NeedlemanWunsch.alignChars(t, o).cellsFilled === NeedlemanWunsch.estimateCells(n, m),
        s"$n×$m")
    }
  }

  test("alignChars and estimateCells share the full-vs-banded predicate") {
    // (3999, 3999) and (1999, 7999) sit exactly on the 16 M-cell threshold
    for ((n, m, full) <- Seq((3999, 3999, true), (4000, 4000, false), (1999, 7999, true),
        (2000, 7999, false), (4400, 4400, false))) {
      val (t, o) = pair(n, m)
      val est = NeedlemanWunsch.estimateCells(n, m)
      assert(NeedlemanWunsch.usesFullMatrix(n, m) === full, s"$n×$m")
      assert((est == n.toLong * m) === full, s"$n×$m")
      if (n == m) {
        // similar square pages: the banded path accepts at the third band,
        // so the estimate is exact up to the band's clipping at the corners
        val r = NeedlemanWunsch.alignChars(t, o)
        assert((r.bandUsed == 0) === full, s"$n×$m")
        if (!full) {
          assert(r.bandUsed === NeedlemanWunsch.DefaultInitialBand << NeedlemanWunsch.AgreementStreak)
          assert(r.cellsFilled <= est && r.cellsFilled >= 0.95 * est, s"${r.cellsFilled} vs $est")
        }
      }
    }
  }

  test("layout: the heaviest partition's DP cells stay within 10% of the ideal") {
    import spark.implicits._
    val k = 4
    val rows = AlignJob.metrics(AlignJob.align(HeavyTailPages(spark), saltPartitions = k))
      .select("partition_id", "cells_filled").as[(Int, Long)].collect()
    assert(rows.length === HeavyTailPages.Count)
    val total = rows.map(_._2).sum
    val ideal = math.max(total.toDouble / k, rows.map(_._2).max.toDouble)
    val bins = rows.groupMapReduce(_._1)(_._2)(_ + _)
    assert(bins.values.max <= 1.10 * ideal,
      s"bins ${bins.toSeq.sorted.mkString(" ")}; total $total, ideal $ideal")
  }

  test("layout: repeated urls share one partition; null text takes the hash") {
    import spark.implicits._
    val heavy = HeavyTailPages(spark)
    val blank = Seq(PageGen.pageFor(2000100L, "x", "en").copy(text = null, html = null)).toDS()
    val rows = AlignJob.metrics(AlignJob.align(heavy.union(heavy).union(blank), saltPartitions = 4))
      .select("url", "partition_id").as[(String, Int)].collect()
    assert(rows.length === 2 * HeavyTailPages.Count + 1)
    assert(rows.groupMap(_._1)(_._2).values.forall(_.distinct.length == 1))
  }
}
