package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 plan-shape assertions (VERDICT r2 #8): the hot queries must keep
  * the shapes the perf fixes established — cached signature/span passes
  * consumed from InMemoryTableScan on every side, the forced
  * boundary-exchange lag with no single-partition window, and an XML
  * evaluation that scores each page in its kernel task (no GT shuffle).
  */
class Round3ShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def planOf(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q_simhash_dedup consumes the cached signature pass on both join sides") {
    val plan = planOf("q_simhash_dedup")
    val scans = "InMemoryTableScan".r.findAllIn(plan).length
    assert(scans >= 2, s"expected >=2 InMemoryTableScans (cached sigs), got $scans:\n${plan.take(3000)}")
  }

  test("q_minhash_dedup consumes the cached signature pass on both join sides") {
    val plan = planOf("q_minhash_dedup")
    val scans = "InMemoryTableScan".r.findAllIn(plan).length
    assert(scans >= 2, s"expected >=2 InMemoryTableScans (cached sigs), got $scans:\n${plan.take(3000)}")
    assert(!plan.contains("collect_list"),
      s"bucket id arrays must not be materialized:\n${plan.take(3000)}")
  }

  test("q_mei_assign runs the alignment kernel once (cached spans on both consumers)") {
    val plan = planOf("q_mei_assign")
    val scans = "InMemoryTableScan".r.findAllIn(plan).length
    assert(scans >= 2, s"expected >=2 InMemoryTableScans (cached spans), got $scans:\n${plan.take(3000)}")
  }

  test("q_folio_text_scaled takes the boundary-exchange path: every window is bucket-partitioned") {
    val plan = planOf("q_folio_text_scaled")
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty, s"no Window in plan:\n${plan.take(3000)}")
    windowLines.foreach { l =>
      assert(l.contains("__bkt"), s"unpartitioned window in plan: $l")
    }
  }

  test("inverted index: stopword-grade term keeps df, drops posting list; plan partial-aggregates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // "the" in every doc (hot key), "rare7" in one
    val docsDf = (1L to 50L).map(i => (i, s"the word$i rare${i % 10} the"))
      .toDF("doc_id", "text")
    val idx = graft.ops.TextOps.invertedIndex(docsDf, maxPostings = 20)
    val rows = idx.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), Option(r.getString(2))))).toMap
    assert(rows("the") === ((50L, None)), "hot term must keep df and drop postings")
    assert(rows("rare7") === ((5L, Some("7 17 27 37 47"))))
    assert(rows("word3")._1 === 1L)
    // the df aggregation must partial-combine map-side (count-first guard)
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), plan.take(2000))
  }

  test("q_eval_gtxml never shuffles the ground-truth side") {
    // no join, no window, and no exchange but the final sort's
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    // the executed adaptive plan, with the exchanges inside its query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val df = graft.SparkEntry.queries("q_eval_gtxml")(spark, sfDir)
    df.collect()
    val all = nodes(df.queryExecution.executedPlan)
    val joins = all.map(_.nodeName).filter(_.contains("Join"))
    val windows = all.map(_.nodeName).filter(_.contains("Window"))
    val otherExchanges = all.collect {
      case e: Exchange if !(e.isInstanceOf[ShuffleExchangeExec] &&
          e.outputPartitioning.isInstanceOf[RangePartitioning]) => e.nodeName
    }
    assert(joins.isEmpty && windows.isEmpty && otherExchanges.isEmpty,
      s"joins $joins, windows $windows, exchanges $otherExchanges:\n${df.queryExecution.executedPlan}")
  }
}
