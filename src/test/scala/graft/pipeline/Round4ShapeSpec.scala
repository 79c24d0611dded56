package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 plan-shape assertions: the new curation operators must keep the
  * shapes their scale stories claim — broadcast-only domain scrub, a
  * hash-not-text shuffle for duplicate-span detection, Tungsten-sorted
  * struct arrays feeding the MEI serializer, and doc-partitioned (never
  * global) windows in span masking.
  */
class Round4ShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("q_domain_filter is a broadcast anti-join — the corpus side never shuffles") {
    val plan = planOf("q_domain_filter")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast left-anti:\n${plan.take(3000)}")
    // permitted hash exchanges: the (tiny) domain list's own distinct —
    // keyed on __domain only. The corpus (doc_id/url/text columns) must
    // never hash-shuffle for a blocklist scrub.
    val hashExchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    hashExchanges.foreach { l =>
      assert(l.contains("__domain") && !l.contains("doc_id") && !l.contains("url"),
        s"corpus-side hash shuffle in blocklist scrub: $l")
    }
  }

  test("q_dup_spans shuffles window hashes, never window text") {
    val plan = planOf("q_dup_spans")
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    exchanges.foreach { l =>
      assert(!l.contains("text") && !l.contains("win"),
        s"window text must never shuffle: $l")
    }
    // distinct-doc count partially aggregates before its shuffle
    assert(plan.contains("partial_count"),
      s"expected map-side partial count:\n${plan.take(3000)}")
  }

  test("q_mask_spans: every window is doc-partitioned (no global stage)") {
    val plan = planOf("q_mask_spans")
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, s"no Window in plan:\n${plan.take(3000)}")
    windowLines.foreach { l =>
      assert(l.contains("doc_id"), s"window not doc-partitioned: $l")
    }
  }

  test("q_latest_capture is a map-side-combining argmax, not a window sort") {
    val plan = planOf("q_latest_capture")
    assert(plan.contains("partial_max"),
      s"expected partial (map-side) max-struct aggregation:\n${plan.take(3000)}")
    assert(!plan.contains("Window ["),
      s"latest-capture must not shuffle+sort every capture through a window:\n${plan.take(3000)}")
  }

  test("q_mei_xml pre-sorts the struct array with sort_array (Tungsten, not UDF-side)") {
    // the executed-plan toString folds the projection into the aggregate's
    // result expressions, so assert on the optimized LOGICAL plan, where
    // expressions print expanded
    val plan = graft.SparkEntry.queries("q_mei_xml")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("sort_array"),
      s"serializer must receive a pre-sorted array:\n${plan.take(3000)}")
  }

  test("q_kn_perplexity and q_markdown sort a cached child: the kernel runs once") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    Seq("q_kn_perplexity", "q_markdown").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.inputPlan
          case p => p
        }
      val sorts = plan.collect { case s: SortExec if s.global => s }
      assert(sorts.size == 1, s"$name: expected one global sort:\n$plan")
      val leaves = sorts.head.child.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[InMemoryTableScanExec]),
        s"$name: the global sort must read only an InMemoryRelation:\n$plan")
    }
  }
}
