package graft

import graft.catalog.Query
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The query catalog's structure: every name is unique across the
  * families, `queries` and `oracleSql` cover the same names, and each name
  * keeps the oracle it had when the catalog was split into families
  * (`catalog_oracles.tsv`, the repo dir written as `${REPO_DIR}`,
  * backslash, newline, CR and tab escaped). One case plans a query on a
  * Spark session: `queries` runs the plan its builder wrote.
  */
class CatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("167 query names, unique across the families") {
    val names = SparkEntry.catalog.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate names: ${dups.toSeq.sorted.mkString(", ")}")
    assert(names.size == 167)
  }

  test("the oracle keys equal the query keys") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("every (name, oracle) pair equals the committed snapshot") {
    def esc(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c => c.toString
    }
    val actual = SparkEntry.catalog.sortBy(_.name).map { q =>
      q.name + "\t" + esc(q.oracle.replace(Query.RepoDir, "${REPO_DIR}"))
    }
    val src = scala.io.Source.fromResource("catalog_oracles.tsv", getClass.getClassLoader)
    val expected = try src.getLines().toVector finally src.close()
    val missing = expected.diff(actual)
    val extra = actual.diff(expected)
    assert(missing.isEmpty && extra.isEmpty,
      s"\nsnapshot lines not produced:\n${missing.mkString("\n")}" +
        s"\nproduced lines not in the snapshot:\n${extra.mkString("\n")}")
  }

  test("a query runs its builder's plan: nothing registered, no conf written, " +
    "the final sort over an aggregate reads no cache") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val registered = graft.ops.CacheRegistry.size
    // q_langid: lang_id per document, counted per (lang, predicted), sorted
    val df = SparkEntry.queries("q_langid")(spark, "perfbench/data/sf0.01")
    assert(graft.ops.CacheRegistry.size === registered)
    // the registry count alone can miss a registration (a full FIFO evicts
    // one entry per new one), so look the sort child up in the cache
    val sortChild = df.queryExecution.analyzed.collectFirst {
      case s: Sort if s.global => s.child
    }.get
    assert(session.sharedState.cacheManager.lookupCachedData(session, sortChild).isEmpty,
      s"the sort child is cached:\n$sortChild")
    // getAll holds the values set on the session, not the defaults
    assert(spark.conf.getAll.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning").isEmpty)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val sorts = plan.collect { case s: SortExec if s.global => s }
    assert(sorts.size == 1, s"expected one global sort:\n$plan")
    assert(sorts.head.child.collect { case c: InMemoryTableScanExec => c }.isEmpty,
      s"the global sort must read its builder's plan, not a cache:\n$plan")
    assert(df.count() > 0)
  }
}
