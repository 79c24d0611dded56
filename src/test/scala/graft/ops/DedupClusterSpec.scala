package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Near-dup cluster resolution (pairs → connected components → canonical
  * survivors): correctness on multi-hop components, fixpoint detection, the
  * refinement contract when the iteration cap binds, and survivor filtering.
  */
class DedupClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def clustersOf(pairs: Seq[(Long, Long)], maxIters: Int = 20): Map[Long, Long] = {
    import spark.implicits._
    Dedup.nearDupClusters(pairs.toDF("doc_a", "doc_b"), maxIters)
      .as[(Long, Long)].collect().toMap
  }

  test("chain component needs multi-round propagation and converges to min") {
    // path 10-11-12-13-14-15: diameter 5, labels walk one hop per round
    val pairs = (10L until 15L).map(i => (i, i + 1))
    val got = clustersOf(pairs)
    assert(got === (10L to 15L).map(_ -> 10L).toMap)
  }

  test("disjoint components keep their own canonicals; edge order irrelevant") {
    val pairs = Seq((5L, 3L), (100L, 101L), (101L, 99L), (7L, 3L))
    val got = clustersOf(pairs)
    assert(got === Map(3L -> 3L, 5L -> 3L, 7L -> 3L,
      99L -> 99L, 100L -> 99L, 101L -> 99L))
  }

  test("empty pair set yields an empty cluster table") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.nearDupClusters(empty).count() === 0L)
  }

  test("iteration cap yields a valid refinement (connected groups, possibly split)") {
    // chain of 8 with maxIters=2: not converged, but every emitted group must
    // still be internally connected and each member must point at a smaller
    // or equal id that is genuinely in its component
    val pairs = (0L until 7L).map(i => (i, i + 1))
    val got = clustersOf(pairs, maxIters = 2)
    assert(got.keySet === (0L to 7L).toSet)
    got.foreach { case (doc, canon) =>
      assert(canon <= doc, s"canonical $canon above member $doc")
    }
    assert(got(0L) === 0L)
  }

  test("pointer jumping resolves a 64-id increasing path well inside the cap") {
    // one-hop propagation would need 63 rounds (id 63 still at 53 after
    // 10); each pointer jump doubles the distance a label has travelled,
    // so the fixpoint lands in 7 rounds
    val pairs = (0L until 63L).map(i => (i, i + 1))
    val got = clustersOf(pairs, maxIters = 10)
    assert(got === (0L to 63L).map(_ -> 0L).toMap)
  }

  test("a call leaves no loop frame cached: only checkpoints stay persisted") {
    import spark.implicits._
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // cached frames only: the rounds' local checkpoints (the label table
    // among them) are freed by the context cleaner when collected, so
    // their count depends on GC timing
    def cached = spark.sparkContext.getPersistentRDDs.values.filterNot(_.isCheckpointed)
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // start from an empty cache: a frame the call leaves cached then shows
    // as an entry, however many the earlier cases left registered
    spark.catalog.clearCache()
    val registered = CacheRegistry.size
    val got = Dedup.nearDupClusters(pairs, maxIters = 10)
    assert(cacheManager.isEmpty, "the call left frames cached")
    assert(cached.isEmpty, cached.map(_.toDebugString).mkString("\n"))
    assert(CacheRegistry.size === registered)
    assert(got.count() === 64L)
  }

  test("survivors = untouched docs + one canonical per component") {
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 4L), (4L, 7L), (2L, 9L)).toDF("doc_a", "doc_b")
    val survivors = Dedup.dedupSurvivors(docs, Dedup.nearDupClusters(pairs))
      .select(col("doc_id")).as[Long].collect().toSet
    // {1,4,7} -> 1 survives; {2,9} -> 2 survives; 0,3,5,6,8 untouched
    assert(survivors === Set(0L, 1L, 2L, 3L, 5L, 6L, 8L))
  }

  test("scale shape: result plan is lineage-truncated (checkpointed labels, " +
    "no re-execution of the pair-producing plan; edges never collected)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.nearDupClusters(pairs)
    // every leaf of the optimized plan must be a checkpointed-RDD scan —
    // the upstream pair plan (at scale: the full minhash+simhash pipelines)
    // is gone from the lineage, so no consumer action can re-trigger it,
    // and the loop's only driver-side read is its convergence check, a
    // scan of each round's checkpointed `__chg` column
    val leaves = got.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty)
    leaves.foreach { l =>
      assert(l.getClass.getSimpleName === "LogicalRDD",
        s"non-truncated leaf in cluster plan: ${l.getClass.getName}")
    }
  }

  test("survivor table keeps the full document row (text intact)") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val pairs = Seq((2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupSurvivors(docs, Dedup.nearDupClusters(pairs))
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "b")))
  }
}
