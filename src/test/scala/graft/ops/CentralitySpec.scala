package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class CentralitySpec extends AnyFunSuite with BeforeAndAfterAll {

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

  // ---- pinned sketch primitives (cross-engine vectors) ----

  test("hash64 is the md5 head, big-endian (pinned vector)") {
    // python: int.from_bytes(hashlib.md5(b'abc').digest()[:8],'big')
    //         = 10376663631224000432 = signed -8070080442485551184
    assert(Centrality.hash64("abc") === -8070080442485551184L)
  }

  test("registerOf splits top-B index and leading-zero rank") {
    assert(Centrality.registerOf(Centrality.hash64("abc")) === ((36, 10)))
    // all-zero rest saturates the rank at 64-B+1
    assert(Centrality.registerOf(1L << 58) === ((1, 59)))
    assert(Centrality.registerOf(0L) === ((0, 59)))
  }

  test("estimate: all-zero registers -> 0 via linear counting") {
    assert(Centrality.estimate(new Array[Byte](Centrality.M)) === 0.0)
  }

  test("estimate: singleton ball is close to 1") {
    val e = Centrality.estimate(Centrality.initRegisters("https://a/"))
    assert(e > 0.9 && e < 1.2, s"singleton estimate $e")
  }

  // ---- exact kernel ----

  test("localExactHarmonic on a pinned chain + shortcut") {
    // a->b, b->c, a->c: d(a,b)=1, d(a,c)=1, d(b,c)=1
    val h = Centrality.localExactHarmonic(
      Array(("a", "b"), ("b", "c"), ("a", "c"))).toMap
    assert(h("a") === 0.0)
    assert(h("b") === 1.0)
    assert(h("c") === 2.0)
    // pure chain: a->b->c gives H(c) = 1 + 1/2
    val h2 = Centrality.localExactHarmonic(
      Array(("a", "b"), ("b", "c"))).toMap
    assert(h2("c") === 1.5)
  }

  test("localExactHarmonic ignores duplicate edges and handles cycles") {
    val h = Centrality.localExactHarmonic(
      Array(("a", "b"), ("a", "b"), ("b", "a"))).toMap
    assert(h("a") === 1.0 && h("b") === 1.0)
  }

  // ---- exact vs HyperBall on a DataFrame ----

  test("harmonicExact and harmonicHll agree within HLL tolerance") {
    import spark.implicits._
    // two chains joined into a diamond plus a sink hub
    val edges = Seq(
      ("u1", "u2"), ("u2", "u4"), ("u1", "u3"), ("u3", "u4"),
      ("u4", "u5"), ("u2", "u5"), ("u6", "u1"), ("u5", "u6"))
      .toDF("src", "dst")
    val exact = Centrality.harmonicExact(edges).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val hll = Centrality.harmonicHll(edges, iters = 8).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(exact.keySet === hll.keySet)
    for ((u, ex) <- exact) {
      val ap = hll(u)
      assert(math.abs(ap - ex) <= math.max(0.35, 0.3 * ex),
        s"$u: exact $ex vs hll $ap")
    }
  }

  test("harmonicExact fails loudly past the V*E work bound") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Centrality.harmonicExact(edges, maxBfsWork = 10L)
    }
    assert(e.getMessage.contains("work bound"))
  }

  test("localExactHits: hub/authority split on a bipartite-ish graph") {
    // hubs h1,h2 point at authorities a1,a2; a1 also gets h2's second vote
    val h = Centrality.localExactHits(
      Array(("h1", "a1"), ("h1", "a2"), ("h2", "a1")), iters = 30)
      .map(t => t._1 -> (t._2, t._3)).toMap
    val (a1a, a1h) = (h("a1")._1, h("a1")._2)
    val (h1a, h1h) = (h("h1")._1, h("h1")._2)
    assert(a1a > h("a2")._1) // a1 has more in-links than a2
    assert(a1h === 0.0)      // pure authority: no out-links
    assert(h1a === 0.0)      // pure hub: no in-links
    assert(h1h > h("h2")._2) // h1 points at both authorities
    // L2 norms are 1
    val an = h.values.map(v => v._1 * v._1).sum
    val hn = h.values.map(v => v._2 * v._2).sum
    assert(math.abs(an - 1.0) < 1e-12 && math.abs(hn - 1.0) < 1e-12)
  }

  test("lpa: two triangles joined by one bridge form two communities") {
    import spark.implicits._
    val edges = Seq(
      ("a1", "a2"), ("a2", "a3"), ("a3", "a1"), // triangle A
      ("b1", "b2"), ("b2", "b3"), ("b3", "b1"), // triangle B
      ("a1", "b1")) // bridge
      .toDF("src", "dst")
    val exact = Centrality.lpaExact(edges, iters = 10).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Set(exact("a1"), exact("a2"), exact("a3")).size === 1)
    assert(Set(exact("b1"), exact("b2"), exact("b3")).size === 1)
    // the distributed loop is BIT-identical (shared-golden contract)
    val dist = Centrality.lpa(edges, iters = 10).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === exact)
  }

  test("components: two islands resolve; distributed == exact") {
    import spark.implicits._
    val edges = Seq(
      ("a2", "a1"), ("a3", "a2"),           // chain island A
      ("b1", "b2"), ("b3", "b2"),           // star island B
      ("c1", "c1"))                         // self-loop singleton
      .toDF("src", "dst")
    val exact = Centrality.componentsExact(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(exact === Map(
      "a1" -> "a1", "a2" -> "a1", "a3" -> "a1",
      "b1" -> "b1", "b2" -> "b1", "b3" -> "b1",
      "c1" -> "c1"))
    val dist = Centrality.components(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === exact)
  }

  // ---- the loops' layout overrides stay off the caller's session ----

  import CentralitySpec.{AqeKey, PartKey}

  test("components: the caller's conf keeps its own AQE and partitions while the loop runs") {
    import spark.implicits._
    // a filter UDF reads the CALLER's conf each time the loop scans the
    // edges (local mode: the tasks share this JVM)
    CentralitySpec.caller = spark
    CentralitySpec.seen.clear()
    val probe = udf { (_: String) =>
      val c = CentralitySpec.caller.conf
      CentralitySpec.seen.add((c.get(AqeKey), c.get(PartKey)))
      true
    }
    val edges = Seq(("a2", "a1"), ("a3", "a2"), ("b1", "b2"), ("b3", "b2"))
      .toDF("src", "dst").filter(probe(col("src")))
    val dist = Centrality.components(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val exact = Centrality.componentsExact(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === exact)
    assert(!CentralitySpec.seen.isEmpty)
    assert(CentralitySpec.seen.asScala.toSet === Set(("true", "4")))
  }

  test("loopPartitions derives the count from the state; the loops clone no session and write no conf") {
    assert(Centrality.loopPartitions(0L) === 1)
    assert(Centrality.loopPartitions(1L) === 1)
    for (p <- Seq(1, 4)) assert(Centrality.loopPartitions(2000000L * p + 1) === p + 1)

    import spark.implicits._
    // a SQL execution tags its jobs with the id of the session it runs on,
    // so a session clone would show as a second id
    val sc = spark.sparkContext
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        Option(p.getProperty("spark.job.tags")).foreach(_.split(",").filter(_.nonEmpty).foreach(tags.add))
        if (p.getProperty("spark.jobGroup.id") == "centrality-end") ended.countDown()
      }
    }
    val edges = Seq(("a2", "a1"), ("a3", "a2"), ("b1", "b2"), ("b3", "b2"))
      .toDF("src", "dst")
    val conf = spark.conf.getAll
    sc.addSparkListener(listener)
    try {
      Centrality.components(edges).collect()
      Centrality.lpa(edges).collect()
      Centrality.harmonicHll(edges).collect()
      // a last job in a group of its own marks the end of the events
      sc.setJobGroup("centrality-end", "end marker")
      sc.parallelize(1 to 1).count()
      sc.clearJobGroup()
      assert(ended.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val uuid = org.apache.spark.sql.SessionId(spark)
    val sessionTags = tags.asScala.toSet
    assert(sessionTags.nonEmpty)
    assert(sessionTags.forall(_.contains(uuid)), sessionTags)
    assert(spark.conf.getAll === conf)
  }

  // ---- RDD rounds == the round's sequential definition ----

  import CentralitySpec.{randomGraph, simulateWcc}

  /** Pinned random graphs: string ids (two of them outside the BMP or
    * above U+E000, where code-point and UTF-16 order differ) and long ids.
    */
  private lazy val stringGraph: Seq[(String, String)] = {
    val ids = (0 until 40).map(i => s"v$i") ++ Seq("\uFF41z", "\uD83D\uDE00y")
    randomGraph(7, ids, 46)
  }
  private lazy val longGraph: Seq[(Long, Long)] = randomGraph(11, (0L until 42L).map(_ * 7L % 43L), 46)

  private def labelsOf[K](df: org.apache.spark.sql.DataFrame): Map[K, K] =
    df.collect().map(r => r.getAs[K](0) -> r.getAs[K](1)).toMap

  for (parts <- Seq(1, 4)) {
    test(s"componentLabels at caps 1-4 equals the sequential round, string and long ids, $parts partitions") {
      import spark.implicits._
      def check[K](graph: Seq[(K, K)], df: org.apache.spark.sql.DataFrame)(implicit ord: Ordering[K]): Unit = {
        val sims = (0 to 4).map(k => simulateWcc(graph, k))
        // the caps are discriminating: the labels still move in round 4
        assert(sims(3) != sims(4))
        for (k <- 1 to 4) {
          val (labels, converged) = Centrality.componentLabels(df, k, parts)
          assert(labelsOf[K](labels) === sims(k), s"cap $k")
          assert(converged === (sims(k) == sims(k - 1)), s"cap $k")
        }
      }
      check(stringGraph, stringGraph.toDF("src", "dst"))(graft.ops.Bpe.codePointOrder)
      check(longGraph, longGraph.toDF("src", "dst"))
    }

    test(s"lpa(edges, k) equals lpaExact(edges, k) at caps 1-4, $parts partitions") {
      import spark.implicits._
      val edges = stringGraph.toDF("src", "dst")
      for (k <- 1 to 4) {
        val exact = labelsOf[String](Centrality.lpaExact(edges, k))
        assert(labelsOf[String](Centrality.lpa(edges, k, parts)) === exact, s"cap $k")
      }
    }
  }

  test("harmonicHll's rounds give bit-identical doubles at 1 and 4 partitions") {
    import spark.implicits._
    val edges = stringGraph.toDF("src", "dst")
    def at(parts: Int): Map[String, (Double, Double)] = {
      val (state, _) = Centrality.harmonicLoop(edges, parts).run(4)
      state.collect().map { case (v, (_, est, h)) => v -> (h, est) }.toMap
    }
    assert(at(4) === at(1))
  }

  test("with a checkpoint dir set, the rounds checkpoint reliably and give the same results") {
    import spark.implicits._
    val edges = stringGraph.toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    def hll(): Map[String, (Double, Double)] = {
      val (state, _) = Centrality.harmonicLoop(edges, 4).run(4)
      // the final state maps the last round's output: a checkpoint file
      assert(state.dependencies.head.rdd.getCheckpointFile.isDefined ===
        spark.sparkContext.getCheckpointDir.isDefined)
      state.collect().map { case (v, (_, est, h)) => v -> (h, est) }.toMap
    }
    val local = hll()
    try org.apache.spark.CheckpointDirs.withDir(spark.sparkContext, dir.toString) {
      assert(hll() === local)
      val (labels, converged) = Centrality.componentLabels(edges, 50, 4)
      assert(converged)
      assert(labelsOf[String](labels) === labelsOf[String](Centrality.componentsExact(edges)))
      assert(labelsOf[String](Centrality.lpa(edges, 4, 4)) ===
        labelsOf[String](Centrality.lpaExact(edges, 4)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("components, lpa and harmonicHll leave no cached frame, persisted RDD or registry slot") {
    import spark.implicits._
    val edges = stringGraph.toDF("src", "dst")
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // the rounds' checkpoints (the final state among them) are freed by
    // the context cleaner when collected; anything else persisted is left over
    def cached = spark.sparkContext.getPersistentRDDs.values.filterNot(_.isCheckpointed)
    for ((name, loop) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "components" -> (() => Centrality.components(edges)),
        "lpa" -> (() => Centrality.lpa(edges)),
        "harmonicHll" -> (() => Centrality.harmonicHll(edges)))) {
      spark.catalog.clearCache()
      val registered = CacheRegistry.size
      val out = loop()
      assert(cacheManager.isEmpty, s"$name left frames cached")
      assert(cached.isEmpty, s"$name: " + cached.map(_.toDebugString).mkString("\n"))
      assert(CacheRegistry.size === registered, name)
      assert(out.count() === 42L, name)
    }
  }

  test("pagerank and the exact centralities leave no cached frame, persisted RDD or registry slot") {
    import spark.implicits._
    val edges = stringGraph.toDF("src", "dst")
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for ((name, op) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "pagerank" -> (() => LinkGraph.pagerank(edges)),
        "hitsExact" -> (() => Centrality.hitsExact(edges)),
        "harmonicExact" -> (() => Centrality.harmonicExact(edges)),
        "lpaExact" -> (() => Centrality.lpaExact(edges)),
        "componentsExact" -> (() => Centrality.componentsExact(edges)))) {
      spark.catalog.clearCache()
      val registered = CacheRegistry.size
      val before = persisted
      val out = op()
      assert(cacheManager.isEmpty, s"$name left frames cached")
      assert((persisted -- before).isEmpty, s"$name left RDDs persisted")
      assert(CacheRegistry.size === registered, name)
      assert(out.count() === 42L, name)
    }
  }

  test("harmonicHll reach_est approaches component size on a cycle") {
    import spark.implicits._
    val n = 6
    val edges = (0 until n).map(i => (s"v$i", s"v${(i + 1) % n}"))
      .toDF("src", "dst")
    val rows = Centrality.harmonicHll(edges, iters = 10).collect()
    for (r <- rows) {
      val est = r.getDouble(2)
      assert(est > n * 0.7 && est < n * 1.3, s"${r.getString(0)}: $est")
    }
  }
}

object CentralitySpec {
  val AqeKey = "spark.sql.adaptive.enabled"
  val PartKey = "spark.sql.shuffle.partitions"
  /** The session whose conf the probe UDF reads, and what it read. */
  @volatile var caller: SparkSession = _
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  /** `edges` draws of (src, dst) from `ids` with a pinned seed: repeated
    * and reciprocal pairs and self-loops stay in, and every id is an
    * endpoint (chained in a random order first, then random pairs).
    */
  def randomGraph[K](seed: Int, ids: Seq[K], edges: Int): Seq[(K, K)] = {
    val rnd = new scala.util.Random(seed)
    val order = rnd.shuffle(ids)
    // short random-order paths give chains several rounds deep
    val paths = order.grouped(7).flatMap(p => p.zip(p.tail)).toSeq
    paths ++ Seq.fill(edges - paths.size)((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
  }

  /** `k` rounds of WCC's round, one vertex at a time: the neighbour-min
    * over the distinct edges in both directions (own label included),
    * then one pointer jump, label' = nm(nm(v)).
    */
  def simulateWcc[K](edges: Seq[(K, K)], k: Int)(implicit ord: Ordering[K]): Map[K, K] = {
    val simple = edges.distinct
    val nbrs = (simple ++ simple.map(_.swap)).groupMap(_._1)(_._2)
    var labels = nbrs.keys.map(v => v -> v).toMap
    for (_ <- 1 to k) {
      val nm = labels.map { case (v, l) => v -> (l +: nbrs(v).map(labels)).min }
      labels = nm.map { case (v, l) => v -> nm(l) }
    }
    labels
  }
}
