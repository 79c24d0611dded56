package graft.ops

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

  test("distributed hits agrees with the exact path to float wobble") {
    import spark.implicits._
    val edges = Seq(
      ("u1", "u2"), ("u2", "u4"), ("u1", "u3"), ("u3", "u4"),
      ("u4", "u5"), ("u2", "u5"), ("u6", "u1"), ("u5", "u6"))
      .toDF("src", "dst")
    val exact = Centrality.hitsExact(edges, iters = 10).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val dist = Centrality.hits(edges, iters = 10).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(exact.keySet === dist.keySet)
    for ((u, (ea, eh)) <- exact) {
      assert(math.abs(dist(u)._1 - ea) < 1e-9, s"$u authority")
      assert(math.abs(dist(u)._2 - eh) < 1e-9, s"$u hub")
    }
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

  test("withLoopShuffleLayout: large state runs on the caller's session, small state on an AQE-off clone") {
    import spark.implicits._
    val edges = Seq(("a", "b")).toDF("src", "dst")
    // (ran on the caller's session, AQE, shuffle partitions) as the loop sees them
    def layoutFor(stateRows: Long): (Boolean, String, String) = {
      var seen: (Boolean, String, String) = null
      val out = Centrality.withLoopShuffleLayout(edges, stateRows) { e =>
        val s = e.sparkSession
        seen = (s eq spark, s.conf.get(AqeKey), s.conf.get(PartKey))
        e.select(col("src"))
      }
      assert(out.sparkSession eq spark)
      assert(out.as[String].collect().toSeq === Seq("a"))
      seen
    }
    val parallelism = spark.sparkContext.defaultParallelism
    assert(layoutFor(2000000L * parallelism) === ((true, "true", "4")))
    assert(layoutFor(1L) === ((false, "false", "1")))
    assert((spark.conf.get(AqeKey), spark.conf.get(PartKey)) === (("true", "4")))
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
}
