package graft.ops

import graft.pipeline.LinkGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LinkGraphSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  // ---- parser ----

  test("extractLinks: basic href + anchor, ordinal positions") {
    val html = """<p><a href="https://x.org/a">first</a> and
                 |<A HREF='https://x.org/b'>second one</A></p>""".stripMargin
    val ls = LinkGraph.extractLinks(html)
    assert(ls.map(l => (l.href, l.anchor, l.pos)) === Seq(
      ("https://x.org/a", "first", 0),
      ("https://x.org/b", "second one", 1)))
  }

  test("extractLinks: entity decode in href and anchor, tag strip, ws collapse") {
    val html = "<a href=\"/p?a=1&amp;b=2\">  hello <b>bold\n world</b> &amp; co </a>"
    val ls = LinkGraph.extractLinks(html)
    assert(ls.head.href === "/p?a=1&b=2")
    assert(ls.head.anchor === "hello bold world & co")
  }

  test("extractLinks: href-less anchors, unquoted hrefs, <abbr> are skipped") {
    val html = "<abbr>CC</abbr> <a name=\"x\">no href</a> " +
      "<a href=unquoted>nope</a> <a href=\"/ok\">yes</a>"
    val ls = LinkGraph.extractLinks(html)
    assert(ls.map(_.href) === Seq("/ok"))
    assert(ls.head.pos === 0) // ordinal counts EMITTED links only
  }

  test("extractLinks: unterminated tag/anchor drops the tail, never throws") {
    assert(LinkGraph.extractLinks("<a href=\"/x\">dangling") === IndexedSeq())
    assert(LinkGraph.extractLinks("<a href=\"/x\" no-gt") === IndexedSeq())
    assert(LinkGraph.extractLinks(null) === IndexedSeq())
  }

  // ---- resolver ----

  private val base = "https://site1.example.org/sec2/d/doc9.html"

  test("resolve: absolute http(s) kept, fragment stripped, path normalized") {
    assert(LinkGraph.resolve(base, "https://a.org/x/../y/./z.html#f")
      === Some("https://a.org/y/z.html"))
    assert(LinkGraph.resolve(base, "HTTP://A.org/p") === Some("http://A.org/p"))
  }

  test("resolve: path-absolute and relative against the base directory") {
    assert(LinkGraph.resolve(base, "/top/x.html")
      === Some("https://site1.example.org/top/x.html"))
    assert(LinkGraph.resolve(base, "x.html")
      === Some("https://site1.example.org/sec2/d/x.html"))
    assert(LinkGraph.resolve(base, "../d2/x.html")
      === Some("https://site1.example.org/sec2/d2/x.html"))
    // `..` past root clamps at root
    assert(LinkGraph.resolve(base, "../../../../x.html")
      === Some("https://site1.example.org/x.html"))
  }

  test("resolve: protocol-relative, non-http schemes, pure fragments") {
    assert(LinkGraph.resolve(base, "//other.org/p/q.html")
      === Some("https://other.org/p/q.html"))
    assert(LinkGraph.resolve(base, "//other.org") === Some("https://other.org/"))
    assert(LinkGraph.resolve(base, "mailto:a@b.c") === None)
    assert(LinkGraph.resolve(base, "javascript:void(0)") === None)
    assert(LinkGraph.resolve(base, "#top") === None)
    assert(LinkGraph.resolve(base, "") === None)
    // a colon later in a PATH segment is not a scheme (has a '/' before it)
    assert(LinkGraph.resolve(base, "a/b:c.html")
      === Some("https://site1.example.org/sec2/d/a/b:c.html"))
  }

  test("resolve: query survives, never path-normalized") {
    assert(LinkGraph.resolve(base, "/p/../q?x=../y#f")
      === Some("https://site1.example.org/q?x=../y"))
  }

  // ---- graph ops over a tiny fixed corpus ----

  private def tinyPages() = {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "one two three"),
      (2L, null.asInstanceOf[String]),
      (3L, "x"))
    val n = docs.length.toLong
    docs.map { case (id, t) =>
      (LinkGen.linkUrlFor(id),
        LinkGen.pageHtml(id, t, n).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }.toDF("url", "html")
  }

  test("edges: resolved links only, positions contiguous per page") {
    val e = LinkGraph.edges(tinyPages()).collect()
    assert(e.nonEmpty)
    // no mailto ever survives; every dst is absolute http(s)
    assert(e.forall(r => r.getString(1).startsWith("https://") ||
      r.getString(1).startsWith("http://")))
    val bySrc = e.groupBy(_.getString(0))
    bySrc.values.foreach { rows =>
      assert(rows.map(_.getInt(3)).sorted.toSeq === (0 until rows.length))
    }
  }

  test("degrees: out/in counts reconcile with the edge list") {
    val edges = LinkGraph.edges(tinyPages())
    val nEdges = edges.count()
    val d = LinkGraph.degrees(edges)
    val sums = d.agg(sum("out_deg"), sum("in_deg")).collect()(0)
    assert(sums.getLong(0) === nEdges)
    assert(sums.getLong(1) === nEdges)
  }

  test("anchorStats: sorted deterministic concat; cap nulls the concat only") {
    val edges = LinkGraph.edges(tinyPages())
    val a = LinkGraph.anchorStats(edges, maxAnchors = 10000).collect()
    a.foreach { r =>
      val parts = r.getString(3).split(" \\| ", -1)
      assert(parts.toSeq === parts.sorted.toSeq)
      assert(parts.length.toLong === r.getLong(1))
    }
    val capped = LinkGraph.anchorStats(edges, maxAnchors = 0).collect()
    assert(capped.forall(_.isNullAt(3))) // counts survive, concat is null
    assert(capped.map(r => (r.getString(0), r.getLong(1))).sorted ===
      a.map(r => (r.getString(0), r.getLong(1))).sorted)
  }

  test("hostGraph: host split on the FIRST ://, not one embedded in a query") {
    import spark.implicits._
    // the resolver passes queries through untouched, so a dst can embed a
    // full url after '?' — the edge must still attribute to the real host
    val edges = Seq(
      ("https://h.org/a.html",
        "https://h.org/redirect?u=https://evil.com/p", "x", 0))
      .toDF("src", "dst", "anchor", "pos")
    val g = LinkGraph.hostGraph(edges).collect()
    assert(g.length === 1)
    assert(g.head.getString(0) === "h.org")
    assert(g.head.getString(1) === "h.org") // NOT evil.com
  }

  test("pagerank: mass conserved, dangling redistributed, order-independent") {
    val edges = LinkGraph.edges(tinyPages())
    val pr = LinkGraph.pagerank(edges, iters = 10).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    val mass = pr.map(_._2).sum
    assert(math.abs(mass - 1.0) < 1e-9, s"rank mass $mass")
    // exact fold is parallelism-independent: 1-partition rerun bit-identical
    val pr1 = LinkGraph.pagerank(edges.coalesce(1), iters = 10).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    assert(pr.toSeq === pr1.toSeq)
  }

  test("pagerank: pure dangling sink still sums to 1 (hand graph)") {
    import spark.implicits._
    // a -> b, a -> c, b -> c; c dangling
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"))
      .toDF("src", "dst").withColumn("anchor", lit("")).withColumn("pos", lit(0))
    val pr = LinkGraph.pagerank(edges, iters = 50)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    assert(pr("c") > pr("b") && pr("b") > pr("a"))
  }

  test("null url/html rows are dropped, not fatal") {
    import spark.implicits._
    val pages = Seq(
      ("https://a.org/", "<a href=\"/x\">y</a>".getBytes("UTF-8")),
      (null.asInstanceOf[String], "<a href=\"/x\">y</a>".getBytes("UTF-8")),
      ("https://b.org/", null.asInstanceOf[Array[Byte]]))
      .toDF("url", "html")
    assert(LinkGraph.edges(pages).count() === 1L)
  }
}
