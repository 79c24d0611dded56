package graft.ops

import graft.align.ExtractHtml
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web link-graph construction and ranking — the crawl-quality signal a
  * Common-Crawl-scale curation pipeline computes alongside text quality
  * (Common Crawl itself publishes host-level link graphs + harmonic
  * centrality ranks; production corpora weight domains by them).
  *
  * Three layers, each independently verifiable:
  *   1. [[extractLinks]] — a deterministic `<a href>` parser over the raw
  *      HTML payload (attribute scan, tag-stripped + entity-decoded anchor
  *      text) — map-only over the page table;
  *   2. [[resolve]] — a pinned restricted URL resolver (absolute http(s),
  *      protocol-relative, path-absolute, relative with `.`/`..`
  *      normalization clamped at root, fragment strip, non-http scheme
  *      drop) — the full spec is mirrored clean-room in
  *      tools/oracle/graftpy.py, NOT shared code;
  *   3. graph aggregates ([[degrees]], [[anchorStats]], [[hostGraph]]) and
  *      iterative [[pagerank]] with dangling-mass redistribution.
  *
  * Cross-engine determinism of pagerank: the simple edge set is collected
  * under a hard cap and every per-vertex contribution sum folds in SORTED
  * source-url order, the dangling mass in sorted vertex order — so K
  * iterations of IEEE-double arithmetic are bit-identical to the Python
  * mirror regardless of partitioning.
  */
object LinkGraph {

  final case class RawLink(href: String, anchor: String, pos: Int)

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** ASCII-only lowercase (PINNED: `Character.toLowerCase`/`String
    * .toLowerCase` are Unicode-dependent — e.g. U+0130 maps differently in
    * Java and Python — so the cross-engine spec uses A-Z only).
    */
  @inline private def asciiLower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  private[ops] def asciiLower(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) { sb.append(asciiLower(s.charAt(i))); i += 1 }
    sb.toString
  }

  /** ASCII-case-insensitive indexOf (needle must be lowercase ASCII). */
  private def indexOfIc(s: String, needle: String, from: Int): Int = {
    var i = math.max(from, 0)
    val n = needle.length
    while (i + n <= s.length) {
      var j = 0
      while (j < n && asciiLower(s.charAt(i + j)) == needle.charAt(j)) j += 1
      if (j == n) return i
      i += 1
    }
    -1
  }

  /** Remove `<...>` tag spans (non-nested scan: '<' skips to the next '>',
    * an unclosed '<' drops the tail — malformed-input-safe, never throws).
    */
  private[ops] def stripTags(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        val gt = s.indexOf('>', i + 1)
        i = if (gt < 0) s.length else gt + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Collapse whitespace runs to single spaces and trim. */
  private[ops] def collapseWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWs(c)) { if (sb.length > 0) pendingSpace = true }
      else { if (pendingSpace) { sb.append(' '); pendingSpace = false }; sb.append(c) }
      i += 1
    }
    sb.toString
  }

  /** `href="..."` value inside one `<a ...>` open tag, or None (href-less
    * anchors — `<a name=..>` — are skipped, not errors). Quoted values
    * only (`"` or `'`); an unquoted or malformed href is skipped.
    */
  private def hrefOf(tag: String): Option[String] = {
    var from = 0
    while (true) {
      val h = indexOfIc(tag, "href", from)
      if (h < 0) return None
      // must be attribute-name position: preceded by whitespace
      if (h > 0 && isWs(tag.charAt(h - 1))) {
        var i = h + 4
        while (i < tag.length && isWs(tag.charAt(i))) i += 1
        if (i < tag.length && tag.charAt(i) == '=') {
          i += 1
          while (i < tag.length && isWs(tag.charAt(i))) i += 1
          if (i < tag.length && (tag.charAt(i) == '"' || tag.charAt(i) == '\'')) {
            val q = tag.charAt(i)
            val end = tag.indexOf(q, i + 1)
            if (end > i) return Some(tag.substring(i + 1, end))
          }
          return None
        }
      }
      from = h + 4
    }
    None
  }

  /** Deterministic `<a href>` scan: for each `<a ...href="v"...>inner</a>`
    * emit (entity-decoded v, tag-stripped entity-decoded whitespace-
    * collapsed inner, ordinal). Unterminated constructs drop the tail
    * (never throw); `<a` must be followed by whitespace or '>' so
    * `<abbr>`/`<aside>` don't match.
    */
  def extractLinks(html: String): IndexedSeq[RawLink] = {
    if (html == null) return IndexedSeq.empty
    val out = IndexedSeq.newBuilder[RawLink]
    var i = 0
    var pos = 0
    var done = false
    while (!done) {
      val a = indexOfIc(html, "<a", i)
      if (a < 0 || a + 2 >= html.length) done = true
      else if (!(isWs(html.charAt(a + 2)) || html.charAt(a + 2) == '>')) i = a + 2
      else {
        val gt = html.indexOf('>', a)
        if (gt < 0) done = true
        else hrefOf(html.substring(a, gt)) match {
          case None => i = gt + 1
          case Some(rawHref) =>
            val close = indexOfIc(html, "</a>", gt + 1)
            if (close < 0) done = true
            else {
              val inner = html.substring(gt + 1, close)
              out += RawLink(
                ExtractHtml.decodeEntities(rawHref.trim),
                collapseWs(ExtractHtml.decodeEntities(stripTags(inner))),
                pos)
              pos += 1
              i = close + 4
            }
        }
      }
    }
    out.result()
  }

  /** True iff s starts with an RFC-3986 scheme prefix (`[a-zA-Z]
    * [a-zA-Z0-9+.-]*:`) — used to DROP non-http(s) schemes (mailto:,
    * javascript:, ftp:, data:) rather than mis-resolve them as paths.
    */
  private def hasScheme(s: String): Boolean = {
    @inline def asciiLetter(c: Char) =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    if (s.isEmpty || !asciiLetter(s.charAt(0))) return false
    var i = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ':') return true
      if (!(asciiLetter(c) || (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.'))
        return false
      i += 1
    }
    false
  }

  private def stripFragment(s: String): String = {
    val h = s.indexOf('#')
    if (h < 0) s else s.substring(0, h)
  }

  /** Segment-normalize an absolute path (leading '/'): '.' dropped, '..'
    * pops (clamped at root), empty segments dropped. Query (from the first
    * '?') passes through untouched.
    */
  private def normPath(pathAndQuery: String): String = {
    val qi = pathAndQuery.indexOf('?')
    val (path, query) =
      if (qi < 0) (pathAndQuery, "")
      else (pathAndQuery.substring(0, qi), pathAndQuery.substring(qi))
    val stack = scala.collection.mutable.ArrayBuffer.empty[String]
    path.split("/", -1).foreach {
      case "" | "." => ()
      case ".."     => if (stack.nonEmpty) stack.remove(stack.length - 1)
      case seg      => stack += seg
    }
    "/" + stack.mkString("/") + query
  }

  /** Resolve one extracted href against its page url. Returns None for
    * non-http(s) schemes, pure-fragment links, and unparseable bases.
    * The output never carries a fragment and always has a normalized path.
    */
  def resolve(baseUrl: String, href: String): Option[String] = {
    if (href == null || baseUrl == null) return None
    val h = stripFragment(href.trim)
    if (h.isEmpty) return None // pure-fragment / empty → same-page, dropped
    val sep = baseUrl.indexOf("://")
    if (sep < 0) return None
    val scheme = asciiLower(baseUrl.substring(0, sep))
    val rest = baseUrl.substring(sep + 3)
    val slash = rest.indexOf('/')
    val host = if (slash < 0) rest else rest.substring(0, slash)
    val basePath = stripFragment(if (slash < 0) "/" else rest.substring(slash))
    val hl = asciiLower(h)
    if (hl.startsWith("http://") || hl.startsWith("https://")) {
      val s2 = h.indexOf("://")
      val r2 = h.substring(s2 + 3)
      val sl2 = r2.indexOf('/')
      if (sl2 < 0) Some(asciiLower(h.substring(0, s2)) + "://" + r2 + "/")
      else Some(asciiLower(h.substring(0, s2)) + "://" + r2.substring(0, sl2) +
        normPath(r2.substring(sl2)))
    } else if (h.startsWith("//")) {
      val r2 = h.substring(2)
      val sl2 = r2.indexOf('/')
      if (sl2 < 0) Some(scheme + "://" + r2 + "/")
      else Some(scheme + "://" + r2.substring(0, sl2) + normPath(r2.substring(sl2)))
    } else if (hasScheme(h)) {
      None
    } else if (h.startsWith("/")) {
      Some(scheme + "://" + host + normPath(h))
    } else {
      val dirEnd = basePath.lastIndexOf('/')
      val dir = if (dirEnd < 0) "/" else basePath.substring(0, dirEnd + 1)
      Some(scheme + "://" + host + normPath(dir + h))
    }
  }

  /** Host part of an absolute http(s) url ('' if unparseable). */
  private[ops] def hostOf(url: String): String = {
    val sep = url.indexOf("://")
    if (sep < 0) return ""
    val rest = url.substring(sep + 3)
    val slash = rest.indexOf('/')
    if (slash < 0) rest else rest.substring(0, slash)
  }

  /** Page table (url, html:binary) → edge list (src, dst, anchor, pos).
    * Map-only: parse + resolve per row, no shuffle; null url/html rows are
    * dropped (the repo-wide null-row convention — a crawl table always has
    * some). `pos` is the link's ordinal among the page's RESOLVED links.
    */
  def edges(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("url"), col("html"))
      .filter(col("url").isNotNull && col("html").isNotNull)
      .as[(String, Array[Byte])]
      .flatMap { case (url, html) =>
        val raw = extractLinks(new String(html, java.nio.charset.StandardCharsets.UTF_8))
        val resolved = raw.flatMap(l => resolve(url, l.href).map(d => (d, l.anchor)))
        resolved.zipWithIndex.map { case ((dst, anchor), p) => (url, dst, anchor, p) }
      }
      .toDF("src", "dst", "anchor", "pos")
  }

  /** Per-url out/in degree over the simple (deduplicated) graph edges are
    * NOT deduplicated here — degrees count links, matching the SQL oracle's
    * plain GROUP BY counts. One aggregation per side + one shuffle join on
    * url; at 10^12 edges both sides partial-aggregate map-side first.
    */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("url"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("url"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("url"), "full_outer")
      .select(col("url"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Per-target anchor-text profile (the signal web search + quality
    * models aggregate): link count, distinct-anchor count, and the sorted
    * anchor concatenation (sorted BEFORE concat — deterministic across
    * partitionings; ''-free anchors joined with " | ").
    *
    * Scale note: collect_list bounds a task by the hottest target's
    * in-degree; a production run caps it first (the count-first hot-key
    * discipline used by the LSH ops). `maxAnchors` enforces exactly that:
    * targets above the cap keep counts but get a NULL concat (documented
    * structural signal, never a truncated-but-plausible string).
    */
  def anchorStats(edges: DataFrame, maxAnchors: Int = 10000): DataFrame = {
    // count-first, list-second: the cap must bound the AGGREGATION's
    // memory, not just null the output — a collect_list in the same
    // aggregate would still buffer a hot target's 10^8 anchors in one
    // task before the when() hid them. Pass 1 counts (partial-aggregating,
    // bounded); pass 2 collect_lists ONLY the under-cap targets (each
    // list ≤ maxAnchors by construction, semi-join keeps hot targets out
    // of the buffering aggregate entirely).
    val anchored = edges.filter(col("anchor") =!= "")
      .select(col("dst"), col("anchor"))
    val counts = anchored.groupBy(col("dst"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("anchor")).as("n_uniq_anchors"))
    val under = counts.filter(col("n_links") <= maxAnchors).select(col("dst"))
    val lists = anchored
      .join(under, Seq("dst"), "left_semi")
      .groupBy(col("dst"))
      .agg(array_join(sort_array(collect_list(col("anchor"))), " | ")
        .as("anchors"))
    counts.join(lists, Seq("dst"), "left")
      .select(col("dst"), col("n_links"), col("n_uniq_anchors"),
        col("anchors"))
  }

  /** Host-level aggregated graph (Common Crawl publishes exactly this):
    * (src_host, dst_host, n_links, n_pages). Map-side host projection then
    * one partial-aggregating count — the 10^12-edge page graph collapses
    * to a ~10^7-host graph in a single shuffle.
    */
  def hostGraph(edges: DataFrame): DataFrame = {
    // codegen'd host projection (resolver output always carries a scheme):
    // strip the LEADING scheme with an anchored regex, then take
    // everything before the first '/'. NOT substring_index(c, "://", -1):
    // that splits on the LAST "://", so a dst whose QUERY embeds a url
    // ("/redirect?u=https://evil.com/p" — the resolver passes queries
    // through untouched) would mis-attribute the edge to the embedded
    // host, diverging from [[hostOf]] and the first-occurrence SQL oracle.
    def hostCol(c: org.apache.spark.sql.Column) =
      substring_index(
        regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://", ""), "/", 1)
    edges.select(hostCol(col("src")).as("src_host"),
        hostCol(col("dst")).as("dst_host"), col("src"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("src")).as("n_pages"))
  }

  /** PageRank with damping + dangling-mass redistribution over the simple
    * graph (parallel edges deduplicated; self-loops kept). Vertex set =
    * every url appearing as src or dst.
    *
    * The graph is collected through [[Centrality.collectBoundedEdges]],
    * the exact kernels' shared gate (past its 5M-edge cap the call fails
    * loudly), and K iterations run as a LOCAL pinned loop — per-vertex
    * inbound sums fold in sorted-src order and the dangling mass folds in
    * sorted-vertex order, so the result is bit-identical to the clean-room
    * Python mirror (graftpy.py lg_pagerank) at any parallelism. As in
    * [[Bpe.train]]'s local exact path, K driver-synchronized distributed
    * rounds over a bounded state are strictly worse than one collect + a
    * tight local loop.
    */
  def pagerank(edgesDf: DataFrame, iters: Int = 20, damping: Double = 0.85): DataFrame = {
    require(iters >= 0 && damping >= 0.0 && damping <= 1.0)
    val spark = edgesDf.sparkSession
    import spark.implicits._
    localExactPagerank(Centrality.collectBoundedEdges(edgesDf, "pagerank"), iters, damping)
      .toSeq.toDF("url", "rank")
  }

  /** The pagerank kernel: K damped iterations over a collected simple
    * edge set with EVERY addition in a pinned order (vertices and inbound
    * sources both sorted lexicographically) — bit-identical to
    * graftpy.py's lg_pagerank by construction. Urls here are ASCII
    * (resolver output), where JVM string order == Python code-point order;
    * supplementary-plane hosts would diverge (documented fixture bound).
    */
  private[ops] def localExactPagerank(
      pairs: Array[(String, String)],
      iters: Int,
      damping: Double): Array[(String, Double)] = {
    // inbound sources per vertex, sorted by src url (== sorted by src
    // index, since the vertex index is order-isomorphic to the sort)
    val (verts, inbound) = Centrality.sortedAdjacency(pairs, reverse = true)
    val n = verts.length
    if (n == 0) return Array.empty
    val nD = n.toDouble
    val base = (1.0 - damping) / nD
    val outDeg = new Array[Int](n)
    inbound.foreach(_.foreach(s => outDeg(s) += 1))
    var rank = Array.fill(n)(1.0 / nD)
    var round = 0
    while (round < iters) {
      var dm = 0.0
      var i = 0
      while (i < n) { if (outDeg(i) == 0) dm = dm + rank(i); i += 1 }
      val dmn = dm / nD
      val next = new Array[Double](n)
      i = 0
      while (i < n) {
        var c = 0.0
        inbound(i).foreach(s => c = c + rank(s) / outDeg(s).toDouble)
        next(i) = base + damping * (c + dmn)
        i += 1
      }
      rank = next
      round += 1
    }
    verts.zip(rank)
  }
}
