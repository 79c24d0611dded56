package graft.catalog

import graft.SparkEntry.{docs, writeFixtureRecord, httpWarcArchives, fanOut, scratchDir, drainStream}
import graft.catalog.Query.{GoldenDir, golden}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest: mojibake repair, main-content, Markdown and table extraction,
  * head metadata, charset sniffing, PDF and format routing, WARC/WET/WAT
  * and CDX over plain, gzip and HTTP archives, and feeds.
  */
object IngestQueries {

  /** WARC-archive fixture convention for q_warc_records (mirrored in
    * graftpy.py warc_archive): documents group into archives of ≤20 pages
    * (archive_id = doc_id / 20, pages in doc_id order); each record is
    * "WARC/1.0" + Type/Target-URI/Date/Content-Length headers + blank line
    * + the PageGen html payload + CRLF CRLF. Content-Length counts BYTES
    * (the ligature-bearing UTF-8 pages make bytes ≠ chars).
    */
  private def warcArchives(
      s: SparkSession, dir: String, gzip: Boolean = false): DataFrame = {
    import s.implicits._
    docs(s, dir).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)]
      .groupByKey(_._1 / 20L)
      .mapGroups { (aid: Long, it: Iterator[(Long, String, String)]) =>
        val pages = it.toArray.sortBy(_._1)
        val bos = new java.io.ByteArrayOutputStream()
        pages.foreach { case (id, t0, lang) =>
          val t = if (t0 == null) "" else t0 // null-text rows archive empty
          val page = graft.pipeline.PageGen.pageFor(id, t, lang)
          writeFixtureRecord(bos, gzip, "response", id, page.url, page.html)
        }
        (aid, bos.toByteArray)
      }.toDF("archive_id", "data")
  }

  /** The same archives in the `.warc.gz` member-per-record convention:
    * every record (header + payload + CRLF CRLF) compresses as its OWN
    * gzip member, members concatenated — the Common Crawl layout. The
    * compressed BYTES are engine-local (Java Deflater here, Python gzip
    * in the mirror — headers and deflate output differ); the pinned
    * surface is the member split + reassembled plain stream, which both
    * engines must reduce to the identical q_warc_records rows.
    */
  private def warcGzArchives(s: SparkSession, dir: String): DataFrame =
    warcArchives(s, dir, gzip = true)

  /** Same archive convention, but the payloads are the CharsetGen
    * mixed-encoding fixtures — q_warc_charset's full-ingest-head input
    * (Content-Length over utf-16 payload bytes binds the binary-safe
    * record split hard).
    */
  private def charsetArchives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 / 20L)
      .mapGroups { (aid: Long, it: Iterator[(Long, String)]) =>
        val ascii = java.nio.charset.StandardCharsets.US_ASCII
        val pages = it.toArray.sortBy(_._1)
        val bos = new java.io.ByteArrayOutputStream()
        pages.foreach { case (id, t) =>
          val payload = graft.pipeline.CharsetGen.payload(id, t)
          val date = java.time.Instant
            .ofEpochMilli(1767225600000L + id * 1000L).toString
          val header = s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: ${graft.pipeline.PageGen.urlFor(id)}\r\n" +
            s"WARC-Date: $date\r\n" +
            s"Content-Length: ${payload.length}\r\n\r\n"
          bos.write(header.getBytes(ascii))
          bos.write(payload)
          bos.write("\r\n\r\n".getBytes(ascii))
        }
        (aid, bos.toByteArray)
      }.toDF("archive_id", "data")
  }

  /** The HTTP archives in the .warc.gz member-per-record layout (each
    * record its own gzip member) — q_ingest_gz_http's input; must reduce
    * to exactly q_warc_http's rows.
    */
  private def httpWarcGzArchives(s: SparkSession, dir: String): DataFrame =
    httpWarcArchives(s, dir, gzip = true)

  /** Deterministic mojibake fixture synthesis for q_fix_encoding: every
    * 9th space-token is replaced by an accented word (señor's ñ=0xF1 is
    * itself UTF-8-lead-shaped, so the CLEAN accented text also binds the
    * strict-decode guard), then the doc is round-tripped
    * utf8-bytes→latin1-chars 0/1/2 times by id parity. Mirrored clean-room
    * in tools/oracle/graftpy.py (moj_corrupt) — shared convention,
    * independent engines.
    */
  private val AccentWords = Array("café", "naïve", "señor", "über", "résumé")

  private def mojibakeText(id: Long, t: String): String = {
    if (t == null) return null
    val toks = t.split(" ", -1)
    var i = 0
    while (i < toks.length) {
      if (i % 9 == 0 && toks(i).nonEmpty)
        toks(i) = AccentWords(((id + i) % 5).toInt)
      i += 1
    }
    var s = toks.mkString(" ")
    val passes = if (id % 10 == 0) 2 else if (id % 2 == 0) 1 else 0
    var p = 0
    while (p < passes) {
      s = new String(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      p += 1
    }
    s
  }

  /** Deterministic boilerplate-laden page for the main-content fixture:
    * the real text reflows into 12-token `<p>` paragraphs inside an
    * unlabeled content div, surrounded by chrome WITHOUT semantic tags —
    * a link menu div (binds the link-density kill), a link-dense long
    * "related" div on every 3rd doc (binds link-kill-over-long-keep), a
    * short stopword-dense note div with an entity on every 4th doc (binds
    * the stopword rescue + entity decode in the OUTPUT), a short cookie
    * div on every 5th doc and a footer (bind the default kill). Mirrored
    * token-for-token in gen_kernel_goldens.py.
    */
  private[graft] def boilerplateHtml(docId: Long, text: String): Array[Byte] = {
    val toks = Option(text).getOrElse("").split(" ").filter(_.nonEmpty)
    val paras = toks.grouped(12).map(_.mkString(" ")).toArray
    val sb = new java.lang.StringBuilder
    sb.append("<!DOCTYPE html><html><head><title>d").append(docId)
      .append("</title><script>var t=1;</script><style>.x{color:red}</style></head><body>")
    sb.append("<div class=\"menu\"><a href=\"/\">Home</a> <a href=\"/archive\">Archive</a> <a href=\"/tags\">Tags</a></div>")
    if (docId % 3 == 0)
      sb.append("<div class=\"related\"><a href=\"/r1\">related ")
        .append(if (paras.nonEmpty) paras(0) else "")
        .append("</a> <a href=\"/r2\">more links here</a></div>")
    sb.append("<div id=\"content\">")
    paras.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</div>")
    if (docId % 4 == 0)
      sb.append("<div class=\"note\">a note to all of the readers &amp; friends</div>")
    if (docId % 5 == 0)
      sb.append("<div class=\"cookie\">Accept cookies</div>")
    sb.append("<footer>&copy; 2026 example.org</footer></body></html>")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Deterministic STRUCTURED page for the Markdown/table fixtures:
    * headings, inline emphasis/links (with and without href), a nested
    * list on every 3rd doc, a nested blockquote on every 6th, a pre block
    * with pinned internal whitespace, a th-headed table (headerless on
    * every 4th doc — binds the separator rule), a second one-column table
    * on every even doc (binds table_idx), entities in heading/cell/tail,
    * an unknown `<span>` on every 5th doc (binds tag transparency).
    * Mirrored token-for-token in graftpy.py `mdx_structured_html`.
    */
  private[graft] def structuredHtml(docId: Long, text: String): Array[Byte] = {
    val toks = Option(text).getOrElse("").split(" ").filter(_.nonEmpty)
    def tk(i: Int): String = if (toks.isEmpty) "lorem" else toks((i % toks.length).toInt)
    val sb = new java.lang.StringBuilder
    sb.append("<!DOCTYPE html><html><head><title>d").append(docId)
      .append("</title><script>var x=1;</script></head><body>")
    sb.append("<h1>Doc ").append(docId).append("</h1>")
    sb.append("<p>").append(tk(0)).append(" <b>").append(tk(1)).append("</b> ")
      .append(tk(2)).append(" <i>").append(tk(3)).append("</i> &amp; <a href=\"/d/")
      .append(docId).append("\">").append(tk(4)).append(' ').append(tk(5))
      .append("</a> end.</p>")
    sb.append("<h2>Notes &amp; details</h2>")
    sb.append("<p>").append(tk(6)).append(' ').append(tk(7)).append("<br>")
      .append(tk(8)).append(" <code>").append(tk(9)).append("</code>")
    if (docId % 5 == 0)
      sb.append("<span class=\"z\"> extra ").append(tk(10)).append("</span>")
    sb.append("</p>")
    sb.append("<ul><li>").append(tk(11)).append("</li><li>").append(tk(12))
    if (docId % 3 == 0)
      sb.append("<ol><li>deep ").append(tk(13)).append("</li><li>deeper ")
        .append(tk(14)).append("</li></ol>")
    sb.append("</li><li>").append(tk(15)).append("</li></ul>")
    sb.append("<ol><li>").append(tk(16)).append("</li><li><a>").append(tk(17))
      .append("</a></li></ol>")
    sb.append("<blockquote><p>").append(tk(18)).append(' ').append(tk(19))
      .append(" quoted</p>")
    if (docId % 6 == 0)
      sb.append("<blockquote><p>inner ").append(tk(20)).append("</p></blockquote>")
    sb.append("</blockquote>")
    sb.append("<pre>\ncode line one  ").append(tk(21)).append("\n  indented ")
      .append(tk(22)).append("\n</pre>")
    sb.append("<table>")
    if (docId % 4 != 0)
      sb.append("<tr><th>Key</th><th>Value &amp; unit</th></tr>")
    sb.append("<tr><td>").append(tk(23)).append("</td><td>").append(tk(24))
      .append("</td></tr><tr><td>").append(tk(25)).append("</td><td><a href=\"/x/")
      .append(docId).append("\">").append(tk(26)).append("</a></td></tr></table>")
    if (docId % 2 == 0)
      sb.append("<table><tr><th>N</th></tr><tr><td>").append(docId)
        .append("</td></tr></table>")
    sb.append("<hr><p>tail ").append(tk(27)).append(" &#8212; done</p>")
    sb.append("</body></html>")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Deterministic feed document for the RSS/Atom fixture: even docs are
    * RSS 2.0 (text links, guid/pubDate), odd docs Atom (href-attribute
    * links incl. a single-quoted one, id/updated); every 3rd doc plants
    * a link-less entry (skipped), every doc a partial entry (nullable
    * columns bind), every 7th an unterminated block (damage stop).
    * Entities in titles bind the decode. Mirrored in graftpy `fd_xml_for`.
    */
  private[graft] def feedXml(docId: Long, text: String): String = {
    val toks = Option(text).getOrElse("").split(" ").filter(_.nonEmpty)
    def tk(i: Int): String = if (toks.isEmpty) "lorem" else toks((i % toks.length).toInt)
    val sb = new java.lang.StringBuilder
    if (docId % 2 == 0) {
      sb.append("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>")
        .append("<title>Feed ").append(docId).append("</title>")
      sb.append("<item><title>").append(tk(0)).append(" &amp; ").append(tk(1))
        .append("</title><link>https://ex.org/").append(docId)
        .append("/0</link><guid>g").append(docId)
        // floorMod: Scala % yields negative remainders where Python %
        // does not — embedded DIGITS must agree even for negative ids
        .append("-0</guid><pubDate>Mon, 0").append(java.lang.Math.floorMod(docId, 7L))
        .append(" Jan 2026</pubDate></item>")
      sb.append("<item><title>").append(tk(2)).append(" &#x2014; ").append(tk(3))
        .append("</title><link> https://ex.org/").append(docId)
        .append("/1 </link></item>")
      if (docId % 3 == 0)
        sb.append("<item><title>no link item</title></item>")
      sb.append("<item><link>https://ex.org/").append(docId)
        .append("/2</link></item>")
      if (docId % 7 == 0)
        sb.append("<item><title>unterminated")
      sb.append("</channel></rss>")
    } else {
      sb.append("<?xml version=\"1.0\"?><feed xmlns=\"http://www.w3.org/2005/Atom\">")
        .append("<title>Feed ").append(docId).append("</title>")
      sb.append("<entry><title>").append(tk(0)).append(" &amp; ").append(tk(1))
        .append("</title><link href=\"https://ex.org/").append(docId)
        .append("/a\"/><id>tag:").append(docId)
        .append(":a</id><updated>2026-01-0")
        .append(java.lang.Math.floorMod(docId, 9L) + 1)
        .append("</updated></entry>")
      sb.append("<entry><title>").append(tk(2))
        .append("</title><link rel=\"alternate\" href='https://ex.org/")
        .append(docId).append("/b'/></entry>")
      if (docId % 3 == 0)
        sb.append("<entry><title>no link</title></entry>")
      sb.append("<entry><link href=\"https://ex.org/").append(docId)
        .append("/c\"/></entry>")
      if (docId % 7 == 0)
        sb.append("<entry><title>unterminated")
      sb.append("</feed>")
    }
    sb.toString
  }

  val all: Seq[Query] = Seq(
    // ---- mojibake repair (ftfy-lite): every 9th token becomes an
    //      accented word, even docs are corrupted utf8→latin1 once,
    //      doc_id%10 twice (binds the two-pass repair); odd docs keep
    //      clean accents (binds the strict-decode guard: untouched) ----
    Query("q_fix_encoding") { (s, dir) =>
      import s.implicits._
      val corrupted = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, t) => (id, mojibakeText(id, t)) }
        .toDF("doc_id", "text")
      graft.ops.Mojibake.fix(corrupted).orderBy(col("doc_id"))
    },

    // ---- density-based main-content extraction (jusText-simplified):
    //      block segmentation + link/stopword-density rules remove chrome
    //      divs that carry NO semantic tag (the tag-name path q_extract_text
    //      can't see). Map-only per-row kernel; golden is the clean-room
    //      Python mirror ----
    Query("q_main_content") { (s, dir) =>
      import s.implicits._
      fanOut(s, docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
        .map { case (id, text) =>
          val e = graft.align.MainContent.extract(boilerplateHtml(id, text))
          (id, e.content, e.nBlocks, e.nKept, e.removedChars)
        }.toDF("doc_id", "content", "n_blocks", "n_kept", "removed_chars")
        .orderBy(col("doc_id"))
    },

    // ---- HTML→Markdown structured extraction (FineWeb/Dolma-style):
    //      headings/lists/tables/blockquotes/pre survive as Markdown
    //      structure instead of flattening to a char stream. Map-only
    //      per-row kernel over the structured fixture; golden is the
    //      clean-room Python mirror (graftpy.mdx_convert) ----
    Query("q_markdown") { (s, dir) =>
      import s.implicits._
      fanOut(s, docs(s, dir).select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .map { case (id, text) =>
          val c = graft.align.Markdown.convert(structuredHtml(id, text))
          (id, c.markdown, c.nBlocks)
        }.toDF("doc_id", "markdown", "n_blocks")
        .orderBy(col("doc_id"))
    },

    // ---- streaming form of q_markdown (SHARED golden, anti-drift: the
    //      same Markdown.convert kernel per micro-batch) ----
    Query("q_markdown_stream", golden("q_markdown")) { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir(s, "markdown_stream")
      docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, structuredHtml(id, t)) }
        .toDF("doc_id", "html")
        .write.parquet(s"$tmp/pages")
      drainStream(s, tmp)(c =>
        graft.streaming.StreamingJobs.markdownStream(c, s"$tmp/pages"))
        .orderBy(col("doc_id"))
    },

    // ---- HTML table extraction: every <table> flattened to typed
    //      (table, row, col, header, cell) rows — the structured-data
    //      harvest step of a training pipeline. Same single parse as
    //      q_markdown (one kernel, two consumers) ----
    Query("q_html_tables") { (s, dir) =>
      import s.implicits._
      fanOut(s, docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.align.Markdown.convert(structuredHtml(id, text)).tables
            .map(c => (id, c.tableIdx, c.rowIdx, c.colIdx, c.isHeader, c.text))
        }.toDF("doc_id", "table_idx", "row_idx", "col_idx", "is_header", "cell")
        .orderBy(col("doc_id"), col("table_idx"), col("row_idx"), col("col_idx"))
    },

    // ---- head-metadata extraction (title / description / og:title /
    //      canonical / lang) over the MetaGen fixture — map-only parse,
    //      canonical resolved through the SAME restricted resolver as the
    //      link graph; parser + fixture mirrored clean-room ----
    Query("q_html_meta") { (s, dir) =>
      import s.implicits._
      val pages = fanOut(s, docs(s, dir).select(col("doc_id"), col("text")))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String)]
        .map { case (id, t) =>
          (graft.pipeline.PageGen.urlFor(id),
            graft.pipeline.MetaGen.pageHtml(id, t)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }.toDF("url", "html")
      graft.ops.HtmlMeta.headMeta(pages).orderBy(col("url"))
    },

    // ---- charset sniff + decode (WHATWG-subset: BOM, meta charset,
    //      http-equiv content-type, label mapping) over the CharsetGen
    //      mixed-encoding fixture — the ingest step between raw crawl
    //      bytes and every text op; mirrored clean-room ----
    Query("q_charset") { (s, dir) =>
      import s.implicits._
      val payloads = fanOut(s, docs(s, dir).select(col("doc_id"), col("text")))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String)]
        .map { case (id, t) =>
          (id, graft.pipeline.CharsetGen.payload(id, t))
        }.toDF("doc_id", "payload")
      graft.ops.CharsetSniff.sniffDecode(payloads).orderBy(col("doc_id"))
    },

    // ---- PDF text extraction (the north rule's "PDF/layout parse"
    //      input next to HTML): literal/hex strings with full escape
    //      handling, TJ kerning word-gaps, Td/TD/T* layout newlines,
    //      FlateDecode streams via zlib — map-only, never throws,
    //      mirrored clean-room over the PdfGen fixture ----
    Query("q_pdf_text") { (s, dir) =>
      import s.implicits._
      val payloads = fanOut(s, docs(s, dir).select(col("doc_id"), col("text")))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String)]
        .map { case (id, t) =>
          (id, graft.pipeline.PdfGen.pdfBytes(id, t))
        }.toDF("doc_id", "pdf")
      graft.ops.Pdf.pdfText(payloads).orderBy(col("doc_id"))
    },

    // ---- format-dispatch extraction: magic-byte routing between the
    //      PDF extractor and charset-sniff→HTML extraction in ONE map
    //      pass — the ingest dispatch a mixed crawl runs (odd ids carry
    //      PDF payloads, even ids mixed-encoding HTML) ----
    Query("q_extract_route") { (s, dir) =>
      import s.implicits._
      val payloads = fanOut(s, docs(s, dir).select(col("doc_id"), col("text")))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String)]
        .map { case (id, t) =>
          val b =
            if (java.lang.Math.floorMod(id, 2L) == 1L)
              graft.pipeline.PdfGen.pdfBytes(id, t)
            else graft.pipeline.CharsetGen.payload(id, t)
          (id, b)
        }.toDF("doc_id", "payload")
      graft.ops.Pdf.extractAny(payloads).orderBy(col("doc_id"))
    },

    // ---- WARC archive → record split → page-text extraction (the
    //      archive-ingest head of the extraction pipeline; parser
    //      mirrored clean-room over the shared archive convention) ----
    Query("q_warc_records")((s, dir) =>
      graft.ops.Warc.records(warcArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- the same records through the .warc.gz member-per-record path
    //      (Common Crawl layout): gzip member split (RFC 1952 headers,
    //      verified trailers) → plain-stream reassembly → record parse.
    //      Oracle golden is generated through the mirror's own gz path
    //      and must equal q_warc_records' rows exactly ----
    // generated through the mirror's own gzip-member path; row-equal to
    // q_warc_records by construction (the generator asserts it)
    Query("q_warc_gz")((s, dir) =>
      graft.ops.Warc.recordsGz(warcGzArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- CDX index generation (the crawl-index artifact that makes a
    //      petabyte of archives random-accessible): SURT urlkey, SHA-1
    //      base32 payload digest, and the (offset, length) byte span
    //      whose sum seeks to the next record ----
    Query("q_cdx")((s, dir) =>
      graft.ops.Warc.cdx(warcArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- CDX over .warc.gz with COMPRESSED member spans — the form the
    //      real crawl index takes (readers seek + inflate one member).
    //      Input is the COMMITTED python-gzipped binary fixture, so this
    //      row cross-verifies the gz codecs at the byte level: the JVM
    //      inflates CPython-compressed members and must agree on spans,
    //      digests, and urlkeys ----
    // shared-input fixture row: both engines read the committed
    // python-gzipped blobs, so spans/digests are engine-independent
    Query("q_cdx_gz")((s, dir) =>
      graft.ops.Warc.cdxGz(
        s.read.parquet(s"$GoldenDir/fx_warc_gz.parquet"))
        .orderBy(col("archive_id"), col("rec_offset"), col("uri"))),

    // ---- the FULL gz ingest composition: .warc.gz member split →
    //      record parse → response filter → HTTP head parse →
    //      transport-charset decode. Shares q_warc_http's golden
    //      VERBATIM (anti-drift: the gz path must change nothing) ----
    // the gz ingest composition must change NOTHING vs the plain path:
    // shares q_warc_http's golden verbatim (anti-drift)
    Query("q_ingest_gz_http", golden("q_warc_http"))((s, dir) =>
      graft.ops.Warc.recordsHttpGz(httpWarcGzArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- WET generation (the extracted-text distribution format):
    //      record split + extraction + conversion-record serialization
    //      in one map pass; the digest + byte length pin the full
    //      serialized output cross-engine ----
    Query("q_wet")((s, dir) =>
      graft.ops.Warc.wet(warcArchives(s, dir))
        .orderBy(col("archive_id"))),

    // ---- WAT metadata sidecar (completes the WARC/WET/WAT triple):
    //      links + head metadata serialized as the pinned JSON envelope
    //      subset, one map pass per archive, digest-pinned bytes ----
    Query("q_wat")((s, dir) =>
      graft.ops.Warc.wat(warcArchives(s, dir))
        .orderBy(col("archive_id"))),

    // ---- CDX over the HTTP archives: natural duplicate-digest classes
    //      (identical 404 bodies, empty 301 bodies, identical revisit
    //      payloads) — the input table for the digest dedup below ----
    Query("q_cdx_http")((s, dir) =>
      graft.ops.Warc.cdx(httpWarcArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- write-time revisit dedup: per payload digest the earliest
    //      capture is the original, later ones point at it (min-struct
    //      argmin + join back — no per-digest window sort). Oracle:
    //      DuckDB windows over the COMMITTED q_cdx_http golden ----
    Query("q_cdx_dedup",
      // revisit dedup recomputed by DuckDB windows over the committed
      // q_cdx_http golden — an independent engine over the same input
      s"""WITH c AS (SELECT * FROM '$GoldenDir/q_cdx_http.parquet'),
         |r AS (SELECT *,
         |  first_value(archive_id) OVER w AS orig_archive_id,
         |  first_value(rec_offset) OVER w AS orig_rec_offset
         |  FROM c WINDOW w AS (PARTITION BY digest
         |    ORDER BY archive_id, rec_offset))
         |SELECT archive_id, urlkey, uri, warc_date, digest, rec_offset,
         |  rec_length,
         |  (archive_id = orig_archive_id AND rec_offset = orig_rec_offset)
         |    AS is_original,
         |  orig_archive_id, orig_rec_offset
         |FROM r"""
        .stripMargin.replace("\n", " "))((s, dir) =>
      graft.ops.Warc.cdxDedup(graft.ops.Warc.cdx(httpWarcArchives(s, dir)))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- HTTP-wrapped response payloads (the real crawl record shape):
    //      record-type filter (request/revisit records dropped), status
    //      line + Content-Type parse, and transport-charset decode in
    //      WHATWG precedence — incl. a pinned transport-vs-meta conflict
    //      row and a raw non-http fallback row ----
    Query("q_warc_http")((s, dir) =>
      graft.ops.Warc.recordsHttp(httpWarcArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- full ingest-head composition: archive bytes → record split →
    //      charset sniff + decode (mixed-encoding payloads; utf-16
    //      Content-Lengths bind the binary-safe split) ----
    Query("q_warc_charset")((s, dir) =>
      graft.ops.Warc.recordsDecoded(charsetArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- streaming ingest head: the SAME Warc.recordsDecoded kernel per
    //      micro-batch (shared code, shared golden — the anti-drift
    //      contract used by q_decontam_stream) ----
    // stream and batch share ONE golden — any drift between the streaming
    // micro-batch path and the batch kernel fails this row
    Query("q_ingest_stream", golden("q_warc_charset")) { (s, dir) =>
      val tmp = scratchDir(s, "ingest_stream")
      charsetArchives(s, dir).write.parquet(s"$tmp/archives")
      drainStream(s, tmp)(c =>
        graft.streaming.StreamingJobs.ingestStream(c, s"$tmp/archives"))
        .orderBy(col("archive_id"), col("rec_offset"))
    },

    // ---- RSS/Atom feed parsing (the freshness-side ingest XML next to
    //      sitemaps): map-only total parser over the feed fixture ----
    Query("q_feeds") { (s, dir) =>
      import s.implicits._
      val feeds = docs(s, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String)]
        .map { case (id, t) =>
          (s"https://feeds.example.org/f$id.xml", feedXml(id, t))
        }
        .toDF("feed_url", "feed_xml")
      graft.ops.Feeds.parse(feeds).orderBy(col("feed_url"), col("seq"))
    }
  )
}
