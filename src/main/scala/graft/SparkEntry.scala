package graft

import graft.align.{CleanText, Syllabify}
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.pipeline.{AlignJob, EvalJob, Functions, GtXml, MeiAssign, PageGen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract — see /root/repo/SURVEY.md §7 + FIXTURES.md §8.
  *
  * Every SQL-expressible operator has a `queries` entry AND an `oracleSql`
  * entry (DuckDB parity); kernel operators (alignment, syllabification,
  * hashes) have `queries` entries only and are verified by the golden /
  * differential / property suites.
  */
object SparkEntry {

  /** Repo checkout root for committed fixtures/goldens (the driver runs from
    * this sandbox path; overridable for other checkouts).
    */
  private val RepoDir: String = sys.env.getOrElse("GRAFT_REPO_DIR", "/root/repo")

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** WARC-archive fixture convention for q_warc_records (mirrored in
    * graftpy.py warc_archive): documents group into archives of ≤20 pages
    * (archive_id = doc_id / 20, pages in doc_id order); each record is
    * "WARC/1.0" + Type/Target-URI/Date/Content-Length headers + blank line
    * + the PageGen html payload + CRLF CRLF. Content-Length counts BYTES
    * (the ligature-bearing UTF-8 pages make bytes ≠ chars).
    */
  /** Shared WARC fixture-record serializer (ONE copy of the pinned
    * header shape for all four archive builders — review r6; the python
    * mirrors pin the same bytes). gzip=true wraps THIS record as its own
    * gzip member; the GZIPOutputStream is close()d per record through a
    * non-closing wrapper, so the member trailer is written AND the
    * Deflater's native buffers release deterministically while the
    * shared buffer stays open.
    */
  private def writeFixtureRecord(
      bos: java.io.ByteArrayOutputStream,
      gzip: Boolean,
      recType: String,
      id: Long,
      url: String,
      payload: Array[Byte]): Unit = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val date = java.time.Instant
      .ofEpochMilli(1767225600000L + id * 1000L).toString
    val header = s"WARC/1.0\r\nWARC-Type: $recType\r\n" +
      s"WARC-Target-URI: $url\r\nWARC-Date: $date\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n"
    val out: java.io.OutputStream =
      if (!gzip) bos
      else new java.util.zip.GZIPOutputStream(
        new java.io.FilterOutputStream(bos) {
          override def write(b: Array[Byte], off: Int, len: Int): Unit =
            bos.write(b, off, len)
          override def close(): Unit = () // keep the shared buffer open
        })
    out.write(header.getBytes(ascii))
    out.write(payload)
    out.write("\r\n\r\n".getBytes(ascii))
    out match {
      case gz: java.util.zip.GZIPOutputStream => gz.close()
      case _ => ()
    }
  }

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

  /** Sentence-casing fixture convention for q_sentences (mirrored in
    * graftpy.py sent_fixture — the corpus text is flat lowercase, so the
    * splitter needs sentence shape synthesized): tokens are grouped into
    * sentences of 4 + mix(id*97 + j) % 9 tokens, each capitalized and
    * terminated cycling ". " / "! " / "? " / ". "; every 4th sentence
    * embeds "Dr. <Cap>" (abbreviation guard), every 7th "J. <Cap>"
    * (initial guard), every 5th a mid-sentence "3.14" (decimal
    * non-boundary).
    */
  private def sentenceizeText(id: Long, t: String): String = {
    if (t == null) return null
    val toks = t.split(" ").filter(_.nonEmpty)
    if (toks.isEmpty) return ""
    def capFirst(w: String): String =
      if (w.nonEmpty && w.charAt(0) >= 'a' && w.charAt(0) <= 'z')
        ((w.charAt(0) - 32).toChar +: w.tail.toSeq).mkString
      else w
    val terms = Array(". ", "! ", "? ", ". ")
    val sb = new StringBuilder(t.length + 64)
    var i = 0
    var j = 0
    while (i < toks.length) {
      val len = (4 + java.lang.Math.floorMod(
        graft.ops.TextOps.mix(id * 97L + j), 9L)).toInt
      val sent = scala.collection.mutable.ArrayBuffer.empty[String]
      var c = 0
      while (c < len && i < toks.length) { sent += toks(i); i += 1; c += 1 }
      sent(0) = capFirst(sent(0))
      if (j % 4 == 1 && sent.length >= 2) {
        sent.insert(1, "Dr."); sent(2) = capFirst(sent(2))
      } else if (j % 7 == 2 && sent.length >= 2) {
        sent.insert(1, "J."); sent(2) = capFirst(sent(2))
      } else if (j % 5 == 3 && sent.length >= 2) {
        sent.insert(1, "3.14")
      }
      sb ++= sent.mkString(" ")
      sb ++= (if (i >= toks.length) terms(j % 4).trim else terms(j % 4))
      j += 1
    }
    sb.toString
  }

  /** BM25 query-workload fixture convention (mirrored in graftpy.py
    * bm25_queries): every 25th doc queries with its first 3 DISTINCT
    * ≥5-char space tokens in appearance order; docs yielding no such
    * token contribute no query.
    */
  private def bm25Queries(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .filter(col("doc_id").isNotNull && col("doc_id") % 25 === 0 &&
        col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        t.split(" ").iterator.filter(w => w.length >= 5)
          .foreach(w => if (seen.size < 3) seen += w)
        seen.iterator.zipWithIndex.map { case (w, p) => (id, w, p) }
      }.toDF("query_id", "term", "term_pos")
  }

  /** LinkGen fixture table (url, html): one link page per document. The
    * target modulus is the corpus size — a fixture constant computed once
    * per query (mirrored as len(docs) in graftpy.py).
    */
  private def linkPages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull)
    val n = d.count()
    d.as[(Long, String)].map { case (id, t) =>
      (graft.pipeline.LinkGen.linkUrlFor(id),
        graft.pipeline.LinkGen.pageHtml(id, t, n)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }.toDF("url", "html")
  }

  /** The RobotsGen fixture as a (host, robots_txt) table — 12 tiny rows
    * (host 11 publishes none; its urls take the allowed-by-default path).
    */
  private def robotsTable(s: SparkSession): DataFrame = {
    import s.implicits._
    graft.pipeline.RobotsGen.rows.toDF("host", "robots_txt")
  }

  private def sitemapTable(s: SparkSession): DataFrame = {
    import s.implicits._
    graft.pipeline.SitemapGen.rows.toDF("host", "sitemap_xml")
  }

  /** q_blocklist's phrase fixture (mirrored literally in graftpy
    * BL_PHRASES): 1/2/3-token phrases over the corpus vocabulary, an
    * uppercase form binding the ASCII fold, and a never-matching tail.
    */
  private val BlocklistPhrases: Seq[String] = Seq(
    "slow", "big data", "hash join", "sort merge group",
    "SPARK", "never matches anything")

  /** HTTP-payload archives (the real crawl record shape): per page an
    * optional request record (id%5==0), the response (HttpGen payload:
    * status/Content-Type variety incl. a transport-vs-meta charset
    * conflict and a raw non-http fallback), and an optional revisit
    * record (id%9==2) — recordsHttp must keep responses only.
    */
  private def httpWarcArchives(
      s: SparkSession, dir: String, gzip: Boolean = false): DataFrame = {
    import s.implicits._
    docs(s, dir).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 / 20L)
      .mapGroups { (aid: Long, it: Iterator[(Long, String)]) =>
        val pages = it.toArray.sortBy(_._1)
        val bos = new java.io.ByteArrayOutputStream()
        def rec(recType: String, id: Long, payload: Array[Byte]): Unit =
          writeFixtureRecord(bos, gzip, recType, id,
            graft.pipeline.PageGen.urlFor(id), payload)
        pages.foreach { case (id, t) =>
          if (id % 5 == 0) rec("request", id,
            graft.pipeline.HttpGen.requestPayload(id))
          rec("response", id,
            graft.pipeline.HttpGen.responsePayload(id, t))
          if (id % 9 == 2) rec("revisit", id,
            graft.pipeline.HttpGen.revisitPayload(id))
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

  /** Link-edge table shared by the link-graph and crawl queries: each
    * would otherwise re-synthesize and re-parse every page (the
    * typed-lambda plans are never `sameResult`-equal, so the
    * CacheRegistry's plan dedupe can't share them).
    */
  private def linkEdgesFor(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persisted(s, "link_edges", dir)(
      graft.ops.LinkGraph.edges(linkPages(s, dir)))

  /** Fan a below-core-parallelism frame out to the session's cores
    * (optimization round 7): the fixture parquet is ONE unsplittable row
    * group, so every scan is a single task and a per-row kernel map stage
    * runs serially on one core. The partition-count guard keeps this a
    * no-op at production scale, where inputs arrive as thousands of row
    * groups — the repartition only fires when the scan is narrower than
    * the machine (guide §2.5 input skew: "one huge unsplittable file …
    * repartition immediately after the read").
    */
  private def fanOut(s: SparkSession, df: DataFrame): DataFrame = {
    val n = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** Persist a kernel-output frame that feeds a global sort (optimization
    * round 7): `orderBy` computes its child TWICE — once for the range
    * partitioner's sample pass and once for the exchange — so an expensive
    * per-row kernel above it doubles. Registered through the bounded
    * CacheRegistry like every other internal persist.
    */
  private def cacheForSort(df: DataFrame): DataFrame =
    graft.ops.CacheRegistry.register(
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Salted aligned table shared by the five alignment consumers
    * (q_align_spans, q_align_metrics, q_doc_json, q_mei_assign, q_mei_xml):
    * `align()` creates fresh accumulators per call, so every call's typed
    * plan is unique and neither the CacheManager nor CacheRegistry's plan
    * dedupe can share kernel output across calls — without the memo every
    * consumer pass re-runs the full kernel. The flagship bench leg times
    * `AlignJob.align` directly and never touches this memo.
    */
  private def alignedFor(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persisted(s, "aligned", dir)(
      AlignJob.align(AlignJob.synthPages(s, dir),
        saltPartitions = s.sparkContext.defaultParallelism).toDF())

  private def rmTree(p: String): Unit = {
    val path = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(path)) {
      val walk = java.nio.file.Files.walk(path)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }
  }

  /** Fresh per-run scratch dir for the file-roundtrip and streaming
    * batch-equivalence queries (a stale checkpoint would make a stream skip
    * the re-written input). Also garbage-collects this query's scratch dirs
    * left by PREVIOUS sessions — they are keyed by applicationId, so no
    * later run would ever reuse (or clean) them and /tmp would grow without
    * bound across sessions. The GC is conservative: only dirs whose NEWEST
    * recursive mtime is ≥ 24 h old (so a running session's live dir is
    * never touched, however long it runs — its sink/checkpoint writes keep
    * refreshing files inside), and every deletion failure is skipped (a
    * foreign undeletable dir must not fail THIS query).
    */
  /** Newest mtime anywhere in the tree — a live streaming session writes
    * into SUBdirectories without refreshing the top dir's mtime, so only a
    * recursive maximum can certify staleness.
    */
  private def newestMtime(p: java.nio.file.Path): Long = {
    val walk = java.nio.file.Files.walk(p)
    try walk.mapToLong(_.toFile.lastModified()).max().orElse(0L)
    finally walk.close()
  }

  private def scratchDir(s: SparkSession, name: String): String = {
    val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val own = s"graft_${name}_${s.sparkContext.applicationId}"
    val staleBefore = System.currentTimeMillis() - 24L * 3600 * 1000
    val listing = java.nio.file.Files.list(base)
    try listing
      .filter { p =>
        val fn = p.getFileName.toString
        fn.startsWith(s"graft_${name}_") &&
          (fn == own ||
            (try newestMtime(p) < staleBefore catch { case _: Exception => false }))
      }
      .forEach(p => try rmTree(p.toString) catch { case _: Exception => () })
    finally listing.close()
    s"$base/$own"
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: synthesize
    * pages from documents, run the alignment kernel, emit per-url spans.
    */
  def entry(spark: SparkSession): DataFrame = {
    Functions.register(spark)
    AlignJob.spans(AlignJob.align(
      AlignJob.synthPages(spark, "/root/testdata/sf0.001"),
      saltPartitions = spark.sparkContext.defaultParallelism))
  }

  /** Documents plus deterministic mutated near-duplicates (every 10th doc) —
    * the planted-dup corpus for the dedup operators. SQL-reproducible for
    * exact dedup; the near-dup variants are kernel-verified.
    */
  private def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.unionAll(
      d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val mutated = d.filter(col("doc_id") % 10 === 0).as[(Long, String)]
      .map { case (id, text) =>
        // light deterministic mutation: drop every 37th token
        val toks = text.split(" ")
        val kept = toks.iterator.zipWithIndex
          .filter { case (_, i) => (i + id) % 37 != 0 }.map(_._1)
        (id + 1000000L, kept.mkString(" "))
      }.toDF("doc_id", "text")
    // NOT fanned out (optimization round 7): consumers re-scan this frame
    // several times (signature pass, Jaccard text join-back), so a
    // repartition here is re-paid per scan — measured net regression
    d.unionAll(mutated)
  }

  /** Near-dup cluster table shared by q_dedup_clusters and
    * q_dedup_survivors: `Dedup.nearDupClusters` returns a projection of an
    * eagerly CHECKPOINTED label table, whose plan is a fresh LogicalRDD
    * every call — CacheRegistry's plan-identity dedupe cannot see through
    * it, so without the memo each consumer would re-run the full
    * minhash+simhash pair pipelines. Not persisted: the checkpointed blocks
    * it pins are label-table-sized (pairs, not corpus).
    */
  private def nearDupClustersFor(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, "near_dup_clusters", dir) {
      val corpus = docsWithNearDups(s, dir)
      val pairs = Dedup.minhashNearDups(corpus, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"))
        .unionAll(Dedup.simhashNearDups(corpus, keyChunks = 2)
          .select(col("doc_a"), col("doc_b")))
      Dedup.nearDupClusters(pairs)
    }

  /** Trained unigram vocabulary for q_unigram_encode, collected into a
    * local frame (q_unigram_train still calls the op directly: it IS the
    * row under test).
    */
  private def trainedUnigramFor(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, "unigram", dir) {
      val rows = graft.ops.Unigram.train(docs(s, dir)).collect().toSeq
      import s.implicits._
      rows.map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toDF("rank", "piece", "count", "lnprob")
    }

  /** Exact harmonic centrality shared by q_harmonic and q_crawl_budget:
    * the bounded local BFS is deterministic, so its collected rows are
    * memoized and turned back into a frame on each call.
    */
  private def harmonicFor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SessionMemo(s, "harmonic", dir)(
      graft.ops.Centrality.harmonicExact(linkEdgesFor(s, dir))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq)
      .toDF("url", "harmonic")
  }

  /** Trained WordPiece model for q_wordpiece_encode. */
  private def trainedWordpieceFor(s: SparkSession, dir: String): graft.ops.Wordpiece.Model =
    SessionMemo(s, "wordpiece", dir)(
      graft.ops.Wordpiece.model(docs(s, dir), numMerges = 10, minSymCount = 2L))

  /** Trained BPE merge list shared by q_bpe_encode, q_tokenizer_pipeline
    * and q_pipeline: `Bpe.train` dispatches small vocabs to the
    * exact incremental local path (one word-frequency job + collect) whose
    * result is 10 immutable rows (q_bpe_train itself still calls the op
    * directly: it IS the row under test).
    */
  private def trainedMergesFor(s: SparkSession, dir: String): Seq[(String, String)] =
    SessionMemo(s, "bpe_merges", dir)(
      graft.ops.Bpe.train(docs(s, dir), numMerges = 10)
        .orderBy(col("merge_rank"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Deterministic url synthesis for the domain ops: the corpus table has
    * no url column, so derive one from source + doc_id (subdomain rotates
    * www/cdn/apex so host extraction is exercised on all three shapes).
    * Mirrored in the SQL oracle and gen_kernel_goldens.py.
    */
  private def docsWithUrls(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("url",
      concat(lit("https://"),
        when(col("doc_id") % 3 === 0, lit("www."))
          .when(col("doc_id") % 3 === 1, lit("cdn."))
          .otherwise(lit("")),
        col("source"), lit("-site.org/p/"), col("doc_id").cast("string")))

  /** The synthetic eval corpus for the decontamination rows — every 17th
    * doc, lightly mutated (drop every 41st token) and re-identified
    * +9000000. ONE definition shared by q_minhash_join, q_decontam_drop
    * and q_decontam_stream: the batch and stream rows share one golden
    * verbatim as their anti-drift mechanism, which only binds if the
    * FIXTURE cannot drift either. Mirrored in gen_kernel_goldens.py.
    */
  private def decontamEvalCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 17 === 0).as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.split(" ")
        val kept = toks.iterator.zipWithIndex
          .filter { case (_, i) => (i + id) % 41 != 0 }.map(_._1)
        (id + 9000000L, kept.mkString(" "))
      }.toDF("doc_id", "text")
  }

  /** International variant for the domain ops: the TLD rotates across a
    * single-label TLD, three multi-label public suffixes (.co.uk, .com.au,
    * .ac.jp), a WILDCARD suffix (.xx.ck under the PSL rule `*.ck` — the
    * registered domain keeps the site label) and an EXCEPTION suffix
    * (.www.ck under `!www.ck` — every such host collapses to the single
    * registered domain www.ck), so all three PSL rule kinds are BOUND by
    * the oracle rows (VERDICT r4 missing #1, r5 missing #1). A naive
    * last-two-labels extraction mis-keys 4/6 of this fixture; the plain
    * alternation without wildcard/exception support mis-keys 2/6.
    * Mirrored in the SQL oracles and gen_kernel_goldens.py.
    */
  private def docsWithIntlUrls(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("url",
      concat(lit("https://"),
        when(col("doc_id") % 3 === 0, lit("www."))
          .when(col("doc_id") % 3 === 1, lit("cdn."))
          .otherwise(lit("")),
        col("source"), lit("-site"),
        when(col("doc_id") % 6 === 0, lit(".org"))
          .when(col("doc_id") % 6 === 1, lit(".co.uk"))
          .when(col("doc_id") % 6 === 2, lit(".com.au"))
          .when(col("doc_id") % 6 === 3, lit(".ac.jp"))
          .when(col("doc_id") % 6 === 4, lit(".xx.ck"))
          .otherwise(lit(".www.ck")),
        lit("/p/"), col("doc_id").cast("string")))

  /** Deterministic line/paragraph structure for the repetition fixture: the
    * synthetic corpus has no newlines, so reflow each doc into 6-token
    * lines and 3-line paragraphs, then PLANT duplicates (every 4th line
    * repeats its predecessor, every 5th paragraph repeats its predecessor)
    * so `dup_line_char_frac` / `dup_para_char_frac` have non-vacuous values
    * the oracle can disagree with. Mirrored token-for-token in
    * gen_kernel_goldens.py.
    */
  private[graft] def reflowForRepetition(text: String): String = {
    if (text == null) return ""
    val toks = text.split(" ").filter(_.nonEmpty)
    val lines0 = toks.grouped(6).map(_.mkString(" ")).toArray
    val lines = lines0.zipWithIndex.map { case (l, i) =>
      if (i % 4 == 3) lines0(i - 1) else l
    }
    val paras0 = lines.grouped(3).map(_.mkString("\n")).toArray
    val paras = paras0.zipWithIndex.map { case (p, i) =>
      if (i % 5 == 4) paras0(i - 1) else p
    }
    paras.mkString("\n\n")
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

  /** Deterministic script transliteration for the script-mix fixture:
    * the synthetic corpus is ASCII-only, so every third token (by
    * (tokenIdx + docId) % 3) of a non-en doc transliterates its ASCII
    * letters into the lang's script block — zh→Han, es→Cyrillic,
    * de→Greek (25-letter block), fr→Arabic; en unchanged. Mirrored
    * token-for-token in graftpy.py `sc_text`.
    */
  private[graft] def scriptText(docId: Long, lang: String, text: String): String = {
    val (base, span) = lang match {
      case "zh" => (0x4E00, 26)
      case "es" => (0x0430, 26)
      case "de" => (0x03B1, 25)
      case "fr" => (0x0627, 26)
      case _ => (0, 0)
    }
    val t = Option(text).getOrElse("")
    if (base == 0) return t
    val toks = t.split(" ")
    val out = new Array[String](toks.length)
    var ti = 0
    while (ti < toks.length) {
      out(ti) =
        if ((ti + docId) % 3 == 0) {
          val sb = new java.lang.StringBuilder(toks(ti).length)
          toks(ti).foreach { ch =>
            val lc = if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch
            if (lc >= 'a' && lc <= 'z')
              sb.appendCodePoint(base + (lc - 'a') % span)
            else sb.append(ch)
          }
          sb.toString
        } else toks(ti)
      ti += 1
    }
    out.mkString(" ")
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

  /** Session-level tuning applied once at query entry (optimization round
    * 7, guide §2.2/§9): `canChangeCachedPlanOutputPartitioning=true` lets
    * AQE right-size the output partitioning of cached/checkpointed plans
    * from their MEASURED byte size (it is off by default in Spark 4 only
    * to keep cached output partitioning stable for downstream exchange
    * reuse, which no query here relies on). Without it every cached frame
    * pins `spark.sql.shuffle.partitions` tasks per consumer stage
    * regardless of data size — the iterative graph loops paid 32—64 fixed
    * tasks per round at any SF. Scale-adaptive by construction (AQE
    * derives the count from bytes, not a constant).
    */
  private def applySessionTuning(s: SparkSession): Unit =
    s.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")

  /** Persist the child of a query's final GLOBAL SORT (optimization round
    * 7, guide §5 caching): `orderBy` executes its child TWICE — once for
    * the range partitioner's sampling job and once for the sort exchange
    * itself — so everything a query computes above its last shuffle runs
    * double. Rewriting `Sort(child)` to `Sort(persist(child))` halves that
    * for every non-trivial query without touching any query's definition
    * (the persist is semantically transparent; the CORRECTNESS hash is
    * over sorted rows either way). The guard skips trivial children
    * (plain scans / checkpoint reads / filters+projections), where a
    * cache write would cost more than the second pass.
    */
  private def cacheSortChild(s: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{logical => L}
    df.queryExecution.analyzed match {
      case srt: L.Sort if srt.global && srt.child.exists {
            case _: L.Join | _: L.Aggregate | _: L.Window | _: L.Generate |
                _: L.SerializeFromObject => true
            case _ => false
          } =>
        val cached = graft.ops.CacheRegistry.register(
          org.apache.spark.sql.GraftSqlBridge.ofRows(s, srt.child)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        org.apache.spark.sql.GraftSqlBridge.ofRows(
          s, srt.withNewChildren(Seq(cached.queryExecution.analyzed)))
      case _ => df
    }
  }

  /** One entry per implemented operator from SURVEY.md §2 (wrapped with
    * [[applySessionTuning]] + [[cacheSortChild]] at the bottom of the
    * file).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queryImpls.view.mapValues { fn =>
      (s: SparkSession, dir: String) => {
        applySessionTuning(s)
        cacheSortChild(s, fn(s, dir))
      }
    }.toMap

  private def queryImpls: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- flagship kernel pipeline (non-SQL; golden/differential-verified) ----
    "q_align_spans" -> ((s, dir) => {
      AlignJob.spansDf(alignedFor(s, dir))
    }),
    "q_align_metrics" -> ((s, dir) => {
      // deterministic projection only: partition_id / band_width /
      // cells_filled are execution-dependent lineage (they vary with
      // parallelism and the banding path) — the full metrics() table keeps
      // them; the CORRECTNESS row hashes the value-stable columns
      AlignJob.metricsDf(alignedFor(s, dir))
        .select(col("url"), col("n_spans"), col("tra_len"), col("ocr_len"),
          col("edit_distance"), col("gap_count"), col("error"))
    }),
    "q_extract_text" -> ((s, dir) => {
      Functions.register(s)
      AlignJob.synthPages(s, dir).toDF()
        .select(col("url"), expr("extract_text(html)").as("extracted"))
    }),
    // ---- mojibake repair (ftfy-lite): every 9th token becomes an
    //      accented word, even docs are corrupted utf8→latin1 once,
    //      doc_id%10 twice (binds the two-pass repair); odd docs keep
    //      clean accents (binds the strict-decode guard: untouched) ----
    "q_fix_encoding" -> ((s, dir) => {
      import s.implicits._
      val corrupted = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, t) => (id, mojibakeText(id, t)) }
        .toDF("doc_id", "text")
      graft.ops.Mojibake.fix(corrupted).orderBy(col("doc_id"))
    }),

    // ---- as-of temporal join: the snapshot state visible at event time
    //      (Spark has no ASOF JOIN; DuckDB's NATIVE `ASOF LEFT JOIN` is
    //      the oracle). Snapshots = every 10th event, so each snapshot is
    //      also a probe of itself (binds the `>=` tie semantics); users
    //      with no prior snapshot bind the left-outer null ----
    "q_asof_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      graft.ops.AsofJoin.asofJoin(asofProbes(ev), asofSnaps(ev), "user_id", "ts")
        .select("event_id", "user_id", "snap_id", "snap_value")
        .orderBy(col("event_id"))
    }),
    // ---- the SAME join through the hot-key time-bucketed path, FORCED
    //      to 8 time buckets — shares q_asof_join's oracle SQL verbatim
    //      (the anti-drift rule), so local-pass + cross-bucket carry must
    //      reproduce the one-window form exactly ----
    "q_asof_scaled" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      graft.ops.AsofJoin.asofJoinBucketed(asofProbes(ev), asofSnaps(ev),
        "user_id", "ts", numBuckets = 8)
        .select("event_id", "user_id", "snap_id", "snap_value")
        .orderBy(col("event_id"))
    }),
    // ---- the SAME join as a STREAM: probes arrive as a parquet stream
    //      and are enriched map-side from a broadcast snapshot index
    //      (binary search per probe) — shares the ASOF oracle verbatim,
    //      so the stream lookup must equal both batch forms exactly ----
    "q_asof_stream" -> ((s, dir) => {
      val tmp = scratchDir(s, "asof_stream")
      val ev = tbl(s, dir, "events")
      asofProbes(ev).write.mode("overwrite").parquet(s"$tmp/probes")
      graft.streaming.StreamingJobs.withShufflePartitions(s, 4) {
        graft.streaming.StreamingJobs.runAvailableNow(
          graft.streaming.StreamingJobs.asofStream(s, s"$tmp/probes",
            asofSnaps(ev)),
          s"$tmp/out")
      }
      s.read.parquet(s"$tmp/out/data").orderBy(col("event_id"))
    }),

    // ---- token-window chunking for embedding corpora (chunk 16, stride
    //      12 — the 4-token overlap and the short final chunk both bind;
    //      zero-token docs emit no chunks) ----
    "q_chunk_tokens" -> ((s, dir) =>
      graft.ops.Chunking.chunkByTokens(fanOut(s, docs(s, dir)), chunkSize = 16, stride = 12)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ---- per-doc distinctive terms (tf-idf-shaped, integer-exact rank:
    //      tf desc, df asc, term asc) ----
    "q_top_terms" -> ((s, dir) =>
      graft.ops.Terms.topTermsPerDoc(fanOut(s, docs(s, dir)), k = 5)
        .orderBy(col("doc_id"), col("rnk"))),

    // ---- exact-k-per-group sampling via the two-phase salted top-k
    //      (salt FORCED to 4 so the phase-2 merge genuinely binds);
    //      ranked by the engine-portable (md5(id), id) shuffle ----
    "q_sample_per_group" -> ((s, dir) =>
      graft.ops.Sampling.sampleKPerGroup(
        docs(s, dir).select(col("doc_id"), col("source")),
        groupCol = "source", k = 7, saltBuckets = 4)
        .orderBy(col("source"), col("rnk"))),

    // ---- CCNet-style bigram-LM perplexity filter: train on the
    //      known-good slice (doc_id % 7 == 0), score every doc in
    //      bits-per-token, bucket head/middle/tail at pinned thresholds
    //      (corpus tertiles at authoring time). Golden is the clean-room
    //      mirror incl. the pinned portable log2 ----
    "q_lm_perplexity" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.ops.NgramLm.train(d.filter(col("doc_id") % 7 === 0))
      graft.ops.NgramLm.score(d, model, headBelow = 4.97, tailFrom = 5.08)
        .orderBy(col("doc_id"))
    }),

    // ---- the same LM FORCED over a small entry cap: min-count pruning
    //      degrades the model (KenLM behavior, VERDICT r5 missing #4)
    //      instead of require-failing; pruned vocab scores as unk ----
    "q_lm_pruned" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.ops.NgramLm.train(d.filter(col("doc_id") % 7 === 0),
        maxModelEntries = 800L)
      graft.ops.NgramLm.score(d, model, headBelow = 4.97, tailFrom = 5.08)
        .orderBy(col("doc_id"))
    }),

    // ---- interpolated Kneser-Ney trigram perplexity (the KenLM-shaped
    //      upgrade of the add-one bigram filter: absolute discounting +
    //      continuation-count backoff, every level an exact distribution
    //      over vocab+unk); same %7 train slice, bit-exact golden ----
    "q_kn_perplexity" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.ops.NgramLm.trainKn(d.filter(col("doc_id") % 7 === 0))
      cacheForSort(graft.ops.NgramLm.scoreKn(fanOut(s, d), model))
        .orderBy(col("doc_id"))
    }),

    // ---- fasttext-style hashed linear quality classifier (stateless
    //      map-only inference; dyadic stand-in weights make the logit
    //      bit-exact cross-engine — golden is the clean-room mirror) ----
    "q_classifier_score" -> ((s, dir) =>
      graft.ops.Classifier.score(docs(s, dir)).orderBy(col("doc_id"))),

    // ---- classifier TRAINING (the RefinedWeb/FineWeb pattern: distill a
    //      heuristic label — here lang=='en' — into the hashed linear
    //      model): pinned full-batch logistic regression through the
    //      portable exp; golden retrains independently and compares
    //      per-doc probabilities bit-exactly ----
    "q_classifier_train" -> ((s, dir) => {
      val labeled = docs(s, dir)
        .filter(col("doc_id").isNotNull) // non-nullable tuple encoder
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", 1).otherwise(0).as("y"))
      val m = graft.ops.Classifier.trainLogistic(labeled)
      graft.ops.Classifier.predict(labeled, m).orderBy(col("doc_id"))
    }),

    // ---- density-based main-content extraction (jusText-simplified):
    //      block segmentation + link/stopword-density rules remove chrome
    //      divs that carry NO semantic tag (the tag-name path q_extract_text
    //      can't see). Map-only per-row kernel; golden is the clean-room
    //      Python mirror ----
    "q_main_content" -> ((s, dir) => {
      import s.implicits._
      fanOut(s, docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
        .map { case (id, text) =>
          val e = graft.align.MainContent.extract(boilerplateHtml(id, text))
          (id, e.content, e.nBlocks, e.nKept, e.removedChars)
        }.toDF("doc_id", "content", "n_blocks", "n_kept", "removed_chars")
        .orderBy(col("doc_id"))
    }),
    // ---- HTML→Markdown structured extraction (FineWeb/Dolma-style):
    //      headings/lists/tables/blockquotes/pre survive as Markdown
    //      structure instead of flattening to a char stream. Map-only
    //      per-row kernel over the structured fixture; golden is the
    //      clean-room Python mirror (graftpy.mdx_convert) ----
    "q_markdown" -> ((s, dir) => {
      import s.implicits._
      cacheForSort(
        fanOut(s, docs(s, dir).select(col("doc_id"), col("text")))
          .as[(Long, String)]
          .map { case (id, text) =>
            val c = graft.align.Markdown.convert(structuredHtml(id, text))
            (id, c.markdown, c.nBlocks)
          }.toDF("doc_id", "markdown", "n_blocks"))
        .orderBy(col("doc_id"))
    }),
    // ---- HTML table extraction: every <table> flattened to typed
    //      (table, row, col, header, cell) rows — the structured-data
    //      harvest step of a training pipeline. Same single parse as
    //      q_markdown (one kernel, two consumers) ----
    "q_html_tables" -> ((s, dir) => {
      import s.implicits._
      fanOut(s, docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.align.Markdown.convert(structuredHtml(id, text)).tables
            .map(c => (id, c.tableIdx, c.rowIdx, c.colIdx, c.isHeader, c.text))
        }.toDF("doc_id", "table_idx", "row_idx", "col_idx", "is_header", "cell")
        .orderBy(col("doc_id"), col("table_idx"), col("row_idx"), col("col_idx"))
    }),
    // ---- streaming form of q_markdown (SHARED golden, anti-drift: the
    //      same Markdown.convert kernel per micro-batch) ----
    "q_markdown_stream" -> ((s, dir) => {
      import s.implicits._
      val tmp = scratchDir(s, "markdown_stream")
      docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, structuredHtml(id, t)) }
        .toDF("doc_id", "html")
        .write.parquet(s"$tmp/pages")
      graft.streaming.StreamingJobs.withShufflePartitions(s, 4) {
        graft.streaming.StreamingJobs.runAvailableNow(
          graft.streaming.StreamingJobs.markdownStream(s, s"$tmp/pages"),
          s"$tmp/out")
      }
      s.read.parquet(s"$tmp/out/data").orderBy(col("doc_id"))
    }),

    "q_syllabify" -> ((s, dir) => {
      Functions.register(s)
      docs(s, dir).select(col("doc_id"),
        posexplode(expr("syllabify(clean_text(text))")).as(Seq("pos", "syl")))
    }),

    // ---- link graph: href extraction + resolution over synthesized link
    //      pages (LinkGen fixture, mirrored clean-room in graftpy.py).
    //      Edges + pagerank are Python goldens; degrees / anchors / host
    //      graph are DuckDB SQL over the committed golden edge table —
    //      independent aggregation engines over an independent edge
    //      extraction ----
    "q_link_edges" -> ((s, dir) =>
      linkEdgesFor(s, dir).orderBy(col("src"), col("pos"))),
    "q_link_degrees" -> ((s, dir) =>
      graft.ops.LinkGraph.degrees(linkEdgesFor(s, dir))
        .orderBy(col("url"))),
    "q_anchor_text" -> ((s, dir) =>
      graft.ops.LinkGraph.anchorStats(linkEdgesFor(s, dir))
        .orderBy(col("dst"))),
    "q_host_graph" -> ((s, dir) =>
      graft.ops.LinkGraph.hostGraph(linkEdgesFor(s, dir))
        .orderBy(col("src_host"), col("dst_host"))),
    "q_pagerank" -> ((s, dir) =>
      graft.ops.LinkGraph.pagerank(linkEdgesFor(s, dir),
        iters = 20, damping = 0.85, exactFold = true)
        .orderBy(col("url"))),

    // ---- harmonic centrality (Common Crawl's published host ranking):
    //      exact = pinned local BFS oracle path; hll = the HyperBall
    //      production loop, whose pinned sketch makes even the
    //      APPROXIMATE path hard-golden-checkable ----
    "q_harmonic" -> ((s, dir) =>
      harmonicFor(s, dir).orderBy(col("url"))),

    // ---- HITS hubs & authorities (completing the PageRank / harmonic /
    //      HITS ranking trio): exact pinned power iterations — sorted
    //      folds + correctly-rounded sqrt make the golden bit-exact ----
    "q_hits" -> ((s, dir) =>
      graft.ops.Centrality.hitsExact(linkEdgesFor(s, dir), iters = 20)
        .orderBy(col("url"))),

    // ---- label-propagation communities (spam-cluster grouping): the
    //      exact path AND the distributed round loop are bit-identical
    //      (integer counts + binary-order tie-break), so the distributed
    //      row shares the exact golden VERBATIM — local/distributed
    //      anti-drift, the same rule as the stream/batch pairs ----
    // ---- graph-shape stats (the webgraph profile a crawl QA pass
    //      reads): five 1-row aggregates crossJoined — every frame is a
    //      single row, so the crossJoins are broadcast no-ops; the edge
    //      table is vertex-scale, not corpus-scale ----
    "q_graph_stats" -> ((s, dir) => {
      // persisted: SIX aggregate subtrees consume the deduped edge frame
      val e = graft.ops.CacheRegistry.register(
        linkEdgesFor(s, dir).select(col("src"), col("dst")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // count(when(...)), not sum(when(...)): sum over zero rows is NULL
      // where the DuckDB oracle's count(*) is 0 — empty-graph parity
      val base = e.agg(count(lit(1)).as("n_edges"),
        count(when(col("src") === col("dst"), 1)).as("n_self_loops"))
      val nodes = e.select(col("src").as("url"))
        .union(e.select(col("dst").as("url"))).distinct()
        .agg(count(lit(1)).as("n_nodes"))
      val outd = e.groupBy(col("src")).agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("max_out_degree"))
      val ind = e.groupBy(col("dst")).agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("max_in_degree"))
      // ORDERED pairs by definition: one mutual link contributes 2 —
      // the column name says edges, not pairs
      val recip = e.join(
        e.select(col("dst").as("__s"), col("src").as("__d")),
        e("src") === col("__s") && e("dst") === col("__d"))
        .filter(col("src") =!= col("dst"))
        .agg(count(lit(1)).as("n_reciprocal_edges"))
      base.crossJoin(nodes).crossJoin(recip).crossJoin(outd).crossJoin(ind)
        .select(col("n_edges"), col("n_nodes"), col("n_self_loops"),
          col("n_reciprocal_edges"), col("max_out_degree"), col("max_in_degree"))
    }),

    // ---- weakly-connected components (host islands / dead zones):
    //      union-find oracle path; the distributed min-label loop runs
    //      to a certified fixpoint and is bit-identical (min over binary
    //      string order is order-insensitive) — shared golden ----
    "q_components" -> ((s, dir) =>
      graft.ops.Centrality.componentsExact(linkEdgesFor(s, dir))
        .orderBy(col("url"))),
    "q_components_dist" -> ((s, dir) =>
      graft.ops.Centrality.components(linkEdgesFor(s, dir))
        .orderBy(col("url"))),

    // ---- the DISCRIMINATING components row: the full link fixture is
    //      ONE blob (an over-merging bug would pass it), so a pinned
    //      md5-mask subsample fragments it into ~150 islands of varied
    //      size — partition-splitting/merging bugs cannot hide ----
    "q_components_multi" -> ((s, dir) => {
      val keep = udf((src: String, dst: String) =>
        (graft.ops.Centrality.hash64(src + "|" + dst) & 3L) == 0L)
      graft.ops.Centrality.componentsExact(
        linkEdgesFor(s, dir).filter(keep(col("src"), col("dst"))))
        .orderBy(col("url"))
    }),

    "q_lpa" -> ((s, dir) =>
      graft.ops.Centrality.lpaExact(linkEdgesFor(s, dir), iters = 10)
        .orderBy(col("url"))),
    "q_lpa_dist" -> ((s, dir) =>
      graft.ops.Centrality.lpa(linkEdgesFor(s, dir), iters = 10)
        .orderBy(col("url"))),
    "q_harmonic_hll" -> ((s, dir) =>
      graft.ops.Centrality.harmonicHll(linkEdgesFor(s, dir), iters = 10)
        .orderBy(col("url"))),

    // ---- head-metadata extraction (title / description / og:title /
    //      canonical / lang) over the MetaGen fixture — map-only parse,
    //      canonical resolved through the SAME restricted resolver as the
    //      link graph; parser + fixture mirrored clean-room ----
    "q_html_meta" -> ((s, dir) => {
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
    }),

    // ---- charset sniff + decode (WHATWG-subset: BOM, meta charset,
    //      http-equiv content-type, label mapping) over the CharsetGen
    //      mixed-encoding fixture — the ingest step between raw crawl
    //      bytes and every text op; mirrored clean-room ----
    "q_charset" -> ((s, dir) => {
      import s.implicits._
      val payloads = fanOut(s, docs(s, dir).select(col("doc_id"), col("text")))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String)]
        .map { case (id, t) =>
          (id, graft.pipeline.CharsetGen.payload(id, t))
        }.toDF("doc_id", "payload")
      graft.ops.CharsetSniff.sniffDecode(payloads).orderBy(col("doc_id"))
    }),

    // ---- streaming ingest head: the SAME Warc.recordsDecoded kernel per
    //      micro-batch (shared code, shared golden — the anti-drift
    //      contract used by q_decontam_stream) ----
    "q_ingest_stream" -> ((s, dir) => {
      val tmp = scratchDir(s, "ingest_stream")
      charsetArchives(s, dir).write.parquet(s"$tmp/archives")
      graft.streaming.StreamingJobs.withShufflePartitions(s, 4) {
        graft.streaming.StreamingJobs.runAvailableNow(
          graft.streaming.StreamingJobs.ingestStream(s, s"$tmp/archives"),
          s"$tmp/out")
      }
      s.read.parquet(s"$tmp/out/data")
        .orderBy(col("archive_id"), col("rec_offset"))
    }),

    // ---- PDF text extraction (the north rule's "PDF/layout parse"
    //      input next to HTML): literal/hex strings with full escape
    //      handling, TJ kerning word-gaps, Td/TD/T* layout newlines,
    //      FlateDecode streams via zlib — map-only, never throws,
    //      mirrored clean-room over the PdfGen fixture ----
    "q_pdf_text" -> ((s, dir) => {
      import s.implicits._
      val payloads = fanOut(s, docs(s, dir).select(col("doc_id"), col("text")))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String)]
        .map { case (id, t) =>
          (id, graft.pipeline.PdfGen.pdfBytes(id, t))
        }.toDF("doc_id", "pdf")
      graft.ops.Pdf.pdfText(payloads).orderBy(col("doc_id"))
    }),

    // ---- format-dispatch extraction: magic-byte routing between the
    //      PDF extractor and charset-sniff→HTML extraction in ONE map
    //      pass — the ingest dispatch a mixed crawl runs (odd ids carry
    //      PDF payloads, even ids mixed-encoding HTML) ----
    "q_extract_route" -> ((s, dir) => {
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
    }),

    // ---- mixed-language detection: sentence segmentation × per-sentence
    //      language-ID → per-doc plurality language + purity fraction
    //      (the "drop mixed-language docs" cleaning gate). Pure kernel
    //      composition on public contracts — splitSentences over the
    //      q_sentences casing fixture, langIdOf per sentence — mirrored
    //      end-to-end in the golden ----
    "q_sent_langid" -> ((s, dir) => {
      import s.implicits._
      fanOut(s, docs(s, dir).select(col("doc_id"), col("text")))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String)]
        .map { case (id, t) =>
          val sents =
            graft.ops.Sentences.splitSentences(sentenceizeText(id, t))
          val langs = sents.map(graft.ops.TextOps.langIdOf)
          val n = langs.length
          if (n == 0) (id, 0, "und", 0.0, 0)
          else {
            val counts = langs.groupBy(identity).view.mapValues(_.size).toMap
            // plurality, lexicographic tie-break (pinned)
            val (main, c) = counts.toSeq.sortBy { case (l, k) => (-k, l) }.head
            (id, n, main, c.toDouble / n.toDouble, counts.size)
          }
        }.toDF("doc_id", "n_sents", "main_lang", "main_frac", "n_langs")
        .orderBy(col("doc_id"))
    }),

    // ---- robots-exclusion decisions (RFC 9309 / Google longest-match
    //      semantics) for every distinct link target under the RobotsGen
    //      fixture (13 hosts, every parser/matcher path bound); parser +
    //      glob matcher mirrored clean-room in graftpy.py; salt FORCED to
    //      4 so the replicated-build-side join path genuinely binds ----
    "q_robots" -> ((s, dir) => {
      import s.implicits._
      // distinct link targets PLUS the host-extraction pinning urls
      // (query-embedded absolute url → OUTER host; scheme-less url →
      // host '' — ADVICE r5)
      // distinct AFTER the union: the golden generator computes a SET
      // union of link targets and the extra urls, so an extra url that is
      // also a link target must not duplicate
      val urls = linkEdgesFor(s, dir).select(col("dst").as("url"))
        .union(graft.pipeline.RobotsGen.ExtraUrls.toDF("url")).distinct()
      graft.ops.Robots.annotate(
        urls, robotsTable(s), graft.pipeline.RobotsGen.Agent, saltBuckets = 4)
        .orderBy(col("url"))
    }),

    // ---- per-host robots metadata: the selected crawl-delay (group-
    //      scoped, first-wins) and the document-global sitemap list ----
    "q_robots_meta" -> ((s, dir) =>
      graft.ops.Robots.hostMeta(robotsTable(s), graft.pipeline.RobotsGen.Agent)
        .orderBy(col("host"))),

    // ---- sitemap XML parse (urlset + sitemapindex, entity refs,
    //      damage-skipped blocks) over the SitemapGen fixture ----
    "q_sitemap" -> ((s, dir) =>
      graft.ops.Sitemaps.parse(sitemapTable(s))
        .orderBy(col("host"), col("seq"))),

    // ---- sitemap → frontier seeding, robots-gated end-to-end: the
    //      politeness loop closes (robots names the sitemap, the sitemap
    //      names the urls, robots rules still gate each one). Salt
    //      FORCED to 4 so annotate's replicated-build path binds ----
    "q_sitemap_seed" -> ((s, dir) =>
      graft.ops.Sitemaps.seeds(sitemapTable(s), robotsTable(s),
        graft.pipeline.RobotsGen.Agent, saltBuckets = 4)
        .orderBy(col("url"))),

    // ---- crawl-frontier composition: edges of the even-doc_id crawl
    //      wave → uncrawled, robots-allowed targets, top-5 per host by
    //      distinct-referrer count (two-phase salted top-k, salt FORCED
    //      to 4 so the phase-2 merge binds). Oracle: DuckDB over the
    //      COMMITTED edge + robots goldens — an independent aggregation
    //      engine over independently-generated inputs ----
    "q_frontier" -> ((s, dir) => {
      import s.implicits._
      val crawled = docs(s, dir)
        .filter(col("doc_id").isNotNull && col("doc_id") % 2 === 0)
        .select(col("doc_id")).as[Long]
        .map(graft.pipeline.LinkGen.linkUrlFor).toDF("url")
      graft.ops.Frontier.nextWave(linkEdgesFor(s, dir), crawled,
        robotsTable(s), graft.pipeline.RobotsGen.Agent, k = 5,
        saltBuckets = 4, crawlWindowSec = 7.0)
        .orderBy(col("host"), col("rnk"))
    }),

    // ---- PageRank-guided frontier: the same wave machinery ordered by
    //      the link graph's own importance scores (OPIC/PageRank crawl
    //      ordering) — candidates left-join the pagerank table on url.
    //      Oracle: the frontier CTE re-ranked by the COMMITTED
    //      q_pagerank golden ----
    "q_frontier_ranked" -> ((s, dir) => {
      import s.implicits._
      val crawled = docs(s, dir)
        .filter(col("doc_id").isNotNull && col("doc_id") % 2 === 0)
        .select(col("doc_id")).as[Long]
        .map(graft.pipeline.LinkGen.linkUrlFor).toDF("url")
      val ranks = graft.ops.LinkGraph.pagerank(linkEdgesFor(s, dir),
        iters = 20, damping = 0.85, exactFold = true)
      graft.ops.Frontier.nextWaveRanked(linkEdgesFor(s, dir), crawled,
        robotsTable(s), graft.pipeline.RobotsGen.Agent, k = 5,
        ranks = ranks, saltBuckets = 4, crawlWindowSec = 7.0)
        .orderBy(col("host"), col("rnk"))
    }),

    // ---- politeness scheduling over the same wave: the rnk-th fetch of
    //      a host waits (rnk−1) × its hostMeta crawl-delay (default 1.0
    //      when absent/non-positive). Oracle: the q_frontier SQL extended
    //      with a join against the committed q_robots_meta golden — the
    //      delay arrives via an INDEPENDENT path (hostMeta directive
    //      parse) from the wave's own annotate-derived one ----
    "q_fetch_schedule" -> ((s, dir) => {
      import s.implicits._
      val crawled = docs(s, dir)
        .filter(col("doc_id").isNotNull && col("doc_id") % 2 === 0)
        .select(col("doc_id")).as[Long]
        .map(graft.pipeline.LinkGen.linkUrlFor).toDF("url")
      val wave = graft.ops.Frontier.nextWave(linkEdgesFor(s, dir), crawled,
        robotsTable(s), graft.pipeline.RobotsGen.Agent, k = 5,
        saltBuckets = 4, crawlWindowSec = 7.0)
      graft.ops.Frontier.schedule(wave,
        graft.ops.Robots.hostMeta(robotsTable(s),
          graft.pipeline.RobotsGen.Agent))
        .orderBy(col("host"), col("rnk"))
    }),

    // ---- BM25 top-k retrieval (retrieval-based decontamination probe):
    //      queries are a fixture CONVENTION (every 25th doc's first 3
    //      distinct ≥5-char tokens, appearance order), mirrored in
    //      graftpy.py; scores use the pinned portable log + query-order
    //      folds, so the golden compare is bit-exact ----
    "q_bm25" -> ((s, dir) =>
      graft.ops.Retrieval.bm25TopK(docs(s, dir), bm25Queries(s, dir), k = 10)
        .orderBy(col("query_id"), col("rank"))),

    // ---- WARC archive → record split → page-text extraction (the
    //      archive-ingest head of the extraction pipeline; parser
    //      mirrored clean-room over the shared archive convention) ----
    "q_warc_records" -> ((s, dir) =>
      graft.ops.Warc.records(warcArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- the same records through the .warc.gz member-per-record path
    //      (Common Crawl layout): gzip member split (RFC 1952 headers,
    //      verified trailers) → plain-stream reassembly → record parse.
    //      Oracle golden is generated through the mirror's own gz path
    //      and must equal q_warc_records' rows exactly ----
    "q_warc_gz" -> ((s, dir) =>
      graft.ops.Warc.recordsGz(warcGzArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- CDX index generation (the crawl-index artifact that makes a
    //      petabyte of archives random-accessible): SURT urlkey, SHA-1
    //      base32 payload digest, and the (offset, length) byte span
    //      whose sum seeks to the next record ----
    "q_cdx" -> ((s, dir) =>
      graft.ops.Warc.cdx(warcArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- CDX over .warc.gz with COMPRESSED member spans — the form the
    //      real crawl index takes (readers seek + inflate one member).
    //      Input is the COMMITTED python-gzipped binary fixture, so this
    //      row cross-verifies the gz codecs at the byte level: the JVM
    //      inflates CPython-compressed members and must agree on spans,
    //      digests, and urlkeys ----
    "q_cdx_gz" -> ((s, dir) =>
      graft.ops.Warc.cdxGz(
        s.read.parquet(s"$GoldenDir/fx_warc_gz.parquet"))
        .orderBy(col("archive_id"), col("rec_offset"), col("uri"))),

    // ---- the FULL gz ingest composition: .warc.gz member split →
    //      record parse → response filter → HTTP head parse →
    //      transport-charset decode. Shares q_warc_http's golden
    //      VERBATIM (anti-drift: the gz path must change nothing) ----
    "q_ingest_gz_http" -> ((s, dir) =>
      graft.ops.Warc.recordsHttpGz(httpWarcGzArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- phrase-blocklist gate (the bad-words stage of C4-style
    //      curation): token-boundary contiguous-subsequence hits against
    //      a broadcast per-length phrase table — no explode, no shuffle.
    //      The phrase list binds 1/2/3-token phrases, case folding
    //      ("SPARK" hits 'spark'), and a never-matching phrase ----
    "q_blocklist" -> ((s, dir) =>
      graft.ops.Blocklist.matchCounts(docs(s, dir),
        BlocklistPhrases, maxMatches = 2)
        .orderBy(col("doc_id"))),

    // ---- the same blocklist gate as an always-on stream: SAME kernel
    //      per micro-batch (shared code, anti-drift — the oracle row IS
    //      the batch golden); stateless map-only, phrase table
    //      broadcast ----
    "q_blocklist_stream" -> ((s, dir) => {
      val tmp = scratchDir(s, "blocklist_stream")
      docs(s, dir).select(col("doc_id"), col("text"))
        .write.parquet(s"$tmp/docs")
      graft.streaming.StreamingJobs.withShufflePartitions(s, 4) {
        graft.streaming.StreamingJobs.runAvailableNow(
          graft.streaming.StreamingJobs.blocklistStream(
            s, s"$tmp/docs", BlocklistPhrases, maxMatches = 2),
          s"$tmp/out")
      }
      s.read.parquet(s"$tmp/out/data").orderBy(col("doc_id"))
    }),

    // ---- WET generation (the extracted-text distribution format):
    //      record split + extraction + conversion-record serialization
    //      in one map pass; the digest + byte length pin the full
    //      serialized output cross-engine ----
    "q_wet" -> ((s, dir) =>
      graft.ops.Warc.wet(warcArchives(s, dir))
        .orderBy(col("archive_id"))),

    // ---- adaptive recrawl scheduling (Cho/Garcia-Molina freshness
    //      family): per-url change rates from consecutive CDX captures,
    //      integer-only rate classes; ONE urlkey shuffle (window + agg
    //      share the key) ----
    "q_recrawl" -> ((s, dir) =>
      graft.ops.Recrawl.schedule(
        graft.ops.Warc.cdx(httpWarcArchives(s, dir)))
        .orderBy(col("urlkey"))),

    // ---- centrality-ranked crawl budgets: Zipf-shaped integer
    //      allocation over the harmonic ranking (floor-division, never a
    //      double->long cast — Spark truncates, DuckDB rounds) ----
    "q_crawl_budget" -> ((s, dir) =>
      graft.ops.Recrawl.budget(harmonicFor(s, dir), k = 1000L)
        .orderBy(col("rank"))),

    // ---- WAT metadata sidecar (completes the WARC/WET/WAT triple):
    //      links + head metadata serialized as the pinned JSON envelope
    //      subset, one map pass per archive, digest-pinned bytes ----
    "q_wat" -> ((s, dir) =>
      graft.ops.Warc.wat(warcArchives(s, dir))
        .orderBy(col("archive_id"))),

    // ---- CDX over the HTTP archives: natural duplicate-digest classes
    //      (identical 404 bodies, empty 301 bodies, identical revisit
    //      payloads) — the input table for the digest dedup below ----
    "q_cdx_http" -> ((s, dir) =>
      graft.ops.Warc.cdx(httpWarcArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- write-time revisit dedup: per payload digest the earliest
    //      capture is the original, later ones point at it (min-struct
    //      argmin + join back — no per-digest window sort). Oracle:
    //      DuckDB windows over the COMMITTED q_cdx_http golden ----
    "q_cdx_dedup" -> ((s, dir) =>
      graft.ops.Warc.cdxDedup(graft.ops.Warc.cdx(httpWarcArchives(s, dir)))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- HTTP-wrapped response payloads (the real crawl record shape):
    //      record-type filter (request/revisit records dropped), status
    //      line + Content-Type parse, and transport-charset decode in
    //      WHATWG precedence — incl. a pinned transport-vs-meta conflict
    //      row and a raw non-http fallback row ----
    "q_warc_http" -> ((s, dir) =>
      graft.ops.Warc.recordsHttp(httpWarcArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- full ingest-head composition: archive bytes → record split →
    //      charset sniff + decode (mixed-encoding payloads; utf-16
    //      Content-Lengths bind the binary-safe split) ----
    "q_warc_charset" -> ((s, dir) =>
      graft.ops.Warc.recordsDecoded(charsetArchives(s, dir))
        .orderBy(col("archive_id"), col("rec_offset"))),

    // ---- sentence segmentation (punkt-lite) over the sentence-cased
    //      fixture (shared convention; splitter mirrored clean-room) ----
    "q_sentences" -> ((s, dir) => {
      import s.implicits._
      val cased = docs(s, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id").isNotNull) // non-nullable tuple encoder
        .as[(Long, String)]
        .map { case (id, t) => (id, sentenceizeText(id, t)) }
        .toDF("doc_id", "text")
      graft.ops.Sentences.sentences(cased).orderBy(col("doc_id"), col("sent_id"))
    }),

    // ---- O8 clean (SQL-expressible, oracle-checked) ----
    "q_clean" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        lower(regexp_replace(regexp_replace(regexp_replace(col("text"),
          "[^\\s\\w|]", ""), " \\| ", " "), " +", " ")).as("cleaned"))),

    // ---- O23/O24 scan + filter + project ----
    "q_filter_project" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // ---- O25 distinct + sort ----
    "q_distinct_sort" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // ---- O26 group-by aggregation (integer-exact measures) ----
    "q_group_agg" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          min(col("l_orderkey")).as("min_okey"),
          max(col("l_orderkey")).as("max_okey"))),

    // ---- O27 broadcast lookup join ----
    "q_join_broadcast" -> ((s, dir) =>
      tbl(s, dir, "customer").join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"))),

    // ---- O28 lag window (neighbor access) ----
    "q_lag_window" -> ((s, dir) =>
      tbl(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey")))
          .as("prev_okey"))),

    // ---- O29 ordered concatenation fold ----
    "q_concat_fold" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(array_join(array_sort(collect_list(col("o_orderkey").cast("string"))), " ")
          .as("okeys"))),

    // ---- O33 moving average window ----
    "q_moving_avg" -> ((s, dir) =>
      tbl(s, dir, "events").select(col("event_id"), col("user_id"),
        avg(col("value")).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
            .rowsBetween(-2, 2)).as("smoothed"))),

    // ---- O40/O41/O43 bbox theta-join + argmax-per-group IOU.
    //      The join key is (brand, x-bucket), not brand alone: a pure
    //      brand-equi self-join has a bounded keyspace (~25 brands), so its
    //      buckets grow as N/25 and the join goes quadratic at scale no
    //      matter the cap. Both sides explode to the width-16 x-buckets
    //      their boxes cover (MeiAssign's banding); two x-overlapping boxes
    //      always share the bucket of an overlap point, so candidates are a
    //      strict superset of the true pairs at a fraction of the volume,
    //      and a pair surfacing in several buckets collapses in the
    //      row_number argmax (identical output — same oracle hash). ----
    "q_iou_argmax" -> ((s, dir) => {
      val W = 16
      val boxes = fanOut(s, tbl(s, dir, "part")).select(
          col("p_partkey"), col("p_brand"),
          (col("p_partkey") % 97).as("ulx"), (col("p_partkey") % 89).as("uly"),
          (col("p_partkey") % 97 + 1 + col("p_size") % 13).as("lrx"),
          (col("p_partkey") % 89 + 1 + col("p_size") % 11).as("lry"))
        .withColumn("bkt", explode(sequence(floor(col("ulx") / W), floor(col("lrx") / W))))
      val l = boxes.as("l"); val r = boxes.as("r")
      val dx = least(col("l.lrx"), col("r.lrx")) - greatest(col("l.ulx"), col("r.ulx"))
      val dy = least(col("l.lry"), col("r.lry")) - greatest(col("l.uly"), col("r.uly"))
      val inter = dx * dy
      val areaL = (col("l.lrx") - col("l.ulx")) * (col("l.lry") - col("l.uly"))
      val areaR = (col("r.lrx") - col("r.ulx")) * (col("r.lry") - col("r.uly"))
      l.join(r, col("l.p_brand") === col("r.p_brand") &&
          col("l.bkt") === col("r.bkt") &&
          col("l.p_partkey") < col("r.p_partkey"))
        .filter(dx > 0 && dy > 0)
        .select(col("l.p_partkey").as("pk_a"), col("r.p_partkey").as("pk_b"),
          inter.as("inter_area"),
          (inter.cast("double") / (areaL + areaR - inter)).as("iou"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("pk_a")).orderBy(col("inter_area").desc, col("pk_b"))))
        .filter(col("rn") === 1)
        .drop("rn")
    }),

    // ---- exact dedup over union with planted duplicates ----
    "q_dedup_exact" -> ((s, dir) =>
      docsWithExactDups(s, dir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("dup_count"))
        .filter(col("dup_count") > 1)
        .select(col("canonical_doc_id"), col("dup_count"))
        .orderBy(col("canonical_doc_id"))),

    // ---- exact duplicate GROUPS via the digest op — the 100 TB shape
    //      (shuffles 2×64-bit digests + length, never the text). The DuckDB
    //      oracle groups by text: identical rows unless a double-xxhash64
    //      collision occurs (< 2^-90 per pair), so the hash compare also
    //      certifies collision-freedom on this corpus ----
    "q_dedup_groups" -> ((s, dir) =>
      Dedup.exactDuplicateGroups(docsWithExactDups(s, dir))
        .orderBy(col("canonical_doc_id"))),

    // ---- stratified quota sampling (domain/language mixing): map-side
    //      hash gate, no shuffle, parallelism-independent ----
    "q_stratified_sample" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedSample(
        docs(s, dir).select(col("doc_id"), col("lang")),
        Map("en" -> 0.25, "zh" -> 0.5, "de" -> 1.0))
        .orderBy(col("doc_id"))),

    // ---- corpus mixing to target proportions: counts → max achievable
    //      volume → per-stratum keep-rates → deterministic gate (the
    //      binding stratum, de at these weights, keeps 100%) ----
    "q_mix_weights" -> ((s, dir) =>
      graft.ops.Sampling.mixToWeights(
        docs(s, dir).select(col("doc_id"), col("lang")),
        Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.25))
        .orderBy(col("doc_id"))),

    // ---- quality-quantile bucketing (the "keep the top X% by score" cut):
    //      thresholds from a deterministic hash-gated sample (reproducible
    //      at any parallelism, unlike approxQuantile's merge-order-
    //      dependent GK sketch), assignment map-side ----
    "q_quantile_bucket" -> ((s, dir) =>
      graft.ops.Sampling.bucketByScore(
        docs(s, dir).select(col("doc_id"),
          length(col("text")).cast("double").as("score")),
        nBuckets = 4, sampleMicros = 200000L)
        .orderBy(col("doc_id"))),

    // ---- END-TO-END CURATION (the composition a reference user actually
    //      ships): planted recrawls + punct-variant mirror pages →
    //      latest-capture dedup → quality-rule gate → normalized exact
    //      dedup → corpus mixing to target proportions. Verifies the
    //      operators COMPOSE (columns, contracts, determinism), against a
    //      golden that mirrors every stage independently in Python ----
    "q_curate" -> ((s, dir) => {
      val base = docsWithUrls(s, dir).select(col("url"),
        (lit(1700000000000000L) + col("doc_id") * 1000000L).as("ts_us"),
        col("doc_id"), col("lang"), col("text"))
      val alt = base.filter(col("doc_id") % 10 === 3)
        .select(concat(col("url"), lit("/alt")).as("url"), col("ts_us"),
          (col("doc_id") + 3000000L).as("doc_id"), col("lang"),
          concat(col("text"), lit(" !!")).as("text"))
      val recrawl = base.filter(col("doc_id") % 5 === 0)
        .select(col("url"), (col("ts_us") + 86400000000L).as("ts_us"),
          col("doc_id"), col("lang"), concat(lit("recrawled "), col("text")).as("text"))
      // persist the two multi-consumer stages: `latest` feeds both the
      // verdict side and the join probe, and `deduped` is evaluated by
      // mixToWeights' construction-time count AND the final gate — without
      // the caches the capture-set argmax re-runs ~4x per evaluation
      val latest = graft.ops.CacheRegistry.register(
        Dedup.latestCapture(base.unionAll(alt).unionAll(recrawl)).persist())
      val kept = latest.join(
        TextOps.qualityFilterVerdict(latest.select(col("doc_id"), col("text")))
          .filter(col("keep")).select(col("doc_id")), Seq("doc_id"))
      val deduped = graft.ops.CacheRegistry.register(
        Dedup.exactDedup(kept.select(col("doc_id"), col("lang"),
          TextOps.normalizeForDedup(col("text")).as("text"))).persist())
      graft.ops.Sampling.mixToWeights(
          deduped.select(col("doc_id"), col("lang")),
          Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.25))
        .orderBy(col("doc_id"))
    }),

    // ---- latest-capture-per-url dedup (the first dedup of any crawl):
    //      planted recrawls one day later must win; map-side-combining
    //      max(struct) argmax, no window sort ----
    "q_latest_capture" -> ((s, dir) => {
      val base = docsWithUrls(s, dir).select(col("url"),
        (lit(1700000000000000L) + col("doc_id") * 1000000L).as("ts_us"),
        col("doc_id"), col("text"))
      val recrawl = base.filter(col("doc_id") % 5 === 0)
        .select(col("url"), (col("ts_us") + 86400000000L).as("ts_us"),
          col("doc_id"), concat(lit("recrawled "), col("text")).as("text"))
      Dedup.latestCapture(base.unionAll(recrawl))
        .orderBy(col("url"))
    }),

    // ---- case/punct-insensitive exact dedup: normalization (chained
    //      codegen regexes, no UDF) composed with the digest group op over
    //      planted uppercase/punctuated variants — the oracle recomputes
    //      the normalization independently in DuckDB, so a normalization
    //      bug surfaces as a group mismatch ----
    "q_dedup_normalized" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = d.unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("?! ")).as("text")))
      Dedup.exactDuplicateGroups(corpus.select(col("doc_id"),
          TextOps.normalizeForDedup(col("text")).as("text")))
        .orderBy(col("canonical_doc_id"))
    }),

    // ---- URL canonicalization over deterministically-messied urls
    //      (upper-cased hosts, default ports, tracking params, fragments,
    //      trailing slashes) — pure codegen regexp_replace chain ----
    "q_canon_url" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val messy = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW."), upper(col("source")), lit("-Site.org:443/Path/"),
            id, lit("/?utm_source=x&utm_b=2#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://"), col("source"), lit("-site.org:80/p/"),
            id, lit("?a=1&utm_x=9&gclid=z")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://cdn."), col("source"), lit("-site.org/p/"),
            id, lit("/")))
        .otherwise(concat(lit("http://"), col("source"), lit("-site.org/p/"),
          id, lit("?fbclid=abc")))
      docs(s, dir).select(col("doc_id"),
        graft.ops.Domains.canonicalizeUrl(messy).as("canon_url"))
    }),

    // ---- domain blocklist scrub: broadcast left-anti on the PSL-aware
    //      registered domain — map-side, no corpus shuffle. The block list
    //      carries every fixture suffix shape (incl. a wildcard-rule
    //      domain and the exception domain www.ck) so a naive or
    //      wildcard-blind extraction would block the wrong rows ----
    "q_domain_filter" -> ((s, dir) => {
      import s.implicits._
      val block = Seq("src2-site.org", "src7-site.co.uk", "src4-site.com.au",
          "src5-site.ac.jp", "src6-site.xx.ck", "www.ck")
        .toDF("domain")
      graft.ops.Domains.filterByDomain(docsWithIntlUrls(s, dir), block)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-registered-domain corpus statistics (the mixing-policy
    //      input table): pure-Catalyst host/domain extraction (PSL-aware,
    //      one regexp_extract + fallback) + one partial-combining hash
    //      aggregate ----
    "q_domain_stats" -> ((s, dir) =>
      graft.ops.Domains.domainStats(docsWithIntlUrls(s, dir))
        .orderBy(col("domain"))),

    // ---- domain-keyed stratified sampling: the same map-side hash gate as
    //      q_stratified_sample, strata = PSL-aware registered domain
    //      (per-domain mixing quotas — VERDICT r3 missing #3) ----
    "q_domain_sample" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedSample(
        docsWithIntlUrls(s, dir)
          .withColumn("domain", graft.ops.Domains.registeredDomain(col("url")))
          .select(col("doc_id"), col("domain")),
        Map("src0-site.org" -> 0.5, "src7-site.co.uk" -> 1.0,
          "src13-site.co.uk" -> 0.25, "src19-site.ac.jp" -> 0.125,
          "src2-site.com.au" -> 0.5, "src8-site.xx.ck" -> 0.5,
          "www.ck" -> 0.25),
        strataCol = "domain")
        .orderBy(col("doc_id"))),

    // ---- benchmark decontamination: distinct 8-gram overlap of every
    //      document against a (broadcast) benchmark set — docs doc_id < 10
    //      play the eval set, so they self-contaminate fully and any
    //      incidental 8-gram collisions surface too ----
    "q_contamination" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      TextOps.contaminationCounts(d, d.filter(col("doc_id") < 10))
        .orderBy(col("doc_id"))
    }),

    // ---- token counting (built-ins only) ----
    "q_token_count" -> ((s, dir) =>
      TextOps.tokenCounts(docs(s, dir))),

    // ---- Gopher-style repetition signals (top n-gram char fractions +
    //      dup-line/dup-paragraph char fractions) over the deterministically
    //      reflowed corpus (the raw synthetic docs have no line structure) ----
    "q_repetition" -> ((s, dir) => {
      val reflow = udf(reflowForRepetition _)
      TextOps.repetitionScores(
        docs(s, dir).select(col("doc_id"), reflow(col("text")).as("text")))
    }),

    // ---- inverted-index build with document-frequency capping (the
    //      stopword hot-key guard: count-first, posting lists only under
    //      the cap; cap chosen to BIND at the oracle SF) ----
    "q_inverted_index" -> ((s, dir) =>
      TextOps.invertedIndex(docs(s, dir), maxPostings = 400)),

    // ---- PII redaction (emails/phones → type tokens) over a corpus with
    //      deterministically planted PII in every 7th document, rotating
    //      through the three covered phone formats (+CC-separated, NANP
    //      bare, parenthesized area code); pure chained regexp_replace
    //      (codegen, no UDF) ----
    "q_redact" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.redactPii(
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"), lit("@example.com call "),
              when(col("doc_id") % 3 === 0, lit("+1-555-123-4567"))
                .when(col("doc_id") % 3 === 1, lit("555-123-4567"))
                .otherwise(lit("(555) 123-4567")),
              lit(" now")))
            .otherwise(col("text"))).as("redacted"))),

    // ---- wide-recall PII redaction (opt-in): international variable
    //      grouping and boundary-guarded unseparated 10-digit runs redact;
    //      long numeric ids survive; the conservative default formats keep
    //      redacting. Every 5th doc plants a rotating wide-mode format ----
    "q_redact_wide" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.redactPii(
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" ring "),
              when(col("doc_id") % 4 === 0, lit("+44 20 7946 0958"))
                .when(col("doc_id") % 4 === 1, lit("+49 30 901820"))
                .when(col("doc_id") % 4 === 2, lit("5551234567"))
                .otherwise(lit("id 20240506112233 or 555-123-4567")),
              lit(" soon")))
            .otherwise(col("text")),
          wide = true).as("redacted"))),

    // ---- embedding clustering (per-cluster corpus organization) ----
    "q_embed_cluster" -> ((s, dir) =>
      Similarity.clusterAssign(tbl(s, dir, "embeddings"))),

    // ---- quality scoring (integer-exact + single divisions) ----
    "q_quality" -> ((s, dir) =>
      TextOps.qualityScores(docs(s, dir))),

    // ---- quality ENSEMBLE (the production gate is never one signal):
    //      classifier logit + LM bits-per-token + alpha ratio combine in
    //      one pinned linear score. Oracle: DuckDB over the committed
    //      classifier/LM goldens joined with an inline alpha-ratio
    //      recompute — three families bound in one row ----
    "q_quality_ensemble" -> ((s, dir) => {
      val d = docs(s, dir)
      val cls = graft.ops.Classifier.score(d)
        .select(col("doc_id"), col("logit"))
      val model = graft.ops.NgramLm.train(d.filter(col("doc_id") % 7 === 0))
      val lm = graft.ops.NgramLm.score(d, model,
        headBelow = 4.97, tailFrom = 5.08)
        .select(col("doc_id"), col("bits_per_token"))
      val alpha = TextOps.qualityScores(d)
        .select(col("doc_id"), col("alpha_ratio"))
      cls.join(lm, Seq("doc_id")).join(alpha, Seq("doc_id"))
        .withColumn("score",
          col("logit") - lit(0.5) * col("bits_per_token") +
            lit(2.0) * col("alpha_ratio"))
        .withColumn("keep", col("score") > lit(-2.0))
        .select(col("doc_id"), col("logit"), col("bits_per_token"),
          col("alpha_ratio"), col("score"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // ---- repetition-weight upsampling (the other half of a pretraining
    //      mix: keep-rates can only drop; 2.5 epochs of a high-quality
    //      source needs replication): floor(w) copies + one more behind
    //      the deterministic hash gate at frac(w); w < 1 degenerates to
    //      the keep-rate gate; absent strata keep once ----
    "q_upsample" -> ((s, dir) =>
      graft.ops.Sampling.upsampleToWeights(
        docs(s, dir).select(col("doc_id"), col("lang")),
        Map("en" -> 2.5, "es" -> 0.25, "de" -> 1.0))
        .orderBy(col("doc_id"), col("copy"))),

    // ---- table profiling (the before-you-commit-a-job step): per-column
    //      null counts + distinct cardinalities in ONE aggregate pass.
    //      exact = true here (count-distinct is engine-portable and
    //      oracle-able; the production default is the HLL sketch, which
    //      deliberately is NOT oracled). A planted-null column binds the
    //      null counting ----
    "q_profile" -> ((s, dir) =>
      graft.ops.Profile.profileTable(
        docs(s, dir).withColumn("lang_nullable",
          when(col("doc_id") % 13 === 0, lit(null).cast("string"))
            .otherwise(col("lang"))),
        exact = true)
        .orderBy(col("column"))),

    // ---- incremental dedup vs a prior snapshot (rolling-crawl form):
    //      digest-keyed anti-join; a third of the new batch are exact
    //      copies of prior docs and must vanish ----
    "q_incremental_dedup" -> ((s, dir) => {
      val prior = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.incrementalDedup(newerCrawl(prior), prior)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // ---- Bloom-routed incremental dedup: SAME fixture, SAME shared oracle
    //      SQL as q_incremental_dedup (the bit-identical-result claim is the
    //      whole point) — only the definite-new bypass route differs.
    //      expectedPriorDistinct deliberately UNDERSIZED (corpus/2) so the
    //      inflated-fpp path is exercised, not just the comfortable one ----
    "q_bloom_dedup" -> ((s, dir) => {
      val prior = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.incrementalDedupBloom(newerCrawl(prior), prior,
          expectedPriorDistinct = math.max(1L, prior.count() / 2), fpp = 0.05)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // ---- top-K vocabulary (tokenizer-training / index-config input):
    //      K=20 binds under the corpus's 31-token vocabulary ----
    "q_vocab" -> ((s, dir) => TextOps.topKVocab(docs(s, dir), 20)),

    // ---- C4 line-level cleaning over deterministically line-structured
    //      text: ' the ' → ' the. ' plants terminal punctuation (literal
    //      non-overlapping replace, identical in both engines), a portable
    //      regex cuts 6-word lines; rule = ends in [.!?] AND ≥3 words.
    //      Both rules bind: mid-doc lines fail on punctuation, the final
    //      short line fails on word count ----
    "q_c4_filter" -> ((s, dir) => {
      val structured = regexp_replace(
        regexp_replace(col("text"), " the ", " the. "),
        "((?:[^ ]+ ){5}[^ ]+) ", "$1\n")
      TextOps.c4LineFilter(
          docs(s, dir).select(col("doc_id"), structured.as("text")),
          minWords = 3)
        .orderBy(col("doc_id"))
    }),

    // ---- cross-document line dedup (RefinedWeb boilerplate removal):
    //      3-word lines from the 31-token vocab collide across docs
    //      naturally, plus planted newsletter/cookie boilerplate on every
    //      5th/7th doc; any line seen in >1 distinct doc vanishes from ALL
    //      docs. Oracle groups by line TEXT — doubles as the xxhash64
    //      collision check ----
    "q_line_dedup" -> ((s, dir) => {
      val structured = regexp_replace(col("text"), "((?:[^ ]+ ){2}[^ ]+) ", "$1\n")
      val boiler = when(col("doc_id") % 5 === 0,
          concat(structured, lit("\nsubscribe to our newsletter today")))
        .when(col("doc_id") % 7 === 0,
          concat(lit("accept all cookies to continue\n"), structured))
        .otherwise(structured)
      Dedup.crossDocLineDedup(
          docs(s, dir).select(col("doc_id"), boiler.as("text")))
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic training-shard assignment: md5-keyed shard +
    //      within-shard position, reproducible byte-for-byte by any md5
    //      implementation. nShards=256 (8-nibble fold) FORCED through the
    //      bucketed two-pass position path — the scaled plan is what the
    //      oracle checks, and no stage's parallelism is bounded by the
    //      shard count (VERDICT r4 #2) ----
    "q_shard" -> ((s, dir) =>
      graft.ops.Sampling.shardAssign(docs(s, dir).select(col("doc_id")), 256,
          forceScaled = true)
        .orderBy(col("doc_id"))),

    // ---- training-chunk index (concatenate-then-cut context windows):
    //      FORCED through the bucketed two-pass prefix sum (the scaled
    //      path is oracle-checked, like q_folio_text_scaled) ----
    "q_pack_index" -> ((s, dir) =>
      TextOps.packIndex(docs(s, dir), contextLen = 128, forceScaled = true)
        .orderBy(col("doc_id"))),

    // ---- chunk-major manifest (the loader-facing pivot of the pack
    //      index): one row per context chunk with its contributor list ----
    "q_pack_chunks" -> ((s, dir) =>
      TextOps.packChunks(docs(s, dir), contextLen = 128)
        .orderBy(col("chunk_id"))),

    // ---- greedy sequence packing (first-fit-decreasing within md5
    //      metadata buckets; capacity 64 BINDS on this corpus — long docs
    //      come out bin = -1, the split-or-drop contract) ----
    "q_pack_greedy" -> ((s, dir) =>
      graft.ops.Packing.greedyPack(docs(s, dir), capacity = 64, nBuckets = 8)
        .orderBy(col("doc_id"))),

    // ---- BPE first-merge pair counts (tokenizer-training input): K=30
    //      binds under the corpus's pair inventory ----
    "q_bpe_pairs" -> ((s, dir) =>
      TextOps.bpePairCounts(docs(s, dir), k = 30)),

    // ---- iterated BPE training (10 merges): one partial-combining
    //      shuffle + a TakeOrdered(1) argmax per round, state
    //      checkpointed per round (the nearDupClusters lineage
    //      discipline); golden mirrors the whole loop ----
    "q_bpe_train" -> ((s, dir) =>
      graft.ops.Bpe.train(docs(s, dir), numMerges = 10)
        .orderBy(col("merge_rank"))),

    // ---- BPE encode with the trained merges (train -> encode round
    //      trip): per-doc piece counts; the golden computes them from its
    //      OWN independently trained merge list ----
    "q_bpe_encode" -> ((s, dir) =>
      graft.ops.Bpe.encodeCounts(docs(s, dir), trainedMergesFor(s, dir))
        .orderBy(col("doc_id"))),

    // ---- DSIR importance resampling (hashed unigram+bigram log-ratio
    //      vs the en target slice, Gumbel-top-k with pinned
    //      pseudo-randomness): ONE bounded bucket aggregate + map-side
    //      scoring + TakeOrderedAndProject top-k ----
    "q_dsir" -> ((s, dir) =>
      graft.ops.Dsir.select(docs(s, dir), col("lang") === "en", k = 100)
        .orderBy(col("doc_id"))),

    // ---- RSS/Atom feed parsing (the freshness-side ingest XML next to
    //      sitemaps): map-only total parser over the feed fixture ----
    "q_feeds" -> ((s, dir) => {
      import s.implicits._
      val feeds = docs(s, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String)]
        .map { case (id, t) =>
          (s"https://feeds.example.org/f$id.xml", feedXml(id, t))
        }
        .toDF("feed_url", "feed_xml")
      graft.ops.Feeds.parse(feeds).orderBy(col("feed_url"), col("seq"))
    }),

    // ---- script-mix detection (language-ID's script gate): pinned
    //      Unicode-range counting over the transliterated fixture;
    //      map-only per-row kernel ----
    "q_script_mix" -> ((s, dir) => {
      import s.implicits._
      val transformed = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String, String)]
        .map { case (id, lang, t) => (id, scriptText(id, lang, t)) }
        .toDF("doc_id", "text")
      graft.ops.Scripts.detect(transformed).orderBy(col("doc_id"))
    }),

    // ---- per-shard distribution drift (KL vs corpus over the hashed
    //      feature buckets): the sharded-corpus quality monitor; one
    //      (shard, bucket) aggregate, enforced shard cap, driver KL
    //      folds over the bounded count table ----
    "q_shard_drift" -> ((s, dir) =>
      graft.ops.Dsir.divergence(docs(s, dir), col("source"))
        .orderBy(col("shard"))),

    // ---- WordPiece training (the BERT family, completing the tokenizer
    //      triple): likelihood-gain merges over the distributed word
    //      histogram, exact local loop under the enforced cap; integer
    //      count columns keep the golden float-free ----
    "q_wordpiece_train" -> ((s, dir) =>
      graft.ops.Wordpiece.train(docs(s, dir), numMerges = 10)
        .orderBy(col("merge_rank"))),

    // ---- WordPiece encode (train → encode round trip): greedy
    //      longest-match with ## continuations, whole-word [UNK] on any
    //      miss (minSymCount=2 makes hapax code points bind it) ----
    "q_wordpiece_encode" -> ((s, dir) =>
      graft.ops.Wordpiece.encodeCounts(fanOut(s, docs(s, dir)),
        trainedWordpieceFor(s, dir))
        .orderBy(col("doc_id"))),

    // ---- Unigram-LM tokenizer training (the SentencePiece family next
    //      to BPE): code-point substring seed → hard-EM Viterbi rounds →
    //      pruned vocab with portable-ln scores; the Bpe.train dispatch
    //      discipline (exact local under the word cap, one distributed
    //      job per stage past it — integer counts make both paths
    //      bit-identical) ----
    "q_unigram_train" -> ((s, dir) =>
      graft.ops.Unigram.train(docs(s, dir))
        .orderBy(col("rank"))),

    // ---- Unigram encode (train → encode round trip): max-likelihood
    //      Viterbi segmentation per word against the broadcast vocab,
    //      identity fallback for unseen code points ----
    "q_unigram_encode" -> ((s, dir) =>
      graft.ops.Unigram.encodeCounts(fanOut(s, docs(s, dir)),
        trainedUnigramFor(s, dir))
        .orderBy(col("doc_id"))),

    // ---- tokenizer-aware packing pipeline (composition row): train BPE
    //      -> encode the corpus -> chunk-index by PIECES (not whitespace
    //      tokens) through the forced scaled prefix sum; the golden
    //      mirrors all three stages independently ----
    "q_tokenizer_pipeline" -> ((s, dir) =>
      TextOps.packIndexFromCounts(
          graft.ops.Bpe.encodeCounts(docs(s, dir), trainedMergesFor(s, dir)),
          contextLen = 256, forceScaled = true, nCol = "n_pieces")
        .orderBy(col("doc_id"))),

    // ---- cross-corpus MinHash join (document-level fuzzy
    //      decontamination): the eval set is every 17th doc, lightly
    //      mutated (drop every 41st token) and re-identified — each must
    //      fuzzy-match its source document across the two tables ----
    "q_minhash_join" -> ((s, dir) => {
      val leftC = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.minhashJoin(leftC, decontamEvalCorpus(s, dir), threshold = 0.5)
        .orderBy(col("left_id"), col("right_id"))
    }),

    // ---- fuzzy-decontamination CONSUMER (join -> anti-join): the cleaned
    //      training corpus after dropping every doc fuzzy-matching the
    //      eval set — the same fixtures as q_minhash_join, so the golden
    //      mirrors join + drop independently ----
    "q_decontam_drop" -> ((s, dir) => {
      val leftC = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.decontaminate(leftC, decontamEvalCorpus(s, dir), threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- snapshot diff between two crawls: every 7th doc removed, every
    //      5th surviving doc mutated, every 11th re-added under a new id —
    //      all four statuses bind; the oracle compares TEXT (the digest
    //      collision check) while the op joins 16-byte digests ----
    "q_snapshot_diff" -> ((s, dir) => {
      val prior = docs(s, dir).select(col("doc_id"), col("text"))
      val current = prior.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(prior.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 7000000L).as("doc_id"), col("text")))
      Dedup.snapshotDiff(current, prior).orderBy(col("doc_id"))
    }),

    // ---- Unicode-NFC dedup keys: composed (U+00E9) vs decomposed
    //      (e+U+0301) suffixes planted on paired docs group together ONLY
    //      under NFC — JDK Normalizer vs DuckDB's own nfc_normalize, two
    //      independent Unicode implementations checking each other ----
    "q_nfc_dedup" -> ((s, dir) => {
      Functions.register(s)
      val base = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" caf\u00e9 touch\u00e9")).as("text"))
      val deco = docs(s, dir).filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" cafe\u0301 touche\u0301")).as("text"))
      Dedup.exactDuplicateGroups(
          base.unionAll(deco).select(col("doc_id"),
            expr("nfc_normalize(text)").as("text")))
        .orderBy(col("canonical_doc_id"))
    }),

    // ---- compression-ratio quality signal (deflate level 6, raw stream;
    //      boilerplate compresses far below prose) ----
    "q_compress_ratio" -> ((s, dir) =>
      TextOps.compressionRatios(docs(s, dir)).orderBy(col("doc_id"))),

    // ---- token-rarity scoring (the perplexity-filter role, frequency-
    //      based and exact): per-doc summed corpus token frequency ----
    "q_token_rarity" -> ((s, dir) =>
      TextOps.tokenRarityScores(docs(s, dir)).orderBy(col("doc_id"))),

    // ---- quality-filter VERDICT (C4/Gopher rule engine): keep/drop + the
    //      first failing rule, over a corpus with planted degenerate docs
    //      (truncated, spam-repetitive, digit-heavy) so every rule binds ----
    "q_quality_filter" -> ((s, dir) => {
      val mutated = when(col("doc_id") % 13 === 0,
          array_join(slice(split(col("text"), " "), 1, 5), " "))
        .when(col("doc_id") % 9 === 0, trim(repeat(lit("spam "), 40)))
        .when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" "), trim(repeat(lit("0123456789 "), 10))))
        .otherwise(col("text"))
      TextOps.qualityFilterVerdict(
          docs(s, dir).select(col("doc_id"), mutated.as("text")))
        .orderBy(col("doc_id"))
    }),

    // ---- language-ID heuristic (kernel UDF; accuracy asserted in tests) ----
    "q_langid" -> ((s, dir) => {
      Functions.register(s)
      docs(s, dir).select(col("doc_id"), col("lang"),
        expr("lang_id(text)").as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // ---- document fingerprinting (rolling-hash winnowing) ----
    "q_fingerprint" -> ((s, dir) => {
      Functions.register(s)
      docs(s, dir).select(col("doc_id"), expr("doc_fingerprint(text)").as("fp"))
    }),

    // ---- MinHash LSH near-dup detection over planted near-dups ----
    "q_minhash_dedup" -> ((s, dir) =>
      Dedup.minhashNearDups(docsWithNearDups(s, dir), threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ---- SimHash near-dup detection (the web-scale Manku config: 16-bit
    //      combination keys, guaranteed recall to Hamming radius 6,
    //      hamming<=7 candidates kept when they surface) ----
    "q_simhash_dedup" -> ((s, dir) =>
      Dedup.simhashNearDups(docsWithNearDups(s, dir), keyChunks = 2)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ---- near-dup CLUSTER resolution (VERDICT r3 missing #1): union the
    //      minhash + simhash verified pair sets, connected components via
    //      bounded min-label propagation, canonical = min doc_id. The
    //      oracle recomputes the components independently with a DuckDB
    //      recursive CTE over the golden pair tables ----
    "q_dedup_clusters" -> ((s, dir) =>
      nearDupClustersFor(s, dir).orderBy(col("doc_id"))),

    // ---- near-dup SURVIVORS: the deduped corpus (drop every cluster
    //      member except its canonical) — pairs → clusters → corpus, the
    //      full pipeline a 100 TB dedup actually ships ----
    "q_dedup_survivors" -> ((s, dir) =>
      Dedup.dedupSurvivors(docsWithNearDups(s, dir), nearDupClustersFor(s, dir))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // ---- FULL training-data pipeline composition (VERDICT r4 next #6):
    //      near-dup survivors (minhash ∪ simhash pairs → clusters →
    //      canonical-only corpus) → quality gate → BPE encode → pack
    //      index at C=256 through the forced scaled prefix sum. The
    //      deepest composition row: four operator families chained on
    //      their real column contracts, each stage mirrored independently
    //      in the Python golden ----
    "q_pipeline" -> ((s, dir) => {
      val survivors = graft.ops.CacheRegistry.register(
        Dedup.dedupSurvivors(docsWithNearDups(s, dir), nearDupClustersFor(s, dir))
          .persist())
      val quality = survivors.join(
        TextOps.qualityFilterVerdict(survivors.select(col("doc_id"), col("text")))
          .filter(col("keep")).select(col("doc_id")), Seq("doc_id"))
      TextOps.packIndexFromCounts(
          graft.ops.Bpe.encodeCounts(quality, trainedMergesFor(s, dir)),
          contextLen = 256, forceScaled = true, nCol = "n_pieces")
        .orderBy(col("doc_id"))
    }),

    // ---- cross-document duplicate SPANS (substring-dedup signal): token
    //      offsets of 8-token windows that also occur in another document —
    //      the masking input for span-level dedup; shuffle carries
    //      (hash, doc_id) only ----
    "q_dup_spans" -> ((s, dir) =>
      TextOps.duplicateSpans(docsWithNearDups(s, dir), n = 8, stride = 1)
        .orderBy(col("doc_id"), col("tok_start"))),

    // ---- span MASKING (the consumer of q_dup_spans): cut every token
    //      covered by a cross-doc duplicated window, keep the unique
    //      remainder — relational gaps-and-islands interval merge, per-doc
    //      bounded UDF cut ----
    "q_mask_spans" -> ((s, dir) => {
      val corpus = docsWithNearDups(s, dir)
      TextOps.maskDuplicateSpans(corpus,
          TextOps.duplicateSpans(corpus, n = 8, stride = 1), n = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- winnowing similarity over the planted near-dup pairs.
    //      FIXTURE-SHAPED PAIRING (not a general operator): candidates come
    //      from the planted `doc_id + 1000000` convention, because the row
    //      under test is the winnow KERNEL — general candidate generation
    //      is the LSH ops' job (q_minhash_dedup/q_simhash_dedup) ----
    "q_winnow_dedup" -> ((s, dir) => {
      Functions.register(s)
      val d = docsWithNearDups(s, dir)
      d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1000000)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("winnow_similarity(a.text, b.text)").as("winnow_sim"))
        .filter(col("winnow_sim") >= 0.3)
        .orderBy(col("doc_a"))
    }),

    // ---- n-gram Jaccard verification of planted pairs. Same
    //      fixture-shaped pairing as q_winnow_dedup: the kernel is the row
    //      under test, the LSH ops own general pairing ----
    "q_ngram_jaccard" -> ((s, dir) => {
      Functions.register(s)
      val d = docsWithNearDups(s, dir)
      d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1000000)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("ngram_jaccard(a.text, b.text)").as("jaccard"))
        .orderBy(col("doc_a"))
    }),

    // ---- ANN: brute-force cosine top-k (exact baseline) ----
    "q_ann_brute" -> ((s, dir) =>
      Similarity.bruteForceTopK(tbl(s, dir, "embeddings"), queryMaxId = 20, k = 5)),

    // ---- JL random projection (64-d → 16-d; pinned fold order makes the
    //      projected doubles bit-exact vs the Python mirror) ----
    "q_rp_reduce" -> ((s, dir) =>
      Similarity.reduceDims(tbl(s, dir, "embeddings"), outDim = 16)
        .orderBy(col("vec_id"), col("dim"))),

    // ---- ANN: LSH-bucketed (scale path) ----
    "q_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(tbl(s, dir, "embeddings"), queryMaxId = 20, k = 5)),

    // ---- ANN: IVF (k-means inverted lists, probe re-rank) ----
    "q_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(tbl(s, dir, "embeddings"), queryMaxId = 20, k = 5)),

    // ---- ANN: int8-quantized brute force (the 4x-memory scale path;
    //      per-vector scales cancel in cosine so ranking runs on the
    //      int8 bytes alone) ----
    "q_ann_quantized" -> ((s, dir) =>
      Similarity.quantizedTopK(tbl(s, dir, "embeddings"), queryMaxId = 20, k = 5)),

    // ---- ANN: IVF x int8 (the two scale paths COMPOSED — float
    //      centroids drive bucketing, the corpus carries only int8 bytes
    //      into the probe join and re-rank) ----
    "q_ann_ivf_q8" -> ((s, dir) =>
      Similarity.ivfQuantizedTopK(tbl(s, dir, "embeddings"), queryMaxId = 20, k = 5)),

    // ---- ANN quality as a recorded metric row (VERDICT r3 #7): recall@5
    //      of the LSH and IVF paths against the exact brute-force top-k —
    //      all three deterministic, so the recall itself is a hard oracle
    //      value, not a flaky statistic ----
    "q_ann_recall" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      // the five method constructions each run a chain of tiny driver jobs
      // (codebook builds, probe collects) — sequentially they serialized
      // ~29 one-task jobs (round-7 probe); constructing them concurrently
      // overlaps those chains (guide §2.6: actions are only sequential
      // because the driver calls them sequentially)
      import scala.concurrent.{Await, Future, ExecutionContext}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val fBrute = Future(Similarity.bruteForceTopK(e, queryMaxId = 20, k = 5)
        .select(col("q_id"), col("neighbor_id")))
      val fLsh = Future(Similarity.lshTopK(e, queryMaxId = 20, k = 5)
        .select(lit("lsh").as("method"), col("q_id"), col("neighbor_id")))
      val fIvf = Future(Similarity.ivfTopK(e, queryMaxId = 20, k = 5)
        .select(lit("ivf").as("method"), col("q_id"), col("neighbor_id")))
      val fQ8 = Future(Similarity.quantizedTopK(e, queryMaxId = 20, k = 5)
        .select(lit("q8").as("method"), col("q_id"), col("neighbor_id")))
      val fIvfQ8 = Future(Similarity.ivfQuantizedTopK(e, queryMaxId = 20, k = 5)
        .select(lit("ivf_q8").as("method"), col("q_id"), col("neighbor_id")))
      import scala.concurrent.duration.Duration
      val (brute, cand) =
        try {
          val b = Await.result(fBrute, Duration.Inf)
          val c = Await.result(fLsh, Duration.Inf)
            .unionAll(Await.result(fIvf, Duration.Inf))
            .unionAll(Await.result(fQ8, Duration.Inf))
            .unionAll(Await.result(fIvfQ8, Duration.Inf))
          (b, c)
        } finally pool.shutdown()
      cand.join(brute, Seq("q_id", "neighbor_id"))
        .groupBy(col("method"))
        .agg(count(lit(1)).as("hits"))
        .crossJoin(brute.agg(count(lit(1)).as("total")))
        .select(col("method"), col("hits"),
          (col("hits").cast("double") / col("total")).as("recall_at_k"))
        .orderBy(col("method"))
    }),

    // ---- embedding-cosine near-dup pairs (planted perturbed copies) ----
    "q_embed_near_dups" -> ((s, dir) => {
      import s.implicits._
      val e = tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val perturbed = e.filter(col("vec_id") % 20 === 0)
        .as[(Long, Seq[Float])]
        .map { case (id, v) =>
          val rng = new PageGen.Rng(id ^ 0x3141592653L)
          (id + 1000000L,
            v.map(x => x + (rng.nextDouble().toFloat - 0.5f) * 0.01f))
        }.toDF("vec_id", "embedding")
      Similarity.embeddingNearDups(e.unionAll(perturbed), threshold = 0.95)
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // ---- SemDedup (cluster-then-prune semantic dedup) over the SAME
    //      perturbed union as q_embed_near_dups: planted near-identical
    //      pairs must co-cluster and prune to their min-id keeper ----
    "q_semdedup" -> ((s, dir) => {
      import s.implicits._
      val e = tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val perturbed = e.filter(col("vec_id") % 20 === 0)
        .as[(Long, Seq[Float])]
        .map { case (id, v) =>
          val rng = new PageGen.Rng(id ^ 0x3141592653L)
          (id + 1000000L,
            v.map(x => x + (rng.nextDouble().toFloat - 0.5f) * 0.01f))
        }.toDF("vec_id", "embedding")
      Similarity.semDedup(e.unionAll(perturbed), threshold = 0.95)
        .orderBy(col("vec_id"))
    }),

    // ---- hierarchical (two-codebook) SemDedup over the SAME perturbed
    //      union, k1/k2 FORCED so the coarse×fine cell path genuinely
    //      binds (the 10^12-row extension: two small codebooks express
    //      k1·k2 cells with MB-scale broadcasts) ----
    "q_semdedup_hier" -> ((s, dir) => {
      import s.implicits._
      val e = tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val perturbed = e.filter(col("vec_id") % 20 === 0)
        .as[(Long, Seq[Float])]
        .map { case (id, v) =>
          val rng = new PageGen.Rng(id ^ 0x3141592653L)
          (id + 1000000L,
            v.map(x => x + (rng.nextDouble().toFloat - 0.5f) * 0.01f))
        }.toDF("vec_id", "embedding")
      Similarity.semDedupHier(e.unionAll(perturbed), threshold = 0.95,
        k1 = 6, k2 = 5)
        .orderBy(col("vec_id"))
    }),

    // ---- multimodal stub pipeline ----
    "q_media_features" -> ((s, dir) => {
      import s.implicits._
      Multimodal.extractFeatures(Multimodal.synthMedia(s, dir)).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("frames_sampled"))
    }),

    // ---- O17 parse_transcript (syllables + word-begin flags) ----
    "q_parse_transcript" -> ((s, dir) => {
      import s.implicits._
      fanOut(s, docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
        .mapPartitions { it =>
          val cache = new Syllabify.Cache // per-partition memo
          it.flatMap { case (id, text) =>
            val (syls, flags) = Syllabify.parseTranscript(Seq(CleanText.clean(text)), cache)
            syls.zip(flags).zipWithIndex.map { case ((syl, fl), i) => (id, i, syl, fl) }
          }
        }.toDF("doc_id", "pos", "syl", "word_begin")
    }),

    // ---- O40–O43 evaluation: alternative-scoring spans vs default-scoring
    //      ground truth on the SAME noisy stream (the reference's try_params
    //      shape: fixed GT boxes, varying seq_align_params) ----
    "q_eval_alignment" -> ((s, dir) => {
      val pages = AlignJob.synthPages(s, dir)
      val salt = s.sparkContext.defaultParallelism
      // ONE kernel pass produces both span systems (pages are synthesized +
      // extracted once), then ONE url shuffle scores them — no persist, no
      // candidate-pair theta-join (VERDICT r1 #6). The relational
      // EvalJob.evaluate form is exercised (and oracle-checked) by
      // q_eval_gtxml; both forms are asserted row-identical in tests.
      val both = AlignJob.spansMulti(pages,
        Seq("gt" -> graft.align.Scoring.Default,
          "pred" -> graft.align.Scoring.symmetric(10, -5, -7, -7)),
        saltPartitions = salt)
      EvalJob.evaluateGrouped(both, "gt", "pred").orderBy(col("url"))
    }),

    // ---- O45 MEI enrichment (writeToMEI.py:41-145): neume→syllable
    //      assignment by translated-bbox max-intersection, duplicate-element
    //      merge, zone emission — over deterministically synthesized neume
    //      boxes above the aligned spans ----
    "q_mei_assign" -> ((s, dir) => {
      // spans feed BOTH synthNeumes and the join's span side — the
      // session-memoized aligned table (alignedFor) keeps the kernel
      // computed once for this AND the other four alignment consumers
      // (round 7: the old per-query persist never cache-hit across calls
      // because align()'s accumulators make each plan unique)
      val spans = AlignJob.spansDf(alignedFor(s, dir))
      MeiAssign.assign(MeiAssign.synthNeumes(spans), spans, medLineSpacing = 1.0)
    }),

    // ---- O45 to the FILE boundary: the MEI-shaped XML document per url,
    //      byte-identical (modulo normalized random xml:ids) to Python
    //      ElementTree's serialization of the reference-edited tree ----
    "q_mei_xml" -> ((s, dir) => {
      val spans = AlignJob.spansDf(alignedFor(s, dir))
      val neumes = graft.ops.CacheRegistry.register(
        MeiAssign.synthNeumes(spans).persist())
      MeiAssign.serializeXml(neumes,
        MeiAssign.assign(neumes, spans, medLineSpacing = 1.0))
    }),

    // ---- O40–O43 E3 path: evaluation against HUMAN ground truth from
    //      PASCAL-VOC XML (evaluate_text_alignment.py:82-131), committed
    //      fixtures incl. `difficult` filtering ----
    "q_eval_gtxml" -> ((s, dir) => {
      import s.implicits._
      val fixtureDir = s"$RepoDir/src/test/resources/gtxml"
      val listed = new java.io.File(fixtureDir).listFiles()
      if (listed == null || !listed.exists(_.getName.endsWith(".xml"))) {
        // fail loudly as a configuration error — Verify/Bench catch and
        // report per-query, so only THIS query fails, with an actionable
        // message (an error-shaped data row would masquerade as a
        // correctness regression in the golden compare instead)
        throw new IllegalStateException(
          s"GT-XML fixture dir missing or empty: $fixtureDir (set GRAFT_REPO_DIR)")
      } else {
        val files = listed.filter(_.getName.endsWith(".xml")).sortBy(_.getName)
        val gt = files.map { f =>
          val docId = f.getName.stripSuffix(".xml").toLong
          GtXml.toDataFrame(s, PageGen.urlFor(docId),
            new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        }.reduce(_ unionAll _)
        val urls = files.map(f => PageGen.urlFor(f.getName.stripSuffix(".xml").toLong)).toSet
        val pages = AlignJob.synthPages(s, dir).filter(p => urls.contains(p.url))
        val pred = AlignJob.spans(AlignJob.align(pages))
        EvalJob.evaluate(gt, pred).orderBy(col("url"))
      }
    }),

    // ---- O44 scoring-parameter grid search (distributed fan-out) ----
    "q_grid_search" -> ((s, dir) => {
      import s.implicits._
      val fixtures = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)].orderBy(col("doc_id")).take(3)
        .map { case (id, text) =>
          val tra = CleanText.clean(text)
          (tra, PageGen.noisyRender(tra, id))
        }.toSeq
      EvalJob.gridSearch(s, fixtures)
    }),

    // ---- parse_cantus_csv composite: per-folio transcript assembly
    //      (filter→group→within-group sort→concat→lag of previous folio's
    //      last chant, parse_cantus_csv.py:81-126) over orders ----
    "q_folio_text" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val perCust = orders.groupBy(col("o_custkey"))
        .agg(
          max(col("o_orderkey")).as("last_okey"),
          array_join(array_sort(collect_list(col("o_orderkey").cast("string"))), " ")
            .as("own_text"))
      graft.ops.ScaleWindows
        // boundary-exchange global lag — no single-partition window
        .withGlobalLag(perCust, "o_custkey", "last_okey", "prev_last")
        .select(col("o_custkey"),
          trim(concat_ws(" ", col("prev_last").cast("string"), col("own_text")))
            .as("folio_text"))
    }),

    // ---- the SAME per-folio assembly with the boundary-exchange lag path
    //      FORCED (smallInputThreshold = 0): the code that ships for 100×
    //      is the code that is hash-checked (VERDICT r2 #2). Plan-asserted
    //      bucketed (no single-partition window) in ScaleShapeSpec. ----
    "q_folio_text_scaled" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val perCust = orders.groupBy(col("o_custkey"))
        .agg(
          max(col("o_orderkey")).as("last_okey"),
          array_join(array_sort(collect_list(col("o_orderkey").cast("string"))), " ")
            .as("own_text"))
      graft.ops.ScaleWindows
        .withGlobalLag(perCust, "o_custkey", "last_okey", "prev_last",
          smallInputThreshold = 0)
        .select(col("o_custkey"),
          trim(concat_ws(" ", col("prev_last").cast("string"), col("own_text")))
            .as("folio_text"))
    }),

    // ---- per-document JSON sink shape (to_JSON_dict, alignToOCR.py:333-351) ----
    "q_doc_json" -> ((s, dir) => {
      val spans = AlignJob.spansDf(alignedFor(s, dir))
      spans.groupBy(col("url"))
        .agg(to_json(expr(
          "transform(array_sort(collect_list(struct(seq, syl, array(ulx, uly) AS ul, array(lrx, lry) AS lr))), " +
            "x -> struct(x.syl AS syl, x.ul AS ul, x.lr AS lr))"))
          .as("syl_boxes"))
        .orderBy(col("url"))
    }),

    // ---- the reference's CSV entry point end-to-end (O23-O29 + O8 + O11,
    //      parse_cantus_csv.filename_to_text_func) over the committed
    //      Cantus-shaped fixture; byte-identical to the reference
    //      (CantusCsvSpec) ----
    "q_cantus_folio_text" -> ((s, _) =>
      pipeline.CantusCsv.folioTexts(s, s"$RepoDir/src/test/resources/cantus_like.csv")),

    // ---- sessionization over events (gap-based, 30-minute timeout):
    //      lag + cumulative sum — the batch form of stateful sessionizing ----
    "q_sessionize" -> ((s, dir) => {
      // exact microsecond arithmetic on both engines (second-level casts
      // truncate/round differently across engines)
      val tsUs = unix_micros(col("ts").cast("timestamp"))
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      tbl(s, dir, "events")
        .withColumn("ts_us", tsUs)
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            (col("ts_us") - col("prev_us")) > 1800000000L, 1).otherwise(0))
        .withColumn("session_seq", sum(col("new_session")).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("session_start_us"),
          max(col("ts_us")).as("session_end_us"))
    }),

    // ---- union-bbox UDAF (the O19 span-union fold, relational form) ----
    "q_bbox_union" -> ((s, dir) => {
      Functions.register(s)
      tbl(s, dir, "part").select(
          col("p_brand"),
          (col("p_partkey") % 97).as("ulx"), (col("p_partkey") % 89).as("uly"),
          (col("p_partkey") % 97 + 1 + col("p_size") % 13).as("lrx"),
          (col("p_partkey") % 89 + 1 + col("p_size") % 11).as("lry"))
        .groupBy(col("p_brand"))
        .agg(expr("bbox_union(ulx, uly, lrx, lry)").as("bb"))
        .select(col("p_brand"), col("bb.ulx").as("ulx"), col("bb.uly").as("uly"),
          col("bb.lrx").as("lrx"), col("bb.lry").as("lry"))
        .orderBy(col("p_brand"))
    }),

    // ---- CSV source scan (O23) ----
    "q_csv_scan" -> ((s, dir) => {
      val tmp = scratchDir(s, "csv_scan")
      docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("doc_id LONG, lang STRING, n_chars LONG")
        .csv(tmp)
        .filter(col("n_chars") > 100)
        .orderBy(col("doc_id"))
    }),

    // ---- JSONL source + sink (O23 sibling — the dominant webtext
    //      interchange format): write the projection as JSON lines, read it
    //      back through the JSON source with an explicit schema. No
    //      pre-write sort: multi-file read-back order is not preserved
    //      anyway, and the post-read orderBy defines the compared output ----
    "q_jsonl_scan" -> ((s, dir) => {
      val tmp = scratchDir(s, "jsonl_scan")
      docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").json(tmp)
      s.read.schema("doc_id LONG, lang STRING, n_chars LONG").json(tmp)
        .filter(col("n_chars") > 100)
        .orderBy(col("doc_id"))
    }),

    // ---- streaming batch-equivalence rows (VERDICT r2 missing #3): the
    //      streaming surface executed AvailableNow against hard oracles.
    //      These queries are EAGER — they run the stream to completion at
    //      construction time and return the sink contents. ----

    // ---- kill/rerun resumability under a hard oracle (VERDICT r3 #5):
    //      run the checkpointed flagship with maxWaves=1 (one bucket), stop
    //      — the simulated kill — then invoke AGAIN from nothing but the
    //      on-disk manifest; the second run must process ONLY the
    //      uncommitted bucket, and the stitched output table must equal the
    //      single-shot reference-executed alignment golden ----
    "q_resume" -> ((s, dir) => {
      val tmp = scratchDir(s, "resume")
      rmTree(tmp) // this row certifies the rerun protocol, not stale reuse
      val pages = graft.pipeline.AlignJob.synthPages(s, dir)
      val first = graft.pipeline.ResumableAlignRunner.run(
        pages, tmp, nBuckets = 2, bucketsPerWave = 1, maxWaves = 1)
      // -- simulated kill: nothing survives to the second call but the dir --
      val second = graft.pipeline.ResumableAlignRunner.run(
        pages, tmp, nBuckets = 2, bucketsPerWave = 1)
      require(first == Seq(0) && second == Seq(1),
        s"resume protocol broken: first=$first second=$second")
      s.read.parquet(s"$tmp/spans")
        .select(col("url"), col("seq"), col("syl"),
          col("ulx"), col("uly"), col("lrx"), col("lry"))
    }),

    // the flagship kernel over a file-source stream; oracle = the SAME
    // reference-executed golden as batch q_align_spans
    "q_align_stream" -> ((s, dir) => {
      val tmp = scratchDir(s, "align_stream")
      AlignJob.synthPages(s, dir).toDF().write.parquet(s"$tmp/pages")
      graft.streaming.StreamingJobs.runAvailableNow(
        graft.streaming.StreamingJobs.alignStream(s, s"$tmp/pages"), s"$tmp/out")
      s.read.parquet(s"$tmp/out/data")
        .select(col("url"), col("seq"), col("syl"),
          col("ulx"), col("uly"), col("lrx"), col("lry"))
    }),

    // stateful sessionization: with a never-advancing watermark (3650 days)
    // no timeout emissions occur, so the Append-mode output is EXACTLY the
    // gap-closed sessions — every session except each user's final one —
    // which is deterministic and SQL-expressible (production uses a real
    // watermark; the horizon only bounds state, not correctness). The input
    // is written as ONE file so AvailableNow runs ONE micro-batch — the
    // equivalence additionally needs each user's events processed together
    // (across batches, an out-of-order event inside the watermark merges
    // backwards into the open session, which is correct streaming semantics
    // but not the batch split the SQL oracle computes)
    "q_sessionize_stream" -> ((s, dir) => {
      val tmp = scratchDir(s, "sessionize_stream")
      val src = tbl(s, dir, "events")
      src.coalesce(1).write.parquet(s"$tmp/events")
      val stream = s.readStream.schema(src.schema).parquet(s"$tmp/events")
      // 4 state partitions for the one-batch harness (semantics are
      // partition-count-independent; see withShufflePartitions)
      graft.streaming.StreamingJobs.withShufflePartitions(s, 4) {
        graft.streaming.StreamingJobs.runAvailableNow(
          graft.streaming.StreamingJobs
            .sessionizeStream(stream, watermarkDelay = "3650 days").toDF(),
          s"$tmp/out")
      }
      s.read.parquet(s"$tmp/out/data")
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"))
    }),

    // stream-static incremental dedup (the rolling-crawl ingest form):
    // the new batch STREAMS against the static prior-snapshot digest
    // table; stateless (no watermark state — the prior is fixed); same
    // corpus synthesis and SQL oracle shape as the batch
    // q_incremental_dedup
    "q_incremental_stream" -> ((s, dir) => {
      val tmp = scratchDir(s, "incr_stream")
      val prior = docs(s, dir).select(col("doc_id"), col("text"))
      newerCrawl(prior).write.parquet(s"$tmp/newer")
      graft.streaming.StreamingJobs.withShufflePartitions(s, 4) {
        graft.streaming.StreamingJobs.runAvailableNow(
          graft.streaming.StreamingJobs.incrementalDedupStream(
            s, s"$tmp/newer", prior),
          s"$tmp/out")
      }
      s.read.parquet(s"$tmp/out/data").select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // streaming FUZZY decontamination against a static broadcast eval
    // index (stateless, zero shuffle — the crawl-past-a-benchmark-suite
    // shape): same corpus synthesis as the batch q_decontam_drop, and the
    // SAME golden verbatim (anti-drift, like q_incremental_stream)
    "q_decontam_stream" -> ((s, dir) => {
      val tmp = scratchDir(s, "decontam_stream")
      docs(s, dir).select(col("doc_id"), col("text"))
        .write.parquet(s"$tmp/training")
      graft.streaming.StreamingJobs.withShufflePartitions(s, 4) {
        graft.streaming.StreamingJobs.runAvailableNow(
          graft.streaming.StreamingJobs.decontaminateStream(
            s, s"$tmp/training", decontamEvalCorpus(s, dir), threshold = 0.5),
          s"$tmp/out")
      }
      s.read.parquet(s"$tmp/out/data").select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // streaming exact dedup (dropDuplicatesWithinWatermark) over the
    // planted-duplicate corpus; emits the surviving text (deterministic —
    // duplicates share their text)
    "q_dedup_stream" -> ((s, dir) => {
      val tmp = scratchDir(s, "dedup_stream")
      docsWithExactDups(s, dir)
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
        .write.parquet(s"$tmp/docs")
      graft.streaming.StreamingJobs.withShufflePartitions(s, 4) {
        graft.streaming.StreamingJobs.runAvailableNow(
          graft.streaming.StreamingJobs.dedupDocsStream(s, s"$tmp/docs",
            horizon = "3650 days"),
          s"$tmp/out")
      }
      s.read.parquet(s"$tmp/out/data")
    }),

    // watermarked tumbling-window aggregation, Complete mode to a memory
    // sink: the full window table equals the batch aggregation
    "q_window_stream" -> ((s, dir) => {
      val tmp = scratchDir(s, "window_stream")
      val src = tbl(s, dir, "events")
      src.write.parquet(s"$tmp/events")
      val stream = s.readStream.schema(src.schema).parquet(s"$tmp/events")
      graft.streaming.StreamingJobs.withShufflePartitions(s, 4) {
        graft.streaming.StreamingJobs.runCompleteToMemory(
          graft.streaming.StreamingJobs.eventWindowStats(stream),
          "graft_window_stream")
      }
    })
  )

  /** DuckDB-equivalent SQL per oracle-checkable query (column names must
    * match the Spark result exactly — the driver sorts columns by name
    * before hashing).
    *
    * Three oracle classes:
    *   1. genuinely SQL-expressible queries — plain DuckDB SQL over the sf
    *      tables;
    *   2. kernel queries with a reference counterpart — committed golden
    *      parquet produced by the EXECUTING reference
    *      (tools/oracle/gen_kernel_goldens.py, sf0.01 inputs);
    *   3. kernel queries original to this library — committed golden parquet
    *      from clean-room Python reimplementations (tools/oracle/graftpy.py),
    *      a true independent differential, not Spark output.
    * DuckDB reads the golden parquet directly from its absolute path.
    */
  private val GoldenDir = s"$RepoDir/src/test/resources/goldens/sf0.01"

  private def golden(name: String): String =
    s"SELECT * FROM '$GoldenDir/$name.parquet'"

  /** The planted-exact-duplicate corpus (docsWithExactDups) as a DuckDB CTE —
    * shared by every oracle over that corpus so the definition can never
    * drift between them.
    */
  private val ExactDupsCte: String =
    "WITH u AS (SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0) "

  /** Shared oracle of the batch AND stream-static incremental-dedup rows
    * (identical semantics is the claim, so one definition — the
    * ExactDupsCte anti-drift rule); the Spark-side corpus synthesis is the
    * single [[newerCrawl]] below for the same reason.
    */
  private val IncrementalDedupSql: String =
    """WITH newer AS (
      |  SELECT doc_id + 5000000 AS doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN text ELSE text || ' fresh' END AS text
      |  FROM documents)
      |SELECT doc_id FROM newer
      |WHERE text NOT IN (SELECT text FROM documents)
      |ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** The simulated new crawl of the incremental-dedup rows: every prior doc
    * re-ids +5000000; every 3rd keeps its text (a true duplicate), the rest
    * gain a suffix. Mirrored verbatim in [[IncrementalDedupSql]].
    */
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

  /** Shared probe/snapshot synthesis of the two as-of queries (one
    * definition — the anti-drift rule; mirrored in [[AsofSql]]). Snapshot
    * (user_id, ts) uniqueness holds by construction: event timestamps are
    * globally distinct in the fixture.
    */
  private def asofSnaps(ev: DataFrame): DataFrame =
    ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ts"),
        col("event_id").as("snap_id"), col("value").as("snap_value"))

  private def asofProbes(ev: DataFrame): DataFrame =
    ev.select(col("event_id"), col("user_id"), col("ts"))

  /** Shared oracle of q_asof_join AND q_asof_scaled (identical semantics is
    * the claim — one SQL string): DuckDB's native ASOF LEFT JOIN, a true
    * independent implementation of the operator.
    */
  private val AsofSql: String =
    """WITH snaps AS (
      |  SELECT user_id, ts, event_id AS snap_id, value AS snap_value
      |  FROM events WHERE event_id % 10 = 0),
      |probes AS (SELECT event_id, user_id, ts FROM events)
      |SELECT p.event_id, p.user_id, s.snap_id, s.snap_value
      |FROM probes p ASOF LEFT JOIN snaps s
      |  ON p.user_id = s.user_id AND p.ts >= s.ts
      |ORDER BY p.event_id""".stripMargin.replace("\n", " ")

  private def newerCrawl(prior: DataFrame): DataFrame =
    prior.select((col("doc_id") + 5000000L).as("doc_id"),
      when(col("doc_id") % 3 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" fresh"))).as("text"))

  /** The PSL suffix + exception alternations the domain oracles splice
    * into their SQL — the SAME RE2-portable patterns
    * [[graft.ops.Domains.registeredDomain]] compiles from the committed
    * PSL snapshot (pinned convention: shared patterns, independent
    * engines; the golden-parquet domain oracle uses an INDEPENDENT
    * label-walk implementation instead).
    */
  private val pslPattern: String =
    graft.ops.Domains.suffixPattern(graft.ops.Domains.DefaultPsl)
  private val pslExcPattern: String =
    graft.ops.Domains.exceptionPattern(
      graft.ops.Domains.DefaultPsl.exceptions)

  def oracleSql: Map[String, String] = Map(
    // ---- golden-parquet oracles (reference-derived) ----
    "q_align_spans" -> golden("q_align_spans"),
    // kill/rerun must reproduce the identical single-shot table
    "q_resume" -> golden("q_align_spans"),
    "q_align_metrics" -> golden("q_align_metrics"),
    "q_extract_text" -> golden("q_extract_text"),
    "q_main_content" -> golden("q_main_content"),
    "q_markdown" -> golden("q_markdown"),
    // SHARED golden (anti-drift): the stream must equal the batch kernel
    "q_markdown_stream" -> golden("q_markdown"),
    "q_html_tables" -> golden("q_html_tables"),
    "q_classifier_score" -> golden("q_classifier_score"),
    "q_lm_perplexity" -> golden("q_lm_perplexity"),
    // three-family composition: committed classifier + LM goldens joined
    // with an inline alpha-ratio recompute; identical left-to-right
    // double arithmetic both engines
    "q_quality_ensemble" ->
      (s"""SELECT c.doc_id, c.logit, l.bits_per_token,
         |  CASE WHEN length(d.text) > 0 THEN
         |    CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS
         |      DOUBLE) / length(d.text) ELSE 0.0 END AS alpha_ratio,
         |  c.logit - 0.5 * l.bits_per_token +
         |    2.0 * (CASE WHEN length(d.text) > 0 THEN
         |      CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS
         |        DOUBLE) / length(d.text) ELSE 0.0 END) AS score,
         |  (c.logit - 0.5 * l.bits_per_token +
         |    2.0 * (CASE WHEN length(d.text) > 0 THEN
         |      CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS
         |        DOUBLE) / length(d.text) ELSE 0.0 END)) > -2.0 AS keep
         |FROM '$GoldenDir/q_classifier_score.parquet' c
         |JOIN '$GoldenDir/q_lm_perplexity.parquet' l
         |  ON c.doc_id = l.doc_id
         |JOIN documents d ON c.doc_id = d.doc_id"""
        .stripMargin.replace("\n", " ")),
    "q_lm_pruned" -> golden("q_lm_pruned"),
    "q_kn_perplexity" -> golden("q_kn_perplexity"),
    "q_classifier_train" -> golden("q_classifier_train"),
    "q_sent_langid" -> golden("q_sent_langid"),
    "q_pdf_text" -> golden("q_pdf_text"),
    "q_extract_route" -> golden("q_extract_route"),
    "q_fix_encoding" -> golden("q_fix_encoding"),
    // ---- link graph: edges + pagerank are clean-room Python goldens;
    //      the three aggregates run DuckDB SQL over the COMMITTED golden
    //      edge table (independent aggregation engine over an independent
    //      edge extraction — drift in either side fails the row) ----
    "q_link_edges" -> golden("q_link_edges"),
    "q_pagerank" -> golden("q_pagerank"),
    "q_harmonic" -> golden("q_harmonic"),
    "q_hits" -> golden("q_hits"),
    "q_lpa" -> golden("q_lpa"),
    // graph-shape stats recomputed by DuckDB over the committed edge
    // golden — independent engine, same deduped edge set
    "q_graph_stats" ->
      (s"""WITH e AS (SELECT DISTINCT src, dst
         |  FROM '$GoldenDir/q_link_edges.parquet')
         |SELECT
         |  (SELECT count(*) FROM e) AS n_edges,
         |  (SELECT count(*) FROM
         |     (SELECT src AS u FROM e UNION SELECT dst FROM e)) AS n_nodes,
         |  (SELECT count(*) FROM e WHERE src = dst) AS n_self_loops,
         |  (SELECT count(*) FROM e a JOIN e b
         |     ON a.src = b.dst AND a.dst = b.src
         |     WHERE a.src <> a.dst) AS n_reciprocal_edges,
         |  (SELECT max(c) FROM
         |     (SELECT count(*) AS c FROM e GROUP BY src)) AS max_out_degree,
         |  (SELECT max(c) FROM
         |     (SELECT count(*) AS c FROM e GROUP BY dst)) AS max_in_degree"""
        .stripMargin),
    // SHARED golden (anti-drift): distributed loop == exact local path
    "q_lpa_dist" -> golden("q_lpa"),
    "q_components" -> golden("q_components"),
    // SHARED golden: min-label fixpoint == union-find
    "q_components_dist" -> golden("q_components"),
    "q_components_multi" -> golden("q_components_multi"),
    "q_harmonic_hll" -> golden("q_harmonic_hll"),
    "q_robots" -> golden("q_robots"),
    "q_robots_meta" -> golden("q_robots_meta"),
    "q_sitemap" -> golden("q_sitemap"),
    "q_sitemap_seed" -> golden("q_sitemap_seed"),
    "q_html_meta" -> golden("q_html_meta"),
    "q_charset" -> golden("q_charset"),
    "q_frontier" ->
      (s"""WITH e AS (SELECT * FROM '$GoldenDir/q_link_edges.parquet'),
         |r AS (SELECT * FROM '$GoldenDir/q_robots.parquet'),
         |c AS (SELECT 'https://site' || (doc_id % 13) ||
         |  '.example.org/sec' || (doc_id % 5) || '/d/doc' || doc_id ||
         |  '.html' AS url FROM documents
         |  WHERE doc_id IS NOT NULL AND doc_id % 2 = 0),
         |cand AS (SELECT e.dst AS url, count(DISTINCT e.src) AS refs
         |  FROM e WHERE e.src IN (SELECT url FROM c)
         |    AND e.dst NOT IN (SELECT url FROM c) GROUP BY e.dst),
         |al AS (SELECT cand.url, r.host, cand.refs, r.crawl_delay FROM cand
         |  JOIN r ON cand.url = r.url WHERE r.allowed),
         |rk AS (SELECT url, host, refs, row_number() OVER
         |  (PARTITION BY host ORDER BY refs DESC, url) AS rnk,
         |  CASE WHEN crawl_delay IS NULL OR crawl_delay <= 0 THEN 5
         |       ELSE least(5, greatest(1,
         |         CAST(floor(7.0 / crawl_delay) AS BIGINT))) END AS bud
         |  FROM al)
         |SELECT url, host, refs, rnk FROM rk WHERE rnk <= bud"""
        .stripMargin.replace("\n", " ")),
    // the frontier CTE re-ranked by the committed q_pagerank golden
    "q_frontier_ranked" ->
      (s"""WITH e AS (SELECT * FROM '$GoldenDir/q_link_edges.parquet'),
         |r AS (SELECT * FROM '$GoldenDir/q_robots.parquet'),
         |pr AS (SELECT url, rank FROM '$GoldenDir/q_pagerank.parquet'),
         |c AS (SELECT 'https://site' || (doc_id % 13) ||
         |  '.example.org/sec' || (doc_id % 5) || '/d/doc' || doc_id ||
         |  '.html' AS url FROM documents
         |  WHERE doc_id IS NOT NULL AND doc_id % 2 = 0),
         |cand AS (SELECT e.dst AS url, count(DISTINCT e.src) AS refs
         |  FROM e WHERE e.src IN (SELECT url FROM c)
         |    AND e.dst NOT IN (SELECT url FROM c) GROUP BY e.dst),
         |cr AS (SELECT cand.url, cand.refs,
         |  coalesce(pr.rank, 0.0) AS rank FROM cand
         |  LEFT JOIN pr ON cand.url = pr.url),
         |al AS (SELECT cr.url, r.host, cr.rank, cr.refs, r.crawl_delay
         |  FROM cr JOIN r ON cr.url = r.url WHERE r.allowed),
         |rk AS (SELECT url, host, rank, refs, row_number() OVER
         |  (PARTITION BY host ORDER BY rank DESC, url) AS rnk,
         |  CASE WHEN crawl_delay IS NULL OR crawl_delay <= 0 THEN 5
         |       ELSE least(5, greatest(1,
         |         CAST(floor(7.0 / crawl_delay) AS BIGINT))) END AS bud
         |  FROM al)
         |SELECT url, host, rank, refs, rnk FROM rk WHERE rnk <= bud"""
        .stripMargin.replace("\n", " ")),
    // the same frontier CTE joined against the COMMITTED q_robots_meta
    // golden: the delay reaches the oracle via the hostMeta directive
    // parse, independently of the wave's own annotate-derived column
    "q_fetch_schedule" ->
      (s"""WITH e AS (SELECT * FROM '$GoldenDir/q_link_edges.parquet'),
         |r AS (SELECT * FROM '$GoldenDir/q_robots.parquet'),
         |c AS (SELECT 'https://site' || (doc_id % 13) ||
         |  '.example.org/sec' || (doc_id % 5) || '/d/doc' || doc_id ||
         |  '.html' AS url FROM documents
         |  WHERE doc_id IS NOT NULL AND doc_id % 2 = 0),
         |cand AS (SELECT e.dst AS url, count(DISTINCT e.src) AS refs
         |  FROM e WHERE e.src IN (SELECT url FROM c)
         |    AND e.dst NOT IN (SELECT url FROM c) GROUP BY e.dst),
         |al AS (SELECT cand.url, r.host, cand.refs, r.crawl_delay FROM cand
         |  JOIN r ON cand.url = r.url WHERE r.allowed),
         |rk AS (SELECT url, host, refs, row_number() OVER
         |  (PARTITION BY host ORDER BY refs DESC, url) AS rnk,
         |  CASE WHEN crawl_delay IS NULL OR crawl_delay <= 0 THEN 5
         |       ELSE least(5, greatest(1,
         |         CAST(floor(7.0 / crawl_delay) AS BIGINT))) END AS bud
         |  FROM al),
         |fw AS (SELECT url, host, refs, rnk FROM rk WHERE rnk <= bud),
         |m AS (SELECT host, CASE WHEN crawl_delay IS NULL OR
         |    crawl_delay <= 0 THEN 1.0 ELSE crawl_delay END AS delay_s
         |  FROM '$GoldenDir/q_robots_meta.parquet')
         |SELECT fw.url, fw.host, fw.refs, fw.rnk,
         |  coalesce(m.delay_s, 1.0) AS delay_s,
         |  (fw.rnk - 1) * coalesce(m.delay_s, 1.0) AS scheduled_at
         |FROM fw LEFT JOIN m ON fw.host = m.host"""
        .stripMargin.replace("\n", " ")),
    "q_bm25" -> golden("q_bm25"),
    "q_sentences" -> golden("q_sentences"),
    "q_warc_records" -> golden("q_warc_records"),
    // generated through the mirror's own gzip-member path; row-equal to
    // q_warc_records by construction (the generator asserts it)
    "q_warc_gz" -> golden("q_warc_gz"),
    "q_cdx" -> golden("q_cdx"),
    // shared-input fixture row: both engines read the committed
    // python-gzipped blobs, so spans/digests are engine-independent
    "q_cdx_gz" -> golden("q_cdx_gz"),
    "q_warc_http" -> golden("q_warc_http"),
    // the gz ingest composition must change NOTHING vs the plain path:
    // shares q_warc_http's golden verbatim (anti-drift)
    "q_ingest_gz_http" -> golden("q_warc_http"),
    "q_cdx_http" -> golden("q_cdx_http"),
    "q_wet" -> golden("q_wet"),
    "q_wat" -> golden("q_wat"),
    // recrawl scheduling recomputed by DuckDB windows over the committed
    // q_cdx_http golden — independent engine, same pinned capture order
    "q_recrawl" ->
      (s"""WITH c AS (SELECT * FROM '$GoldenDir/q_cdx_http.parquet'),
         |l AS (SELECT urlkey, digest, lag(digest) OVER (PARTITION BY urlkey
         |  ORDER BY warc_date, archive_id, rec_offset) AS pd FROM c),
         |a AS (SELECT urlkey, count(*) AS n_captures,
         |  CAST(sum(CASE WHEN pd IS NOT NULL AND pd <> digest
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
         |  FROM l GROUP BY 1)
         |SELECT urlkey, n_captures, n_changes,
         |  CASE WHEN n_captures = 1 THEN 'new'
         |       WHEN n_changes*2 >= n_captures-1 THEN 'hot'
         |       WHEN n_changes*4 >= n_captures-1 THEN 'warm'
         |       ELSE 'cold' END AS refresh_class
         |FROM a""".stripMargin),
    // budgets recomputed by a DuckDB window over the committed
    // q_harmonic golden (the harmonic values themselves are
    // hash-verified bit-identical by the q_harmonic row)
    "q_crawl_budget" ->
      (s"""WITH h AS (SELECT * FROM '$GoldenDir/q_harmonic.parquet'),
         |r AS (SELECT url, CAST(row_number() OVER
         |  (ORDER BY harmonic DESC, url ASC) AS BIGINT) AS rank FROM h)
         |SELECT url, rank, greatest(CAST(1 AS BIGINT),
         |  CAST(floor(1000.0 / rank) AS BIGINT)) AS budget FROM r"""
        .stripMargin),
    "q_blocklist" -> golden("q_blocklist"),
    // SHARED golden (anti-drift): the stream must equal the batch gate
    "q_blocklist_stream" -> golden("q_blocklist"),
    // revisit dedup recomputed by DuckDB windows over the committed
    // q_cdx_http golden — an independent engine over the same input
    "q_cdx_dedup" ->
      (s"""WITH c AS (SELECT * FROM '$GoldenDir/q_cdx_http.parquet'),
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
        .stripMargin.replace("\n", " ")),
    "q_warc_charset" -> golden("q_warc_charset"),
    // stream and batch share ONE golden — any drift between the streaming
    // micro-batch path and the batch kernel fails this row
    "q_ingest_stream" -> golden("q_warc_charset"),
    "q_rp_reduce" -> golden("q_rp_reduce"),
    "q_link_degrees" ->
      (s"""WITH e AS (SELECT * FROM '$GoldenDir/q_link_edges.parquet'),
         |o AS (SELECT src AS url, count(*) AS out_deg FROM e GROUP BY 1),
         |i AS (SELECT dst AS url, count(*) AS in_deg FROM e GROUP BY 1)
         |SELECT coalesce(o.url, i.url) AS url,
         |  coalesce(o.out_deg, 0) AS out_deg, coalesce(i.in_deg, 0) AS in_deg
         |FROM o FULL OUTER JOIN i ON o.url = i.url
         |ORDER BY url""".stripMargin.replace("\n", " ")),
    "q_anchor_text" ->
      (s"""WITH e AS (SELECT * FROM '$GoldenDir/q_link_edges.parquet')
         |SELECT dst, count(*) AS n_links,
         |  count(DISTINCT anchor) AS n_uniq_anchors,
         |  CASE WHEN count(*) <= 10000
         |    THEN string_agg(anchor, ' | ' ORDER BY anchor) END AS anchors
         |FROM e WHERE anchor <> '' GROUP BY dst ORDER BY dst"""
        .stripMargin.replace("\n", " ")),
    "q_host_graph" ->
      (s"""WITH e AS (SELECT * FROM '$GoldenDir/q_link_edges.parquet'),
         |h AS (SELECT split_part(split_part(src, '://', 2), '/', 1) AS src_host,
         |  split_part(split_part(dst, '://', 2), '/', 1) AS dst_host, src FROM e)
         |SELECT src_host, dst_host, count(*) AS n_links,
         |  count(DISTINCT src) AS n_pages
         |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
    "q_asof_join" -> AsofSql,
    "q_asof_scaled" -> AsofSql,
    "q_asof_stream" -> AsofSql,
    "q_top_terms" ->
      ("WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), " +
        "x -> x <> '')) AS term FROM documents WHERE doc_id IS NOT NULL), " +
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2), " +
        "df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, row_number() OVER " +
        "(PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk " +
        "FROM tf JOIN df USING (term)) " +
        "SELECT doc_id, term, tf, df, CAST(rnk AS INTEGER) AS rnk FROM r " +
        "WHERE rnk <= 5 ORDER BY doc_id, rnk"),
    "q_sample_per_group" ->
      ("WITH r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk FROM documents " +
        "WHERE doc_id IS NOT NULL) " +
        "SELECT doc_id, source, CAST(rnk AS INTEGER) AS rnk FROM r " +
        "WHERE rnk <= 7 ORDER BY source, rnk"),
    // the token definition (non-empty space tokens) and the 1-based
    // inclusive list slice are pinned on both engines
    "q_chunk_tokens" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS toks FROM documents), " +
        "c AS (SELECT doc_id, len(toks) AS n, toks, " +
        "unnest(range(0, len(toks), 12)) AS start FROM t WHERE len(toks) > 0) " +
        "SELECT doc_id, CAST(start // 12 AS INTEGER) AS chunk_id, " +
        "array_to_string(toks[start + 1 : start + 16], ' ') AS chunk_text, " +
        "CAST(least(16, n - start) AS INTEGER) AS n_tokens " +
        "FROM c ORDER BY doc_id, chunk_id"),
    "q_doc_json" -> golden("q_doc_json"),
    "q_syllabify" -> golden("q_syllabify"),
    "q_parse_transcript" -> golden("q_parse_transcript"),
    "q_eval_alignment" -> golden("q_eval_alignment"),
    "q_grid_search" -> golden("q_grid_search"),
    "q_cantus_folio_text" ->
      s"SELECT * FROM '$RepoDir/src/test/resources/goldens/q_cantus_folio_text.parquet'",
    "q_mei_assign" -> golden("q_mei_assign"),
    "q_mei_xml" -> golden("q_mei_xml"),
    "q_eval_gtxml" -> golden("q_eval_gtxml"),
    // ---- latest capture: an INDEPENDENT formulation (row_number window,
    //      not argmax) over the same synthesized captures ----
    "q_latest_capture" ->
      ("""WITH d AS (SELECT doc_id, text, 'https://' ||
         |    (CASE WHEN doc_id % 3 = 0 THEN 'www.'
         |          WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END) ||
         |    source || '-site.org/p/' || CAST(doc_id AS VARCHAR) AS url
         |  FROM documents),
         |caps AS (
         |  SELECT url, 1700000000000000 + doc_id * 1000000 AS ts_us, doc_id, text FROM d
         |  UNION ALL
         |  SELECT url, 1700000000000000 + doc_id * 1000000 + 86400000000 AS ts_us,
         |         doc_id, 'recrawled ' || text AS text
         |  FROM d WHERE doc_id % 5 = 0)
         |SELECT url, ts_us, doc_id, text FROM (
         |  SELECT *, row_number() OVER (PARTITION BY url ORDER BY ts_us DESC) AS rn
         |  FROM caps)
         |WHERE rn = 1 ORDER BY url""".stripMargin.replace("\n", " ")),

    // ---- normalized exact dedup: DuckDB recomputes the normalization
    //      with its own regex engine and groups by the normalized TEXT
    //      (doubling as a digest-collision check, like q_dedup_groups) ----
    "q_dedup_normalized" ->
      ("""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, '  ' || upper(text) || '?! ' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |n AS (SELECT doc_id,
         |        trim(regexp_replace(regexp_replace(lower(text),
         |          '[^a-z0-9 ]', ' ', 'g'), ' {2,}', ' ', 'g')) AS text
         |      FROM u)
         |SELECT min(doc_id) AS canonical_doc_id, count(*) AS dup_count
         |FROM n GROUP BY text HAVING count(*) > 1 ORDER BY 1""".stripMargin.replace("\n", " ")),

    // ---- BPE pair counts: same two-stage word-freq -> pair-explode in
    //      DuckDB (list_transform + generate_series mirrors Spark's
    //      transform + sequence; both substr forms are 1-based) ----
    "q_bpe_pairs" ->
      ("""WITH w AS (
         |  SELECT word, count(*) AS freq FROM (
         |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
         |    FROM documents) GROUP BY word),
         |pr AS (
         |  SELECT unnest(list_transform(generate_series(1, length(word) - 1),
         |           i -> substr(word, CAST(i AS INTEGER), 2))) AS pair, freq
         |  FROM w WHERE length(word) >= 2),
         |c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM pr GROUP BY pair
         |      ORDER BY pair_count DESC, pair LIMIT 30)
         |SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS INTEGER) AS rank,
         |       pair, pair_count
         |FROM c ORDER BY rank""".stripMargin.replace("\n", " ")),

    // ---- snapshot diff: same synthesis, classified by TEXT equality
    //      (doubles as the digest-collision check) ----
    "q_snapshot_diff" ->
      ("""WITH p AS (SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL),
         |c AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
         |        FROM p WHERE doc_id % 7 <> 0
         |      UNION ALL
         |      SELECT doc_id + 7000000 AS doc_id, text FROM p WHERE doc_id % 11 = 0),
         |j AS (SELECT coalesce(c.doc_id, p.doc_id) AS doc_id, c.text AS ct, p.text AS pt,
         |        c.doc_id IS NOT NULL AS inc, p.doc_id IS NOT NULL AS inp
         |      FROM c FULL OUTER JOIN p ON c.doc_id = p.doc_id)
         |SELECT doc_id,
         |  CASE WHEN NOT inp THEN 'added' WHEN NOT inc THEN 'removed'
         |       WHEN ct = pt THEN 'unchanged' ELSE 'changed' END AS status
         |FROM j ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // ---- NFC dedup: DuckDB's OWN nfc_normalize (an independent Unicode
    //      implementation) replays the canonicalization; chr() keeps the
    //      SQL ASCII-pure so no tool in the pipeline can re-normalize it ----
    "q_nfc_dedup" ->
      ("""WITH c AS (
         |  SELECT doc_id, text || ' caf' || chr(233) || ' touch' || chr(233) AS text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id, text || ' cafe' || chr(769) || ' touche' || chr(769) AS text FROM documents WHERE doc_id % 3 = 0),
         |n AS (SELECT doc_id, nfc_normalize(text) AS text FROM c)
         |SELECT min(doc_id) AS canonical_doc_id, count(*) AS dup_count
         |FROM n GROUP BY text HAVING count(*) > 1 ORDER BY 1""".stripMargin.replace("\n", " ")),

    // ---- url canonicalization: the same pinned regex chain replayed step
    //      by step in DuckDB (RE2) — explicit classes keep the patterns
    //      engine-portable ----
    "q_canon_url" ->
      ("""WITH m AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.' || upper(source) || '-Site.org:443/Path/' || CAST(doc_id AS VARCHAR) || '/?utm_source=x&utm_b=2#frag'
         |       WHEN doc_id % 4 = 1 THEN 'http://' || source || '-site.org:80/p/' || CAST(doc_id AS VARCHAR) || '?a=1&utm_x=9&gclid=z'
         |       WHEN doc_id % 4 = 2 THEN 'https://cdn.' || source || '-site.org/p/' || CAST(doc_id AS VARCHAR) || '/'
         |       ELSE 'http://' || source || '-site.org/p/' || CAST(doc_id AS VARCHAR) || '?fbclid=abc' END AS u
         |  FROM documents),
         |s1 AS (SELECT doc_id, regexp_replace(u, '#.*$', '', 'g') AS u FROM m),
         |s2 AS (SELECT doc_id, regexp_replace(u, '&(?:utm_[a-z0-9]+|fbclid|gclid)=[^&]*', '', 'g') AS u FROM s1),
         |s3 AS (SELECT doc_id, regexp_replace(u, '\?(?:utm_[a-z0-9]+|fbclid|gclid)=[^&]*&', '?', 'g') AS u FROM s2),
         |s4 AS (SELECT doc_id, regexp_replace(u, '\?(?:utm_[a-z0-9]+|fbclid|gclid)=[^&]*$', '', 'g') AS u FROM s3),
         |s5 AS (SELECT doc_id, lower(regexp_extract(u, '^[a-zA-Z]+://[^/?#]*', 0)) || regexp_replace(u, '^[a-zA-Z]+://[^/?#]*', '', 'g') AS u FROM s4),
         |s6 AS (SELECT doc_id, regexp_replace(u, '^(http://[^/:?#]+):80([/?#]|$)', '\1\2', 'g') AS u FROM s5),
         |s7 AS (SELECT doc_id, regexp_replace(u, '^(https://[^/:?#]+):443([/?#]|$)', '\1\2', 'g') AS u FROM s6)
         |SELECT doc_id, regexp_replace(u, '([^/])/$', '\1', 'g') AS canon_url
         |FROM s7 ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // ---- domain blocklist: same intl url/domain synthesis as
    //      q_domain_stats, NOT IN the blocked set (all three multi-label
    //      suffix shapes present) ----
    "q_domain_filter" ->
      (s"""WITH d AS (SELECT *, 'https://' ||
         |    (CASE WHEN doc_id % 3 = 0 THEN 'www.'
         |          WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END) ||
         |    source || '-site' ||
         |    (CASE WHEN doc_id % 6 = 0 THEN '.org'
         |          WHEN doc_id % 6 = 1 THEN '.co.uk'
         |          WHEN doc_id % 6 = 2 THEN '.com.au'
         |          WHEN doc_id % 6 = 3 THEN '.ac.jp'
         |          WHEN doc_id % 6 = 4 THEN '.xx.ck' ELSE '.www.ck' END) ||
         |    '/p/' || CAST(doc_id AS VARCHAR) AS url
         |  FROM documents),
         |h AS (SELECT *, regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host FROM d),
         |rd AS (SELECT *, CASE
         |    WHEN regexp_extract(host, '$pslExcPattern', 1) <> ''
         |    THEN regexp_extract(host, '$pslExcPattern', 1)
         |    WHEN regexp_extract(host, '$pslPattern', 1) <> ''
         |    THEN regexp_extract(host, '$pslPattern', 1)
         |    ELSE regexp_extract(host, '[^.]+\\.[^.]+$$', 0) END AS domain FROM h)
         |SELECT doc_id FROM rd
         |WHERE domain NOT IN ('src2-site.org', 'src7-site.co.uk',
         |  'src4-site.com.au', 'src5-site.ac.jp', 'src6-site.xx.ck', 'www.ck')
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // ---- per-domain stats: intl url synthesis + PSL-aware
    //      registered-domain extraction reimplemented with DuckDB regexes
    //      (not parse_url); the suffix alternation is the SAME pinned
    //      RE2-portable pattern the Spark side compiles ----
    "q_domain_stats" ->
      (s"""WITH d AS (SELECT *, 'https://' ||
         |    (CASE WHEN doc_id % 3 = 0 THEN 'www.'
         |          WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END) ||
         |    source || '-site' ||
         |    (CASE WHEN doc_id % 6 = 0 THEN '.org'
         |          WHEN doc_id % 6 = 1 THEN '.co.uk'
         |          WHEN doc_id % 6 = 2 THEN '.com.au'
         |          WHEN doc_id % 6 = 3 THEN '.ac.jp'
         |          WHEN doc_id % 6 = 4 THEN '.xx.ck' ELSE '.www.ck' END) ||
         |    '/p/' || CAST(doc_id AS VARCHAR) AS url
         |  FROM documents),
         |h AS (SELECT *, regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host FROM d)
         |SELECT CASE
         |    WHEN regexp_extract(host, '$pslExcPattern', 1) <> ''
         |    THEN regexp_extract(host, '$pslExcPattern', 1)
         |    WHEN regexp_extract(host, '$pslPattern', 1) <> ''
         |    THEN regexp_extract(host, '$pslPattern', 1)
         |    ELSE regexp_extract(host, '[^.]+\\.[^.]+$$', 0) END AS domain,
         |  count(*) AS n_docs,
         |  CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),

    // ---- golden-parquet oracles (independent Python reimplementation) ----
    "q_langid" -> golden("q_langid"),
    "q_stratified_sample" -> golden("q_stratified_sample"),
    "q_domain_sample" -> golden("q_domain_sample"),
    "q_upsample" -> golden("q_upsample"),
    "q_quantile_bucket" -> golden("q_quantile_bucket"),
    "q_mix_weights" -> golden("q_mix_weights"),
    "q_curate" -> golden("q_curate"),
    "q_compress_ratio" -> golden("q_compress_ratio"),
    "q_fingerprint" -> golden("q_fingerprint"),
    "q_winnow_dedup" -> golden("q_winnow_dedup"),
    "q_minhash_dedup" -> golden("q_minhash_dedup"),
    "q_simhash_dedup" -> golden("q_simhash_dedup"),
    "q_media_features" -> golden("q_media_features"),
    "q_ann_lsh" -> golden("q_ann_lsh"),
    "q_ann_ivf" -> golden("q_ann_ivf"),
    "q_ann_quantized" -> golden("q_ann_quantized"),
    "q_ann_ivf_q8" -> golden("q_ann_ivf_q8"),
    "q_pack_greedy" -> golden("q_pack_greedy"),
    "q_bpe_train" -> golden("q_bpe_train"),
    "q_wordpiece_train" -> golden("q_wordpiece_train"),
    "q_dsir" -> golden("q_dsir"),
    "q_shard_drift" -> golden("q_shard_drift"),
    "q_script_mix" -> golden("q_script_mix"),
    "q_feeds" -> golden("q_feeds"),
    "q_wordpiece_encode" -> golden("q_wordpiece_encode"),
    "q_unigram_train" -> golden("q_unigram_train"),
    "q_unigram_encode" -> golden("q_unigram_encode"),
    "q_bpe_encode" -> golden("q_bpe_encode"),
    "q_tokenizer_pipeline" -> golden("q_tokenizer_pipeline"),
    "q_minhash_join" -> golden("q_minhash_join"),
    "q_decontam_drop" -> golden("q_decontam_drop"),
    // the streaming form shares the BATCH row's golden verbatim — the two
    // implementations can never drift apart silently
    "q_decontam_stream" -> golden("q_decontam_drop"),
    "q_pipeline" -> golden("q_pipeline"),
    "q_repetition" -> golden("q_repetition"),
    "q_embed_cluster" -> golden("q_embed_cluster"),
    "q_embed_near_dups" -> golden("q_embed_near_dups"),
    "q_semdedup" -> golden("q_semdedup"),
    "q_semdedup_hier" -> golden("q_semdedup_hier"),

    // ---- exact-cosine brute force: computable directly in DuckDB (double
    //      dot/norms in input order — bit-identical to CosineSimilarity) ----
    "q_ann_brute" ->
      ("""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
         |           FROM embeddings WHERE vec_id < 20),
         |pairs AS (
         |  SELECT q.q_id, e.vec_id,
         |    list_dot_product(q.q_emb, e.embedding::DOUBLE[]) /
         |      (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
         |       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS score
         |  FROM embeddings e, q WHERE e.vec_id <> q.q_id)
         |SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
         |               ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank,
         |       vec_id AS neighbor_id, score
         |FROM pairs QUALIFY rank <= 5""".stripMargin.replace("\n", " ")),

    // ---- ANN recall: DuckDB recomputes the exact brute-force top-5 (same
    //      CTE as q_ann_brute) and scores the LSH/IVF GOLDEN tables against
    //      it — the golden side is the independently generated Python
    //      reimplementation, so both factors of the recall are independent
    //      of the Spark code under test ----
    "q_ann_recall" ->
      (s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
         |           FROM embeddings WHERE vec_id < 20),
         |pairs AS (
         |  SELECT q.q_id, e.vec_id,
         |    list_dot_product(q.q_emb, e.embedding::DOUBLE[]) /
         |      (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
         |       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS score
         |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |ranked AS (SELECT q_id, vec_id AS neighbor_id,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY score DESC, vec_id ASC) AS rank FROM pairs),
         |brute AS (SELECT q_id, neighbor_id FROM ranked WHERE rank <= 5),
         |cand AS (SELECT 'lsh' AS method, q_id, neighbor_id
         |           FROM '$GoldenDir/q_ann_lsh.parquet'
         |         UNION ALL SELECT 'ivf', q_id, neighbor_id
         |           FROM '$GoldenDir/q_ann_ivf.parquet'
         |         UNION ALL SELECT 'q8', q_id, neighbor_id
         |           FROM '$GoldenDir/q_ann_quantized.parquet'
         |         UNION ALL SELECT 'ivf_q8', q_id, neighbor_id
         |           FROM '$GoldenDir/q_ann_ivf_q8.parquet'),
         |tot AS (SELECT count(*) AS total FROM brute)
         |SELECT method, CAST(count(*) AS BIGINT) AS hits,
         |       count(*)::DOUBLE / (SELECT total FROM tot) AS recall_at_k
         |FROM cand JOIN brute USING (q_id, neighbor_id)
         |GROUP BY method ORDER BY method""".stripMargin.replace("\n", " ")),

    // ---- duplicate spans: DuckDB rebuilds the windows from TEXT (not
    //      hashes) and groups by window text — so this row is also the
    //      64-bit window-hash collision check at verify SF ----
    "q_dup_spans" ->
      ("""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |         array_to_string(list_filter(string_split(text, ' '),
         |                                     (x, i) -> (i - 1 + doc_id) % 37 <> 0), ' ') AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
         |w AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS tok_start,
         |        array_to_string(toks[i:i+7], ' ') AS win
         |      FROM t, UNNEST(range(1, len(toks) - 6)) AS r(i)
         |      WHERE len(toks) >= 8),
         |d AS (SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) > 1)
         |SELECT w.doc_id, w.tok_start FROM w JOIN d USING (win)
         |ORDER BY doc_id, tok_start""".stripMargin.replace("\n", " ")),

    // ---- span masking: same window/dup CTEs as q_dup_spans, then the
    //      identical gaps-and-islands merge in DuckDB SQL and a
    //      covered-index token filter ----
    "q_mask_spans" ->
      ("""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |         array_to_string(list_filter(string_split(text, ' '),
         |                                     (x, i) -> (i - 1 + doc_id) % 37 <> 0), ' ') AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
         |w AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS tok_start,
         |        array_to_string(toks[i:i+7], ' ') AS win
         |      FROM t, UNNEST(range(1, len(toks) - 6)) AS r(i)
         |      WHERE len(toks) >= 8),
         |d AS (SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) > 1),
         |sp AS (SELECT w.doc_id, w.tok_start FROM w JOIN d USING (win)),
         |i1 AS (SELECT doc_id, tok_start, tok_start + 8 AS e,
         |         max(tok_start + 8) OVER (PARTITION BY doc_id ORDER BY tok_start
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |       FROM sp),
         |i2 AS (SELECT *, CASE WHEN pme IS NULL OR tok_start > pme THEN 1 ELSE 0 END AS ni FROM i1),
         |i3 AS (SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY tok_start
         |         ROWS UNBOUNDED PRECEDING) AS island FROM i2),
         |isl AS (SELECT doc_id, island, min(tok_start) AS s, max(e) AS e FROM i3 GROUP BY 1, 2),
         |cov AS (SELECT doc_id, flatten(list(range(s, e))) AS covered FROM isl GROUP BY doc_id)
         |SELECT t.doc_id,
         |  coalesce(array_to_string(list_filter(t.toks,
         |    (x, i) -> cov.covered IS NULL OR NOT list_contains(cov.covered, i - 1)), ' '), '') AS masked_text
         |FROM t LEFT JOIN cov USING (doc_id)
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // ---- n-gram Jaccard over the planted near-dup corpus, pure SQL ----
    "q_ngram_jaccard" ->
      ("""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |         array_to_string(list_filter(string_split(text, ' '),
         |                                     (x, i) -> (i - 1 + doc_id) % 37 <> 0), ' ') AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
         |s AS (SELECT doc_id,
         |        CASE WHEN len(toks) < 3 THEN (CASE WHEN len(toks) = 0 THEN [] ELSE [array_to_string(toks, ' ')] END)
         |             ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |        END AS sh FROM t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CASE WHEN len(list_distinct(a.sh)) = 0 AND len(list_distinct(b.sh)) = 0 THEN 1.0
         |       ELSE len(list_intersect(a.sh, b.sh))::DOUBLE /
         |            (len(list_distinct(a.sh)) + len(list_distinct(b.sh)) - len(list_intersect(a.sh, b.sh)))
         |  END AS jaccard
         |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1000000""".stripMargin.replace("\n", " ")),

    "q_clean" ->
      ("SELECT doc_id, lower(regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[^\\s\\w|]', '', 'g'), ' \\| ', ' ', 'g'), ' +', ' ', 'g')) AS cleaned FROM documents"),

    "q_filter_project" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_returnflag = 'R' AND l_quantity > 30"),

    "q_distinct_sort" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2",

    "q_group_agg" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
        // outer CAST: DuckDB sum() yields HUGEINT (serializes as decimal128)
        // even over BIGINT input; Spark's is int64 — same values, different
        // hash without it
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey " +
        "FROM lineitem GROUP BY 1, 2"),

    "q_join_broadcast" ->
      ("SELECT n_name, count(*) AS n_customers FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1"),

    "q_lag_window" ->
      ("SELECT o_custkey, o_orderkey, lag(o_orderkey) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_okey FROM orders"),

    "q_concat_fold" ->
      ("SELECT o_custkey, string_agg(CAST(o_orderkey AS VARCHAR), ' ' " +
        "ORDER BY CAST(o_orderkey AS VARCHAR)) AS okeys FROM orders GROUP BY 1"),

    "q_moving_avg" ->
      ("SELECT event_id, user_id, avg(value) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS smoothed " +
        "FROM events"),

    "q_iou_argmax" ->
      ("""WITH boxes AS (
         |  SELECT p_partkey, p_brand,
         |         p_partkey % 97 AS ulx, p_partkey % 89 AS uly,
         |         p_partkey % 97 + 1 + p_size % 13 AS lrx,
         |         p_partkey % 89 + 1 + p_size % 11 AS lry
         |  FROM part),
         |pairs AS (
         |  SELECT l.p_partkey AS pk_a, r.p_partkey AS pk_b,
         |         (least(l.lrx, r.lrx) - greatest(l.ulx, r.ulx)) *
         |         (least(l.lry, r.lry) - greatest(l.uly, r.uly)) AS inter_area,
         |         CAST((least(l.lrx, r.lrx) - greatest(l.ulx, r.ulx)) *
         |              (least(l.lry, r.lry) - greatest(l.uly, r.uly)) AS DOUBLE) /
         |         ((l.lrx - l.ulx) * (l.lry - l.uly) + (r.lrx - r.ulx) * (r.lry - r.uly) -
         |          (least(l.lrx, r.lrx) - greatest(l.ulx, r.ulx)) *
         |          (least(l.lry, r.lry) - greatest(l.uly, r.uly))) AS iou
         |  FROM boxes l JOIN boxes r
         |    ON l.p_brand = r.p_brand AND l.p_partkey < r.p_partkey
         |  WHERE least(l.lrx, r.lrx) - greatest(l.ulx, r.ulx) > 0
         |    AND least(l.lry, r.lry) - greatest(l.uly, r.uly) > 0)
         |SELECT pk_a, pk_b, inter_area, iou FROM (
         |  SELECT *, row_number() OVER (PARTITION BY pk_a
         |            ORDER BY inter_area DESC, pk_b) AS rn FROM pairs)
         |WHERE rn = 1""".stripMargin.replace("\n", " ")),

    // ---- connected components over the UNION of the golden minhash +
    //      simhash pair tables (both independently generated by the
    //      clean-room Python oracle), resolved by DuckDB's recursive CTE —
    //      an independent reimplementation of the clustering itself, not of
    //      Spark's label propagation. Base case: every endpoint labels
    //      itself; step: a label walks an edge when it is smaller than the
    //      target, so each node accumulates every smaller reachable label
    //      and min() is the component minimum. ----
    "q_dedup_clusters" ->
      (s"""WITH RECURSIVE
         |e0 AS (SELECT doc_a, doc_b FROM '$GoldenDir/q_minhash_dedup.parquet'
         |       UNION SELECT doc_a, doc_b FROM '$GoldenDir/q_simhash_dedup.parquet'),
         |und AS (SELECT doc_a AS a, doc_b AS b FROM e0
         |        UNION SELECT doc_b AS a, doc_a AS b FROM e0),
         |cc(node, label) AS (
         |  SELECT a, a FROM und
         |  UNION
         |  SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node
         |  WHERE cc.label < u.b)
         |SELECT node AS doc_id, min(label) AS canonical_doc_id
         |FROM cc GROUP BY node ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    "q_dedup_survivors" ->
      (s"""WITH RECURSIVE
         |e0 AS (SELECT doc_a, doc_b FROM '$GoldenDir/q_minhash_dedup.parquet'
         |       UNION SELECT doc_a, doc_b FROM '$GoldenDir/q_simhash_dedup.parquet'),
         |und AS (SELECT doc_a AS a, doc_b AS b FROM e0
         |        UNION SELECT doc_b AS a, doc_a AS b FROM e0),
         |cc(node, label) AS (
         |  SELECT a, a FROM und
         |  UNION
         |  SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node
         |  WHERE cc.label < u.b),
         |canon AS (SELECT node AS doc_id, min(label) AS canonical FROM cc GROUP BY node),
         |corpus AS (SELECT doc_id FROM documents
         |           UNION ALL SELECT doc_id + 1000000 AS doc_id FROM documents
         |           WHERE doc_id % 10 = 0)
         |SELECT c.doc_id FROM corpus c LEFT JOIN canon k ON c.doc_id = k.doc_id
         |WHERE k.canonical IS NULL OR k.canonical = c.doc_id
         |ORDER BY c.doc_id""".stripMargin.replace("\n", " ")),

    "q_dedup_exact" ->
      (ExactDupsCte +
        "SELECT min(doc_id) AS canonical_doc_id, count(*) AS dup_count FROM u " +
        "GROUP BY text HAVING count(*) > 1 ORDER BY 1"),

    // text-grouped oracle for the digest-grouped Spark op (collision-free
    // by the hash compare itself)
    "q_dedup_groups" ->
      (ExactDupsCte +
        "SELECT min(doc_id) AS canonical_doc_id, count(*) AS dup_count FROM u " +
        "GROUP BY text HAVING count(*) > 1 ORDER BY 1"),

    "q_token_count" ->
      ("SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens, " +
        "len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r'']+|[ \\t\\n\\x0B\\f\\r]+')) AS n_bpe_tokens, " +
        "length(text) AS n_chars_actual, n_chars FROM documents"),

    "q_folio_text" ->
      ("""WITH per_cust AS (
         |  SELECT o_custkey, max(o_orderkey) AS last_okey,
         |         string_agg(CAST(o_orderkey AS VARCHAR), ' '
         |                    ORDER BY CAST(o_orderkey AS VARCHAR)) AS own_text
         |  FROM orders GROUP BY o_custkey)
         |SELECT o_custkey,
         |  trim(concat_ws(' ',
         |    CAST(lag(last_okey) OVER (ORDER BY o_custkey) AS VARCHAR),
         |    own_text)) AS folio_text
         |FROM per_cust""".stripMargin.replace("\n", " ")),

    // identical semantics, forced boundary-exchange path on the Spark side
    "q_folio_text_scaled" ->
      ("""WITH per_cust AS (
         |  SELECT o_custkey, max(o_orderkey) AS last_okey,
         |         string_agg(CAST(o_orderkey AS VARCHAR), ' '
         |                    ORDER BY CAST(o_orderkey AS VARCHAR)) AS own_text
         |  FROM orders GROUP BY o_custkey)
         |SELECT o_custkey,
         |  trim(concat_ws(' ',
         |    CAST(lag(last_okey) OVER (ORDER BY o_custkey) AS VARCHAR),
         |    own_text)) AS folio_text
         |FROM per_cust""".stripMargin.replace("\n", " ")),

    "q_csv_scan" ->
      ("SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 100 ORDER BY doc_id"),

    // ---- streaming batch-equivalence oracles ----
    // the stream must reproduce the reference-executed alignment golden
    "q_align_stream" -> golden("q_align_spans"),

    // gap-closed sessions = every session except each user's final one
    "q_sessionize_stream" ->
      ("""WITH flagged AS (
         |  SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT user_id, ts_us,
         |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM flagged),
         |agg AS (
         |  SELECT user_id, session_seq, count(*) AS n_events,
         |         min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
         |  FROM sessions GROUP BY user_id, session_seq)
         |SELECT user_id, session_start_us, session_end_us, n_events
         |FROM agg
         |QUALIFY session_seq < max(session_seq) OVER (PARTITION BY user_id)"""
        .stripMargin.replace("\n", " ")),

    "q_dedup_stream" ->
      (ExactDupsCte + "SELECT DISTINCT text FROM u"),

    "q_window_stream" ->
      ("SELECT epoch_us(time_bucket(INTERVAL '1 minute', ts)) AS window_start_us, " +
        "event_type, count(*) AS n_events, " +
        "min(value) AS min_value, max(value) AS max_value " +
        "FROM events GROUP BY 1, 2"),

    "q_sessionize" ->
      ("""WITH flagged AS (
         |  SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT user_id, ts_us,
         |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM flagged)
         |SELECT user_id, session_seq, count(*) AS n_events,
         |       min(ts_us) AS session_start_us,
         |       max(ts_us) AS session_end_us
         |FROM sessions GROUP BY user_id, session_seq""".stripMargin.replace("\n", " ")),

    "q_bbox_union" ->
      ("""WITH boxes AS (
         |  SELECT p_brand,
         |         p_partkey % 97 AS ulx, p_partkey % 89 AS uly,
         |         p_partkey % 97 + 1 + p_size % 13 AS lrx,
         |         p_partkey % 89 + 1 + p_size % 11 AS lry
         |  FROM part)
         |SELECT p_brand, min(ulx) AS ulx, min(uly) AS uly,
         |       max(lrx) AS lrx, max(lry) AS lry
         |FROM boxes GROUP BY p_brand ORDER BY p_brand""".stripMargin.replace("\n", " ")),

    "q_redact" ->
      ("""SELECT doc_id,
         |  regexp_replace(regexp_replace(
         |    CASE WHEN doc_id % 7 = 0
         |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com call ' ||
         |              (CASE WHEN doc_id % 3 = 0 THEN '+1-555-123-4567'
         |                    WHEN doc_id % 3 = 1 THEN '555-123-4567'
         |                    ELSE '(555) 123-4567' END) || ' now'
         |         ELSE text END,
         |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         |    '(?:\+?[0-9]{1,2}[- ])?(?:\([0-9]{3}\) ?|[0-9]{3}[- ])[0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g') AS redacted
         |FROM documents""".stripMargin.replace("\n", " ")),

    "q_redact_wide" ->
      ("""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    CASE WHEN doc_id % 5 = 0
         |         THEN text || ' ring ' ||
         |              (CASE WHEN doc_id % 4 = 0 THEN '+44 20 7946 0958'
         |                    WHEN doc_id % 4 = 1 THEN '+49 30 901820'
         |                    WHEN doc_id % 4 = 2 THEN '5551234567'
         |                    ELSE 'id 20240506112233 or 555-123-4567' END) || ' soon'
         |         ELSE text END,
         |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         |    '(?:\+?[0-9]{1,2}[- ])?(?:\([0-9]{3}\) ?|[0-9]{3}[- ])[0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g'),
         |    '\+[0-9]{1,3}(?:[- ][0-9]{2,4}){1,3}[- ][0-9]{2,6}', '<PHONE>', 'g'),
         |    '(^|[^0-9])([0-9]{10})($|[^0-9])', '\1<PHONE>\3', 'g') AS redacted
         |FROM documents""".stripMargin.replace("\n", " ")),

    "q_profile" ->
      ("""WITH d AS (SELECT *, CASE WHEN doc_id % 13 = 0 THEN NULL
         |    ELSE lang END AS lang_nullable FROM documents),
         |p AS (
         |  SELECT 'doc_id' AS col, count(*) AS n_rows,
         |    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |    count(DISTINCT doc_id) AS n_distinct FROM d
         |  UNION ALL SELECT 'text', count(*),
         |    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    count(DISTINCT text) FROM d
         |  UNION ALL SELECT 'lang', count(*),
         |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    count(DISTINCT lang) FROM d
         |  UNION ALL SELECT 'source', count(*),
         |    CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    count(DISTINCT source) FROM d
         |  UNION ALL SELECT 'n_chars', count(*),
         |    CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    count(DISTINCT n_chars) FROM d
         |  UNION ALL SELECT 'lang_nullable', count(*),
         |    CAST(sum(CASE WHEN lang_nullable IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    count(DISTINCT lang_nullable) FROM d)
         |SELECT col AS "column", n_rows, n_nulls, n_distinct FROM p
         |ORDER BY 1""".stripMargin.replace("\n", " ")),

    "q_jsonl_scan" ->
      ("SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 100 ORDER BY doc_id"),

    "q_contamination" ->
      ("""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 8 THEN (CASE WHEN len(toks) = 0 THEN [] ELSE [array_to_string(toks, ' ')] END)
         |         ELSE list_transform(range(1, len(toks) - 6),
         |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
         |                     toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])
         |    END AS sh FROM tok),
         |docg AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(sh) AS g FROM sh)),
         |bench AS (SELECT DISTINCT g FROM docg WHERE doc_id < 10)
         |SELECT d.doc_id, count(*) AS n_contaminated
         |FROM docg d JOIN bench b USING (g)
         |GROUP BY 1""".stripMargin.replace("\n", " ")),

    "q_inverted_index" ->
      ("""WITH pairs AS (
         |  SELECT DISTINCT doc_id, t.term
         |  FROM documents, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(term)),
         |dfreq AS (SELECT term, count(*) AS df FROM pairs GROUP BY term),
         |posts AS (SELECT term, array_to_string(list_sort(list(doc_id)), ' ') AS postings
         |          FROM pairs GROUP BY term)
         |SELECT d.term, d.df, CASE WHEN d.df <= 400 THEN p.postings END AS postings
         |FROM dfreq d LEFT JOIN posts p ON d.term = p.term""".stripMargin.replace("\n", " ")),

    // ---- incremental dedup: ground truth by TEXT membership (not digest)
    //      — doubles as the digest-collision check ----
    "q_incremental_dedup" -> IncrementalDedupSql,
    // bloom routing must be RESULT-invisible: the shared SQL verbatim
    "q_bloom_dedup" -> IncrementalDedupSql,

    // ---- stream-static incremental dedup: identical semantics to the
    //      batch form, so the identical (shared) oracle ----
    "q_incremental_stream" -> IncrementalDedupSql,

    // ---- top-K vocab: same count + rank in DuckDB ----
    "q_vocab" ->
      ("""WITH tk AS (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
         |  FROM documents),
         |c AS (SELECT tok, count(*) AS freq FROM tk GROUP BY tok
         |      ORDER BY freq DESC, tok LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok) AS INTEGER) AS rank,
         |       tok, CAST(freq AS BIGINT) AS freq
         |FROM c ORDER BY rank""".stripMargin.replace("\n", " ")),

    // ---- C4 line filter: the same punctuation-plant + 6-word chunking +
    //      keep-rule replayed with DuckDB lambdas; array_to_string of an
    //      empty list is NULL in DuckDB ('' in Spark) → coalesce ----
    "q_c4_filter" ->
      ("""WITH p AS (SELECT doc_id,
         |    regexp_replace(regexp_replace(text, ' the ', ' the. ', 'g'),
         |      '((?:[^ ]+ ){5}[^ ]+) ', '\1' || chr(10), 'g') AS t
         |  FROM documents),
         |k AS (SELECT doc_id, string_split(t, chr(10)) AS ls,
         |    list_filter(string_split(t, chr(10)),
         |      l -> regexp_matches(l, '[.!?]$') AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3) AS kept
         |  FROM p)
         |SELECT k.doc_id,
         |  CASE WHEN p.t IS NULL THEN NULL
         |       ELSE coalesce(array_to_string(kept, chr(10)), '') END AS clean_text,
         |  CAST(len(ls) AS INTEGER) AS n_lines,
         |  CAST(len(kept) AS INTEGER) AS n_kept_lines
         |FROM k JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // ---- cross-doc line dedup: dup set computed by line TEXT (the
    //      xxhash64 collision check), filter/reassemble with list lambdas ----
    "q_line_dedup" ->
      ("""WITH d AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN regexp_replace(text, '((?:[^ ]+ ){2}[^ ]+) ', '\1' || chr(10), 'g') || chr(10) || 'subscribe to our newsletter today'
         |         WHEN doc_id % 7 = 0 THEN 'accept all cookies to continue' || chr(10) || regexp_replace(text, '((?:[^ ]+ ){2}[^ ]+) ', '\1' || chr(10), 'g')
         |         ELSE regexp_replace(text, '((?:[^ ]+ ){2}[^ ]+) ', '\1' || chr(10), 'g') END AS t
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |ex AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM d),
         |hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df
         |        FROM ex WHERE line <> '' GROUP BY line) WHERE df > 1),
         |hl AS (SELECT coalesce(list(line), CAST([] AS VARCHAR[])) AS hll FROM hot),
         |f AS (SELECT doc_id,
         |    list_filter(string_split(t, chr(10)), x -> NOT list_contains(hll, x)) AS kept
         |  FROM d, hl)
         |SELECT doc_id,
         |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
         |  CAST(len(kept) AS INTEGER) AS n_kept_lines
         |FROM f ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // ---- shard assignment: md5 hex is identical across engines; the
    //      8-nibble fold (ascii arithmetic — the one hex-parse both engines
    //      spell identically) and a plain shard-partitioned row_number
    //      replay the Spark side's FORCED bucketed two-pass positions ----
    "q_shard" ->
      ("""WITH k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m
         |  FROM documents WHERE doc_id IS NOT NULL),
         |s AS (SELECT doc_id, m,
         |    CAST(CAST(list_sum(list_transform(generate_series(1, 8),
         |      i -> (CASE WHEN ascii(substr(m, CAST(i AS INTEGER), 1)) <= 57
         |                 THEN ascii(substr(m, CAST(i AS INTEGER), 1)) - 48
         |                 ELSE ascii(substr(m, CAST(i AS INTEGER), 1)) - 87 END)
         |           * (CAST(1 AS BIGINT) << (4 * (8 - CAST(i AS INTEGER)))))) AS BIGINT)
         |      % 256 AS INTEGER) AS shard
         |  FROM k)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY m, doc_id) AS BIGINT) AS shard_pos
         |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // ---- pack index: plain single-window prefix sum in DuckDB (the
    //      Spark side runs the FORCED bucketed two-pass form — agreement
    //      is the point); integer division/modulo keep it exact ----
    "q_pack_index" ->
      ("""WITH t AS (SELECT doc_id,
         |    CAST(coalesce(len(list_filter(string_split(text, ' '), x -> x <> '')), 0) AS BIGINT) AS n_tokens
         |  FROM documents WHERE doc_id IS NOT NULL),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, n_tokens, cum - n_tokens AS global_start,
         |  CASE WHEN n_tokens > 0 THEN (cum - n_tokens) // 128 END AS chunk_first,
         |  CASE WHEN n_tokens > 0 THEN (cum - 1) // 128 END AS chunk_last,
         |  (cum - n_tokens) % 128 AS chunk_offset
         |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // ---- chunk manifest: same cumsum/interval arithmetic, exploded with
    //      generate_series (inclusive on both ends, like Spark sequence);
    //      doc lists sort numerically THEN stringify on both sides ----
    "q_pack_chunks" ->
      ("""WITH t AS (SELECT doc_id,
         |    CAST(coalesce(len(list_filter(string_split(text, ' '), x -> x <> '')), 0) AS BIGINT) AS n_tokens
         |  FROM documents WHERE doc_id IS NOT NULL),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t),
         |e AS (SELECT doc_id,
         |    unnest(generate_series((cum - n_tokens) // 128, (cum - 1) // 128)) AS chunk_id
         |  FROM c WHERE n_tokens > 0)
         |SELECT chunk_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  array_to_string(list_transform(list_sort(list(doc_id)), x -> CAST(x AS VARCHAR)), ' ') AS docs
         |FROM e GROUP BY chunk_id ORDER BY chunk_id""".stripMargin.replace("\n", " ")),

    // ---- token rarity: same explode/count/join/sum in DuckDB; integer
    //      sums make the compare exact, the mean is one division ----
    "q_token_rarity" ->
      ("""WITH tk AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
         |  FROM documents),
         |c AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok)
         |SELECT doc_id,
         |  count(*) AS n_tokens,
         |  CAST(sum(cnt) AS BIGINT) AS sum_freq,
         |  CAST(sum(cnt) AS DOUBLE) / count(*) AS mean_freq
         |FROM tk JOIN c USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // ---- quality verdict: the same score formulas as q_quality plus the
    //      pinned rule chain, over the same planted mutations ----
    "q_quality_filter" ->
      ("""WITH m AS (SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 0 THEN array_to_string(string_split(text, ' ')[1:5], ' ')
         |         WHEN doc_id % 9 = 0 THEN trim(repeat('spam ', 40))
         |         WHEN doc_id % 7 = 0 THEN text || ' ' || trim(repeat('0123456789 ', 10))
         |         ELSE text END AS text
         |  FROM documents),
         |base AS (SELECT doc_id,
         |    length(text) AS n_chars_actual,
         |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         |    len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_distinct_tokens,
         |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
         |    length(text) - length(replace(text, ' ', '')) AS n_spaces
         |  FROM m),
         |sc AS (SELECT doc_id, n_tokens,
         |    CASE WHEN n_tokens > 0 THEN CAST(n_chars_actual - n_spaces AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len,
         |    CASE WHEN n_chars_actual > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars_actual ELSE 0.0 END AS alpha_ratio,
         |    CASE WHEN n_tokens > 0 THEN CAST(n_distinct_tokens AS DOUBLE) / n_tokens ELSE 0.0 END AS type_token_ratio
         |  FROM base),
         |v AS (SELECT doc_id,
         |    CASE WHEN n_tokens < 20 THEN 'too_few_tokens'
         |         WHEN n_tokens > 100000 THEN 'too_many_tokens'
         |         WHEN mean_token_len < 2.0 OR mean_token_len > 12.0 THEN 'mean_token_len'
         |         WHEN type_token_ratio < 0.2 THEN 'repetitive'
         |         WHEN alpha_ratio < 0.6 THEN 'low_alpha'
         |         ELSE NULL END AS fail_reason
         |  FROM sc)
         |SELECT doc_id, fail_reason, fail_reason IS NULL AS keep
         |FROM v ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    "q_quality" ->
      ("""WITH base AS (
         |  SELECT doc_id,
         |    length(text) AS n_chars_actual,
         |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         |    len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_distinct_tokens,
         |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
         |    length(text) - length(replace(text, ' ', '')) AS n_spaces
         |  FROM documents)
         |SELECT doc_id, n_chars_actual, n_tokens, n_distinct_tokens, n_alpha, n_spaces,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_chars_actual - n_spaces AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN n_chars_actual > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars_actual ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_distinct_tokens AS DOUBLE) / n_tokens ELSE 0.0 END AS type_token_ratio
         |FROM base""".stripMargin.replace("\n", " "))
  )
}
