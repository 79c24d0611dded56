package graft

import graft.catalog._
import graft.ops.Dedup
import graft.pipeline.{AlignJob, Functions}
import graft.streaming.StreamingJobs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query entry points that `Verify` and `Bench` call (SURVEY.md §7,
  * FIXTURES.md §8).
  *
  * The query catalog is one list of [[graft.catalog.Query]] entries, each
  * carrying its name, its oracle and its builder, grouped by family under
  * `graft.catalog`. `queries` and `oracleSql` are both derived from it.
  * This object keeps what several families share: the fixture readers,
  * the session memos of the shared intermediates, the scratch-dir and
  * streaming harnesses, and the query-entry wrapper.
  */
object SparkEntry {

  /** Every query with its oracle, family by family. */
  val catalog: Seq[Query] =
    AlignQueries.all ++ IngestQueries.all ++ TextQueries.all ++
      TokenizerQueries.all ++ DedupQueries.all ++ CrawlQueries.all ++
      RelationalQueries.all

  /** Every query by name, wrapped with [[applySessionTuning]] and
    * [[cacheSortChild]].
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { q =>
      q.name -> ((s: SparkSession, dir: String) => {
        applySessionTuning(s)
        cacheSortChild(s, q.build(s, dir))
      })
    }.toMap

  /** Every query's oracle by name (DuckDB SQL; see [[graft.catalog.Query]]). */
  val oracleSql: Map[String, String] =
    catalog.map(q => q.name -> q.oracle).toMap

  private[graft] def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private[graft] def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Shared WARC fixture-record serializer (ONE copy of the pinned
    * header shape for all four archive builders — review r6; the python
    * mirrors pin the same bytes). gzip=true wraps THIS record as its own
    * gzip member; the GZIPOutputStream is close()d per record through a
    * non-closing wrapper, so the member trailer is written AND the
    * Deflater's native buffers release deterministically while the
    * shared buffer stays open.
    */
  private[graft] def writeFixtureRecord(
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

  /** HTTP-payload archives (the real crawl record shape): per page an
    * optional request record (id%5==0), the response (HttpGen payload:
    * status/Content-Type variety incl. a transport-vs-meta charset
    * conflict and a raw non-http fallback), and an optional revisit
    * record (id%9==2) — recordsHttp must keep responses only.
    */
  private[graft] def httpWarcArchives(
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

  /** Link-edge table shared by the link-graph and crawl queries: each
    * would otherwise re-synthesize and re-parse every page (the
    * typed-lambda plans are never `sameResult`-equal, so the
    * CacheRegistry's plan dedupe can't share them).
    */
  private[graft] def linkEdgesFor(s: SparkSession, dir: String): DataFrame =
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
  private[graft] def fanOut(s: SparkSession, df: DataFrame): DataFrame = {
    val n = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** Salted aligned table shared by the five alignment consumers
    * (q_align_spans, q_align_metrics, q_doc_json, q_mei_assign, q_mei_xml):
    * `align()` creates fresh accumulators per call, so every call's typed
    * plan is unique and neither the CacheManager nor CacheRegistry's plan
    * dedupe can share kernel output across calls — without the memo every
    * consumer pass re-runs the full kernel. The flagship bench leg times
    * `AlignJob.align` directly and never touches this memo.
    */
  private[graft] def alignedFor(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persisted(s, "aligned", dir)(
      AlignJob.align(AlignJob.synthPages(s, dir),
        saltPartitions = s.sparkContext.defaultParallelism).toDF())

  private[graft] def rmTree(p: String): Unit = {
    val path = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(path)) {
      val walk = java.nio.file.Files.walk(path)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }
  }

  /** Newest mtime anywhere in the tree — a live streaming session writes
    * into SUBdirectories without refreshing the top dir's mtime, so only a
    * recursive maximum can certify staleness.
    */
  private def newestMtime(p: java.nio.file.Path): Long = {
    val walk = java.nio.file.Files.walk(p)
    try walk.mapToLong(_.toFile.lastModified()).max().orElse(0L)
    finally walk.close()
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
  private[graft] def scratchDir(s: SparkSession, name: String): String = {
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

  /** The harness of the streaming batch-equivalence queries: build
    * `stream` on a clone of `s` with 4 shuffle partitions
    * ([[org.apache.spark.sql.GraftSqlBridge.withConf]]; `s`'s own conf is
    * not written), run it to completion (AvailableNow) into `$tmp/out`,
    * then read back on `s` what its sink wrote. A stateful stream keeps one
    * state store per shuffle partition, and the count binds at stream start
    * (it is frozen into the fresh checkpoint), so 4 sizes only this run;
    * results are partition-count-independent.
    */
  private[graft] def drainStream(s: SparkSession, tmp: String)(
      stream: SparkSession => DataFrame): DataFrame = {
    org.apache.spark.sql.GraftSqlBridge.withConf(s, "spark.sql.shuffle.partitions" -> "4") { c =>
      StreamingJobs.runAvailableNow(stream(c), s"$tmp/out")
    }
    s.read.parquet(s"$tmp/out/data")
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

  /** Documents plus a mutated near-duplicate of every 10th doc (every
    * 37th token dropped, re-identified +1000000): the planted near-dup
    * corpus of the near-dup operators and of [[nearDupClustersFor]].
    */
  private[graft] def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
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
  private[graft] def nearDupClustersFor(s: SparkSession, dir: String): DataFrame =
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
  private[graft] def trainedUnigramFor(s: SparkSession, dir: String): DataFrame =
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
  private[graft] def harmonicFor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SessionMemo(s, "harmonic", dir)(
      graft.ops.Centrality.harmonicExact(linkEdgesFor(s, dir))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq)
      .toDF("url", "harmonic")
  }

  /** Trained WordPiece model for q_wordpiece_encode. */
  private[graft] def trainedWordpieceFor(s: SparkSession, dir: String): graft.ops.Wordpiece.Model =
    SessionMemo(s, "wordpiece", dir)(
      graft.ops.Wordpiece.model(docs(s, dir), numMerges = 10, minSymCount = 2L))

  /** Trained BPE merge list shared by q_bpe_encode, q_tokenizer_pipeline
    * and q_pipeline: `Bpe.train` dispatches small vocabs to the
    * exact incremental local path (one word-frequency job + collect) whose
    * result is 10 immutable rows (q_bpe_train itself still calls the op
    * directly: it IS the row under test).
    */
  private[graft] def trainedMergesFor(s: SparkSession, dir: String): Seq[(String, String)] =
    SessionMemo(s, "bpe_merges", dir)(
      graft.ops.Bpe.train(docs(s, dir), numMerges = 10)
        .orderBy(col("merge_rank"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq)

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
}
