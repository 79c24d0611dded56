package graft.catalog

import graft.SparkEntry.{docs, tbl, scratchDir, docsWithNearDups, nearDupClustersFor,
  trainedMergesFor, drainStream}
import graft.catalog.Query.{GoldenDir, golden}
import graft.ops.{Dedup, Similarity, TextOps}
import graft.pipeline.{Functions, PageGen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication, similarity and retrieval: exact, normalized and
  * incremental dedup with their streaming twins, near-dup detection and
  * clustering, decontamination, span dedup, ANN search and semantic dedup.
  */
object DedupQueries {

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

  /** Documents plus an exact copy of every 10th doc (re-identified
    * +1000000): the planted-duplicate corpus of the exact-dedup rows,
    * mirrored in [[ExactDupsCte]].
    */
  private def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.unionAll(
      d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

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
    * single [[newerCrawl]] for the same reason.
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
  private def newerCrawl(prior: DataFrame): DataFrame =
    prior.select((col("doc_id") + 5000000L).as("doc_id"),
      when(col("doc_id") % 3 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" fresh"))).as("text"))

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

  /** Deterministic url synthesis for the capture rows: the corpus table has
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

  val all: Seq[Query] = Seq(
    // ---- exact dedup over union with planted duplicates ----
    Query("q_dedup_exact",
      ExactDupsCte +
        "SELECT min(doc_id) AS canonical_doc_id, count(*) AS dup_count FROM u " +
        "GROUP BY text HAVING count(*) > 1 ORDER BY 1")((s, dir) =>
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
    Query("q_dedup_groups",
      // text-grouped oracle for the digest-grouped Spark op (collision-free
      // by the hash compare itself)
      ExactDupsCte +
        "SELECT min(doc_id) AS canonical_doc_id, count(*) AS dup_count FROM u " +
        "GROUP BY text HAVING count(*) > 1 ORDER BY 1")((s, dir) =>
      Dedup.exactDuplicateGroups(docsWithExactDups(s, dir))
        .orderBy(col("canonical_doc_id"))),

    // streaming exact dedup (dropDuplicatesWithinWatermark) over the
    // planted-duplicate corpus; emits the surviving text (deterministic —
    // duplicates share their text)
    Query("q_dedup_stream", (ExactDupsCte + "SELECT DISTINCT text FROM u")) { (s, dir) =>
      val tmp = scratchDir(s, "dedup_stream")
      docsWithExactDups(s, dir)
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
        .write.parquet(s"$tmp/docs")
      drainStream(s, tmp)(c =>
        graft.streaming.StreamingJobs.dedupDocsStream(c, s"$tmp/docs",
          horizon = "3650 days"))
    },

    // ---- case/punct-insensitive exact dedup: normalization (chained
    //      codegen regexes, no UDF) composed with the digest group op over
    //      planted uppercase/punctuated variants — the oracle recomputes
    //      the normalization independently in DuckDB, so a normalization
    //      bug surfaces as a group mismatch ----
    Query("q_dedup_normalized",
      // ---- normalized exact dedup: DuckDB recomputes the normalization
      //      with its own regex engine and groups by the normalized TEXT
      //      (doubling as a digest-collision check, like q_dedup_groups) ----
      """WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, '  ' || upper(text) || '?! ' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |n AS (SELECT doc_id,
         |        trim(regexp_replace(regexp_replace(lower(text),
         |          '[^a-z0-9 ]', ' ', 'g'), ' {2,}', ' ', 'g')) AS text
         |      FROM u)
         |SELECT min(doc_id) AS canonical_doc_id, count(*) AS dup_count
         |FROM n GROUP BY text HAVING count(*) > 1 ORDER BY 1""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = d.unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("?! ")).as("text")))
      Dedup.exactDuplicateGroups(corpus.select(col("doc_id"),
          TextOps.normalizeForDedup(col("text")).as("text")))
        .orderBy(col("canonical_doc_id"))
    },

    // ---- Unicode-NFC dedup keys: composed (U+00E9) vs decomposed
    //      (e+U+0301) suffixes planted on paired docs group together ONLY
    //      under NFC — JDK Normalizer vs DuckDB's own nfc_normalize, two
    //      independent Unicode implementations checking each other ----
    Query("q_nfc_dedup",
      // ---- NFC dedup: DuckDB's OWN nfc_normalize (an independent Unicode
      //      implementation) replays the canonicalization; chr() keeps the
      //      SQL ASCII-pure so no tool in the pipeline can re-normalize it ----
      """WITH c AS (
         |  SELECT doc_id, text || ' caf' || chr(233) || ' touch' || chr(233) AS text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id, text || ' cafe' || chr(769) || ' touche' || chr(769) AS text FROM documents WHERE doc_id % 3 = 0),
         |n AS (SELECT doc_id, nfc_normalize(text) AS text FROM c)
         |SELECT min(doc_id) AS canonical_doc_id, count(*) AS dup_count
         |FROM n GROUP BY text HAVING count(*) > 1 ORDER BY 1""".stripMargin.replace("\n", " ")) { (s, dir) =>
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
    },

    // ---- latest-capture-per-url dedup (the first dedup of any crawl):
    //      planted recrawls one day later must win; map-side-combining
    //      max(struct) argmax, no window sort ----
    Query("q_latest_capture",
      // ---- latest capture: an INDEPENDENT formulation (row_number window,
      //      not argmax) over the same synthesized captures ----
      """WITH d AS (SELECT doc_id, text, 'https://' ||
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
         |WHERE rn = 1 ORDER BY url""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val base = docsWithUrls(s, dir).select(col("url"),
        (lit(1700000000000000L) + col("doc_id") * 1000000L).as("ts_us"),
        col("doc_id"), col("text"))
      val recrawl = base.filter(col("doc_id") % 5 === 0)
        .select(col("url"), (col("ts_us") + 86400000000L).as("ts_us"),
          col("doc_id"), concat(lit("recrawled "), col("text")).as("text"))
      Dedup.latestCapture(base.unionAll(recrawl))
        .orderBy(col("url"))
    },

    // ---- END-TO-END CURATION (the composition a reference user actually
    //      ships): planted recrawls + punct-variant mirror pages →
    //      latest-capture dedup → quality-rule gate → normalized exact
    //      dedup → corpus mixing to target proportions. Verifies the
    //      operators COMPOSE (columns, contracts, determinism), against a
    //      golden that mirrors every stage independently in Python ----
    Query("q_curate") { (s, dir) =>
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
    },

    // ---- incremental dedup vs a prior snapshot (rolling-crawl form):
    //      digest-keyed anti-join; a third of the new batch are exact
    //      copies of prior docs and must vanish ----
    // ---- incremental dedup: ground truth by TEXT membership (not digest)
    //      — doubles as the digest-collision check ----
    Query("q_incremental_dedup", IncrementalDedupSql) { (s, dir) =>
      val prior = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.incrementalDedup(newerCrawl(prior), prior)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },

    // ---- Bloom-routed incremental dedup: SAME fixture, SAME shared oracle
    //      SQL as q_incremental_dedup (the bit-identical-result claim is the
    //      whole point) — only the definite-new bypass route differs.
    //      expectedPriorDistinct deliberately UNDERSIZED (corpus/2) so the
    //      inflated-fpp path is exercised, not just the comfortable one ----
    // bloom routing must be RESULT-invisible: the shared SQL verbatim
    Query("q_bloom_dedup", IncrementalDedupSql) { (s, dir) =>
      val prior = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.incrementalDedupBloom(newerCrawl(prior), prior,
          expectedPriorDistinct = math.max(1L, prior.count() / 2), fpp = 0.05)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },

    // stream-static incremental dedup (the rolling-crawl ingest form):
    // the new batch STREAMS against the static prior-snapshot digest
    // table; stateless (no watermark state — the prior is fixed); same
    // corpus synthesis and SQL oracle shape as the batch
    // q_incremental_dedup
    // ---- stream-static incremental dedup: identical semantics to the
    //      batch form, so the identical (shared) oracle ----
    Query("q_incremental_stream", IncrementalDedupSql) { (s, dir) =>
      val tmp = scratchDir(s, "incr_stream")
      val prior = docs(s, dir).select(col("doc_id"), col("text"))
      newerCrawl(prior).write.parquet(s"$tmp/newer")
      drainStream(s, tmp)(c =>
        graft.streaming.StreamingJobs.incrementalDedupStream(
          c, s"$tmp/newer", prior))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- cross-document line dedup (RefinedWeb boilerplate removal):
    //      3-word lines from the 31-token vocab collide across docs
    //      naturally, plus planted newsletter/cookie boilerplate on every
    //      5th/7th doc; any line seen in >1 distinct doc vanishes from ALL
    //      docs. Oracle groups by line TEXT — doubles as the xxhash64
    //      collision check ----
    Query("q_line_dedup",
      // ---- cross-doc line dedup: dup set computed by line TEXT (the
      //      xxhash64 collision check), filter/reassemble with list lambdas ----
      """WITH d AS (SELECT doc_id,
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
         |FROM f ORDER BY doc_id""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val structured = regexp_replace(col("text"), "((?:[^ ]+ ){2}[^ ]+) ", "$1\n")
      val boiler = when(col("doc_id") % 5 === 0,
          concat(structured, lit("\nsubscribe to our newsletter today")))
        .when(col("doc_id") % 7 === 0,
          concat(lit("accept all cookies to continue\n"), structured))
        .otherwise(structured)
      Dedup.crossDocLineDedup(
          docs(s, dir).select(col("doc_id"), boiler.as("text")))
        .orderBy(col("doc_id"))
    },

    // ---- benchmark decontamination: distinct 8-gram overlap of every
    //      document against a (broadcast) benchmark set — docs doc_id < 10
    //      play the eval set, so they self-contaminate fully and any
    //      incidental 8-gram collisions surface too ----
    Query("q_contamination",
      """WITH tok AS (
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
         |GROUP BY 1""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      TextOps.contaminationCounts(d, d.filter(col("doc_id") < 10))
        .orderBy(col("doc_id"))
    },

    // ---- cross-corpus MinHash join (document-level fuzzy
    //      decontamination): the eval set is every 17th doc, lightly
    //      mutated (drop every 41st token) and re-identified — each must
    //      fuzzy-match its source document across the two tables ----
    Query("q_minhash_join") { (s, dir) =>
      val leftC = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.minhashJoin(leftC, decontamEvalCorpus(s, dir), threshold = 0.5)
        .orderBy(col("left_id"), col("right_id"))
    },

    // ---- fuzzy-decontamination CONSUMER (join -> anti-join): the cleaned
    //      training corpus after dropping every doc fuzzy-matching the
    //      eval set — the same fixtures as q_minhash_join, so the golden
    //      mirrors join + drop independently ----
    Query("q_decontam_drop") { (s, dir) =>
      val leftC = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.decontaminate(leftC, decontamEvalCorpus(s, dir), threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // streaming FUZZY decontamination against a static broadcast eval
    // index (stateless, zero shuffle — the crawl-past-a-benchmark-suite
    // shape): same corpus synthesis as the batch q_decontam_drop, and the
    // SAME golden verbatim (anti-drift, like q_incremental_stream)
    // the streaming form shares the BATCH row's golden verbatim — the two
    // implementations can never drift apart silently
    Query("q_decontam_stream", golden("q_decontam_drop")) { (s, dir) =>
      val tmp = scratchDir(s, "decontam_stream")
      docs(s, dir).select(col("doc_id"), col("text"))
        .write.parquet(s"$tmp/training")
      drainStream(s, tmp)(c =>
        graft.streaming.StreamingJobs.decontaminateStream(
          c, s"$tmp/training", decontamEvalCorpus(s, dir), threshold = 0.5))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- snapshot diff between two crawls: every 7th doc removed, every
    //      5th surviving doc mutated, every 11th re-added under a new id —
    //      all four statuses bind; the oracle compares TEXT (the digest
    //      collision check) while the op joins 16-byte digests ----
    Query("q_snapshot_diff",
      // ---- snapshot diff: same synthesis, classified by TEXT equality
      //      (doubles as the digest-collision check) ----
      """WITH p AS (SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL),
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
         |FROM j ORDER BY doc_id""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val prior = docs(s, dir).select(col("doc_id"), col("text"))
      val current = prior.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(prior.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 7000000L).as("doc_id"), col("text")))
      Dedup.snapshotDiff(current, prior).orderBy(col("doc_id"))
    },

    // ---- document fingerprinting (rolling-hash winnowing) ----
    Query("q_fingerprint") { (s, dir) =>
      Functions.register(s)
      docs(s, dir).select(col("doc_id"), expr("doc_fingerprint(text)").as("fp"))
    },

    // ---- MinHash LSH near-dup detection over planted near-dups ----
    Query("q_minhash_dedup")((s, dir) =>
      Dedup.minhashNearDups(docsWithNearDups(s, dir), threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ---- SimHash near-dup detection (the web-scale Manku config: 16-bit
    //      combination keys, guaranteed recall to Hamming radius 6,
    //      hamming<=7 candidates kept when they surface) ----
    Query("q_simhash_dedup")((s, dir) =>
      Dedup.simhashNearDups(docsWithNearDups(s, dir), keyChunks = 2)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ---- near-dup CLUSTER resolution (VERDICT r3 missing #1): union the
    //      minhash + simhash verified pair sets, connected components via
    //      bounded min-label propagation, canonical = min doc_id. The
    //      oracle recomputes the components independently with a DuckDB
    //      recursive CTE over the golden pair tables ----
    Query("q_dedup_clusters",
      // ---- connected components over the UNION of the golden minhash +
      //      simhash pair tables (both independently generated by the
      //      clean-room Python oracle), resolved by DuckDB's recursive CTE —
      //      an independent reimplementation of the clustering itself, not of
      //      Spark's label propagation. Base case: every endpoint labels
      //      itself; step: a label walks an edge when it is smaller than the
      //      target, so each node accumulates every smaller reachable label
      //      and min() is the component minimum. ----
      s"""WITH RECURSIVE
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
         |FROM cc GROUP BY node ORDER BY doc_id""".stripMargin.replace("\n", " "))((s, dir) =>
      nearDupClustersFor(s, dir).orderBy(col("doc_id"))),

    // ---- near-dup SURVIVORS: the deduped corpus (drop every cluster
    //      member except its canonical) — pairs → clusters → corpus, the
    //      full pipeline a 100 TB dedup actually ships ----
    Query("q_dedup_survivors",
      s"""WITH RECURSIVE
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
         |ORDER BY c.doc_id""".stripMargin.replace("\n", " "))((s, dir) =>
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
    Query("q_pipeline") { (s, dir) =>
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
    },

    // ---- cross-document duplicate SPANS (substring-dedup signal): token
    //      offsets of 8-token windows that also occur in another document —
    //      the masking input for span-level dedup; shuffle carries
    //      (hash, doc_id) only ----
    Query("q_dup_spans",
      // ---- duplicate spans: DuckDB rebuilds the windows from TEXT (not
      //      hashes) and groups by window text — so this row is also the
      //      64-bit window-hash collision check at verify SF ----
      """WITH u AS (
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
         |ORDER BY doc_id, tok_start""".stripMargin.replace("\n", " "))((s, dir) =>
      TextOps.duplicateSpans(docsWithNearDups(s, dir), n = 8, stride = 1)
        .orderBy(col("doc_id"), col("tok_start"))),

    // ---- span MASKING (the consumer of q_dup_spans): cut every token
    //      covered by a cross-doc duplicated window, keep the unique
    //      remainder — relational gaps-and-islands interval merge, per-doc
    //      bounded UDF cut ----
    Query("q_mask_spans",
      // ---- span masking: same window/dup CTEs as q_dup_spans, then the
      //      identical gaps-and-islands merge in DuckDB SQL and a
      //      covered-index token filter ----
      """WITH u AS (
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
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val corpus = docsWithNearDups(s, dir)
      TextOps.maskDuplicateSpans(corpus,
          TextOps.duplicateSpans(corpus, n = 8, stride = 1), n = 8)
        .orderBy(col("doc_id"))
    },

    // ---- winnowing similarity over the planted near-dup pairs.
    //      FIXTURE-SHAPED PAIRING (not a general operator): candidates come
    //      from the planted `doc_id + 1000000` convention, because the row
    //      under test is the winnow KERNEL — general candidate generation
    //      is the LSH ops' job (q_minhash_dedup/q_simhash_dedup) ----
    Query("q_winnow_dedup") { (s, dir) =>
      Functions.register(s)
      val d = docsWithNearDups(s, dir)
      d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1000000)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("winnow_similarity(a.text, b.text)").as("winnow_sim"))
        .filter(col("winnow_sim") >= 0.3)
        .orderBy(col("doc_a"))
    },

    // ---- n-gram Jaccard verification of planted pairs. Same
    //      fixture-shaped pairing as q_winnow_dedup: the kernel is the row
    //      under test, the LSH ops own general pairing ----
    Query("q_ngram_jaccard",
      // ---- n-gram Jaccard over the planted near-dup corpus, pure SQL ----
      """WITH u AS (
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
         |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1000000""".stripMargin.replace("\n", " ")) { (s, dir) =>
      Functions.register(s)
      val d = docsWithNearDups(s, dir)
      d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1000000)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("ngram_jaccard(a.text, b.text)").as("jaccard"))
        .orderBy(col("doc_a"))
    },

    // ---- ANN: brute-force cosine top-k (exact baseline) ----
    Query("q_ann_brute",
      // ---- exact-cosine brute force: computable directly in DuckDB (double
      //      dot/norms in input order — bit-identical to CosineSimilarity) ----
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
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
         |FROM pairs QUALIFY rank <= 5""".stripMargin.replace("\n", " "))((s, dir) =>
      Similarity.bruteForceTopK(tbl(s, dir, "embeddings"), queryMaxId = 20, k = 5)),

    // ---- JL random projection (64-d → 16-d; pinned fold order makes the
    //      projected doubles bit-exact vs the Python mirror) ----
    Query("q_rp_reduce")((s, dir) =>
      Similarity.reduceDims(tbl(s, dir, "embeddings"), outDim = 16)
        .orderBy(col("vec_id"), col("dim"))),

    // ---- ANN: LSH-bucketed (scale path) ----
    Query("q_ann_lsh")((s, dir) =>
      Similarity.lshTopK(tbl(s, dir, "embeddings"), queryMaxId = 20, k = 5)),

    // ---- ANN: IVF (k-means inverted lists, probe re-rank) ----
    Query("q_ann_ivf")((s, dir) =>
      Similarity.ivfTopK(tbl(s, dir, "embeddings"), queryMaxId = 20, k = 5)),

    // ---- ANN: int8-quantized brute force (the 4x-memory scale path;
    //      per-vector scales cancel in cosine so ranking runs on the
    //      int8 bytes alone) ----
    Query("q_ann_quantized")((s, dir) =>
      Similarity.quantizedTopK(tbl(s, dir, "embeddings"), queryMaxId = 20, k = 5)),

    // ---- ANN: IVF x int8 (the two scale paths COMPOSED — float
    //      centroids drive bucketing, the corpus carries only int8 bytes
    //      into the probe join and re-rank) ----
    Query("q_ann_ivf_q8")((s, dir) =>
      Similarity.ivfQuantizedTopK(tbl(s, dir, "embeddings"), queryMaxId = 20, k = 5)),

    // ---- ANN quality as a recorded metric row (VERDICT r3 #7): recall@5
    //      of the LSH and IVF paths against the exact brute-force top-k —
    //      all three deterministic, so the recall itself is a hard oracle
    //      value, not a flaky statistic ----
    Query("q_ann_recall",
      // ---- ANN recall: DuckDB recomputes the exact brute-force top-5 (same
      //      CTE as q_ann_brute) and scores the LSH/IVF GOLDEN tables against
      //      it — the golden side is the independently generated Python
      //      reimplementation, so both factors of the recall are independent
      //      of the Spark code under test ----
      s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
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
         |GROUP BY method ORDER BY method""".stripMargin.replace("\n", " ")) { (s, dir) =>
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
    },

    // ---- embedding-cosine near-dup pairs (planted perturbed copies) ----
    Query("q_embed_near_dups") { (s, dir) =>
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
    },

    // ---- SemDedup (cluster-then-prune semantic dedup) over the SAME
    //      perturbed union as q_embed_near_dups: planted near-identical
    //      pairs must co-cluster and prune to their min-id keeper ----
    Query("q_semdedup") { (s, dir) =>
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
    },

    // ---- hierarchical (two-codebook) SemDedup over the SAME perturbed
    //      union, k1/k2 FORCED so the coarse×fine cell path genuinely
    //      binds (the 10^12-row extension: two small codebooks express
    //      k1·k2 cells with MB-scale broadcasts) ----
    Query("q_semdedup_hier") { (s, dir) =>
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
    },

    // ---- embedding clustering (per-cluster corpus organization) ----
    Query("q_embed_cluster")((s, dir) =>
      Similarity.clusterAssign(tbl(s, dir, "embeddings"))),

    // ---- BM25 top-k retrieval (retrieval-based decontamination probe):
    //      queries are a fixture CONVENTION (every 25th doc's first 3
    //      distinct ≥5-char tokens, appearance order), mirrored in
    //      graftpy.py; scores use the pinned portable log + query-order
    //      folds, so the golden compare is bit-exact ----
    Query("q_bm25")((s, dir) =>
      graft.ops.Retrieval.bm25TopK(docs(s, dir), bm25Queries(s, dir), k = 10)
        .orderBy(col("query_id"), col("rank")))
  )
}
