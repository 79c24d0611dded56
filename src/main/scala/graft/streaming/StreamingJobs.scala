package graft.streaming

import graft.ops.Dedup
import graft.pipeline.{AlignJob, Page}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured Streaming surface.
  *
  * The reference is pure batch (one folio at a time, alignToOCR.py:407-438 —
  * SURVEY.md §2h: no watermarks/windows/state), so streaming is a graft
  * EXTENSION, not a ported capability: the same per-row kernel runs
  * unchanged over a file-source stream (micro-batch), which is how a
  * continuously-crawled 10^12-page table would be ingested incrementally —
  * each micro-batch is embarrassingly parallel, checkpointed by the sink.
  */
object StreamingJobs {

  /** Stream pages from a parquet directory (file source) through the align
    * kernel. The caller picks the sink/trigger; `Trigger.AvailableNow` turns
    * it into an incremental catch-up batch (the resume story for continuous
    * crawls).
    */
  def alignStream(spark: SparkSession, pagesDir: String): DataFrame = {
    import spark.implicits._
    val pages = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Page]].schema)
      .parquet(pagesDir)
      .as[Page]
    // the batch flagship's layout with an empty plan (nothing can be queried
    // ahead of a stream), so every row takes the url hash: a micro-batch of
    // crawled pages has the same long-document skew as a batch partition,
    // and the output is layout-independent by construction (spec-asserted)
    AlignJob.spans(AlignJob.align(pages,
      saltPartitions = spark.sparkContext.defaultParallelism))
  }

  /** Windowed event aggregation with watermark + late-data handling over the
    * events table shape: per event_type counts/sums in 1-minute tumbling
    * windows, 2-minute watermark.
    */
  def eventWindowCounts(events: DataFrame): DataFrame =
    events
      // watermarks require TIMESTAMP (the testdata carries TIMESTAMP_NTZ);
      // session timezone is pinned to UTC so the cast is instant-preserving
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Open-session state carried across micro-batches. */
  final case class SessionState(startUs: Long, endUs: Long, nEvents: Long)

  /** A closed (emitted) session. */
  final case class ClosedSession(
      user_id: Long, session_start_us: Long, session_end_us: Long, n_events: Long)

  /** Gap-based (30-minute) stateful sessionization over the events stream —
    * `flatMapGroupsWithState` with event-time timeout: the custom-state
    * streaming form of the batch `q_sessionize` query. Sessions close when a
    * later event arrives past the gap or when the watermark passes
    * end + gap (timeout).
    */
  def sessionizeStream(
      events: DataFrame,
      gapUs: Long = 1800L * 1000000,
      watermarkDelay: String = "2 minutes"): Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._

    val typed = events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").as[Long], unix_micros(col("ts")).as[Long],
        col("ts").as[java.sql.Timestamp])

    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed: close the open session
            val out = state.getOption.map(s =>
              ClosedSession(userId, s.startUs, s.endUs, s.nEvents)).iterator
            state.remove()
            out
          } else {
            val sorted = rows.map(_._2).toArray.sorted
            val closed = Vector.newBuilder[ClosedSession]
            var cur = state.getOption
            for (ts <- sorted) {
              cur match {
                case Some(s) if ts - s.endUs <= gapUs =>
                  // out-of-order events (within the watermark) may extend the
                  // session backwards as well as forwards
                  cur = Some(SessionState(math.min(s.startUs, ts),
                    math.max(s.endUs, ts), s.nEvents + 1))
                case Some(s) =>
                  closed += ClosedSession(userId, s.startUs, s.endUs, s.nEvents)
                  cur = Some(SessionState(ts, ts, 1))
                case None =>
                  cur = Some(SessionState(ts, ts, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // a backfilled file can put endUs+gap behind the watermark;
              // setTimeoutTimestamp throws for past timestamps -- clamp
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs + 1, s.endUs / 1000 + gapUs / 1000))
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup over a page stream: keep the first row per text
    * digest within the watermark horizon. The state key is the batch
    * `exactDuplicateGroups`' two-digest+length key, built by the same
    * [[graft.ops.Dedup.textKey]] (never the text), and `dropDuplicatesWithinWatermark` bounds state, with the
    * standard watermark trades: a duplicate arriving after the horizon is
    * re-admitted, and ANY row (duplicate or not) whose event time has
    * fallen behind the watermark is dropped as late data. Unbounded-horizon
    * streaming dedup would grow state forever at 10^12 rows; the batch op
    * is the exact form.
    */
  def dedupStream(spark: SparkSession, pagesDir: String, horizon: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    Dedup.withTextKey(spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Page]].schema)
      .parquet(pagesDir)
      .withColumn("warc_ts", col("warc_ts").cast("timestamp"))
      .withWatermark("warc_ts", horizon))
      .dropDuplicatesWithinWatermark("h1", "h2", "len")
      .select(col("url"), col("warc_ts"), col("text"), col("lang"))
  }

  /** Deterministic windowed stats over the events stream — the
    * batch-equivalence form of [[eventWindowCounts]]: epoch-micros window
    * key (cross-engine stable) and order-independent aggregates only
    * (count/min/max; a double SUM is plan-order-dependent and would not
    * hash-match an independent engine).
    */
  def eventWindowStats(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("min_value"), col("max_value"))

  /** Streaming exact dedup over a documents-shaped stream
    * (doc_id, text, ts): the digest key of the batch
    * [[graft.ops.Dedup.exactDuplicateGroups]] ([[graft.ops.Dedup.textKey]]),
    * emitting the surviving text.
    * Emitting only `text` keeps the output deterministic — WHICH duplicate
    * row survives depends on partition processing order, but duplicates
    * share their text by definition.
    */
  def dedupDocsStream(spark: SparkSession, docsDir: String, horizon: String = "10 minutes"): DataFrame =
    Dedup.withTextKey(spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .parquet(docsDir)
      .withWatermark("ts", horizon))
      .dropDuplicatesWithinWatermark("h1", "h2", "len")
      .select(col("text"))

  /** Streaming incremental dedup against a STATIC prior snapshot — the
    * rolling-crawl ingest shape: new documents stream in, and any whose
    * content digest already exists in the prior corpus is dropped
    * mid-flight. The prior side is a static digest table (16 B + length
    * per row, the two-independent-digest key of
    * [[graft.ops.Dedup.incrementalDedup]], built by the same
    * [[graft.ops.Dedup.textKey]]); the join is stream-static and
    * STATELESS — the prior is fixed, so unlike [[dedupDocsStream]] no
    * watermark state accumulates. Expressed as left_outer + null-marker
    * filter (the most widely supported stream-static shape, identical
    * result to an anti join). New-vs-new duplicates inside the stream are
    * deliberately NOT deduped here — compose with [[dedupDocsStream]] for
    * the full rolling dedup.
    */
  def incrementalDedupStream(
      spark: SparkSession, newDocsDir: String, prior: DataFrame): DataFrame = {
    val priorKeys = prior.select(Dedup.textKey(col("text")): _*)
      .distinct()
      .withColumn("__seen", lit(1))
    Dedup.withTextKey(spark.readStream
      .schema("doc_id LONG, text STRING")
      .parquet(newDocsDir))
      .join(priorKeys, Seq("h1", "h2", "len"), "left_outer")
      .filter(col("__seen").isNull)
      .select(col("doc_id"), col("text"))
  }

  /** Streaming FUZZY decontamination against a STATIC eval set — the
    * production shape for a 10^12-doc crawl streaming past a fixed
    * benchmark suite: benchmarks are small by definition, so the eval
    * side's banded minhash signatures AND texts are collected into a
    * driver index (the explicit `maxEvalDocs` bound IS the driver-collect
    * contract, same convention as `Bpe.localVocabLimit` /
    * `bucketByScore.maxSampleRows` — over it, fail loudly) and BROADCAST;
    * each streaming document computes its own band keys map-side with the
    * SAME compiled fold as the batch signature stage
    * ([[graft.ops.Dedup.bandKeysOf]]), probes the index, and survives only
    * if no candidate verifies at exact jaccard ≥ threshold. STATELESS —
    * zero shuffle, zero watermark state, arbitrarily parallel.
    *
    * Semantics vs the batch [[graft.ops.Dedup.decontaminate]] drop mode:
    * identical at any scale where the batch's per-side bucket caps do not
    * bind (the eval-side cap IS applied here at index build; the
    * training-side cap is a batch-only skew guard with no stateless
    * analogue — a hot band key costs this form per-row probe time, not a
    * quadratic bucket product). The driver row shares the batch row's
    * GOLDEN verbatim (anti-drift, like q_incremental_stream's shared SQL).
    */
  def decontaminateStream(
      spark: SparkSession,
      newDocsDir: String,
      evalSet: DataFrame,
      threshold: Double = 0.7,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      shingleN: Int = 3,
      maxEvalDocs: Long = 1000000L,
      maxBucketSide: Int = 1000): DataFrame = {
    val numPerm = bands * rowsPerBand
    require(maxEvalDocs > 0 && maxEvalDocs < Int.MaxValue,
      s"maxEvalDocs must be in (0, Int.MaxValue): $maxEvalDocs — the bound " +
        "is enforced through limit(), whose argument is an Int; a larger " +
        "value would silently wrap and truncate the index")
    val evalRows = evalSet
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("text"))
      .limit(maxEvalDocs.toInt + 1)
      .collect().map(_.getString(0))
    require(evalRows.length <= maxEvalDocs,
      s"eval set exceeds maxEvalDocs=$maxEvalDocs — decontaminateStream " +
        "broadcasts the eval side; use the batch Dedup.decontaminate for " +
        "corpus-sized eval tables")
    val index = new java.util.HashMap[Long, Array[Int]]()
    locally {
      val tmp = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
      var i = 0
      while (i < evalRows.length) {
        val keys = Dedup.bandKeysOf(evalRows(i), numPerm, bands, rowsPerBand, shingleN)
        var b = 0
        while (b < keys.length) {
          // key space is already band-salted (the fold xors the band id),
          // so a flat Long key suffices
          tmp.computeIfAbsent(keys(b),
            _ => scala.collection.mutable.ArrayBuffer.empty) += i
          b += 1
        }
        i += 1
      }
      tmp.forEach { (k, v) =>
        // eval-side bucket cap — the same boilerplate-key guard as the
        // batch join's maxBucketSide
        if (v.length <= maxBucketSide) index.put(k, v.distinct.toArray)
      }
    }
    val bc = spark.sparkContext.broadcast((index, evalRows))
    val clean = udf((text: String) => {
      if (text == null) true
      else {
        val (idx, texts) = bc.value
        val keys = Dedup.bandKeysOf(text, numPerm, bands, rowsPerBand, shingleN)
        // a candidate sharing several bands would verify repeatedly — the
        // seen-set bounds verification to once per candidate
        val seen = new java.util.HashSet[Integer]()
        var contaminated = false
        var b = 0
        while (b < keys.length && !contaminated) {
          val cands = idx.get(keys(b))
          if (cands != null) {
            var i = 0
            while (i < cands.length && !contaminated) {
              if (seen.add(cands(i)) &&
                Dedup.jaccard(text, texts(cands(i)), shingleN) >= threshold)
                contaminated = true
              i += 1
            }
          }
          b += 1
        }
        !contaminated
      }
    })
    spark.readStream
      .schema("doc_id LONG, text STRING")
      .parquet(newDocsDir)
      // null-id parity with the batch path: bandedSigs never signs a
      // null-id row, so the batch anti-join conservatively KEEPS it even
      // when its text is contaminated — the stream must do the same or
      // the two "anti-drift" forms diverge on exactly the rows no golden
      // fixture carries
      .filter(col("doc_id").isNull || clean(col("text")))
      .select(col("doc_id"), col("text"))
  }

  /** Streaming as-of enrichment: probe events arrive as a stream and are
    * joined map-side to the snapshot state visible at each probe's
    * timestamp — the streaming face of [[graft.ops.AsofJoin.asofJoin]],
    * and the standard "enrich events with dimension state at event time"
    * stream shape (a per-batch keyed window cannot run inside a streaming
    * plan, so the static side becomes a broadcast per-key sorted index and
    * each probe binary-searches the greatest snapshot ts <= its own).
    *
    * The snapshot side is collected and broadcast under an ENFORCED bound
    * (same contract style as [[decontaminateStream]]'s eval index) —
    * dimension tables are broadcast-scale by definition; corpus-scale
    * snapshot sides belong on the batch operator. Probe rows with null
    * key/ts get null payloads, and null-key/ts snapshots are dropped,
    * exactly like the batch form (q_asof_stream shares q_asof_join's
    * DuckDB ASOF oracle verbatim — the anti-drift rule).
    *
    * Snapshot schema is pinned to (keyCol LONG, tsCol TIMESTAMP, snap_id
    * LONG, snap_value DOUBLE) — the payload rides a nullable struct so
    * "no snapshot yet" stays distinguishable.
    */
  def asofStream(
      spark: SparkSession,
      probesDir: String,
      snaps: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      maxSnaps: Int = 10000000): DataFrame = {
    val rows = snaps
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).cast("long"),
        unix_micros(col(tsCol).cast("timestamp")),
        col("snap_id").cast("long"), col("snap_value").cast("double"))
      .limit(maxSnaps + 1)
      .collect()
    require(rows.length <= maxSnaps,
      s"snapshot side exceeds maxSnaps=$maxSnaps — asofStream broadcasts " +
        "the snapshot index; use the batch AsofJoin for corpus-scale sides")
    val index: java.util.HashMap[Long, (Array[Long], Array[Long], Array[Double])] = {
      val tmp = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]]()
      rows.foreach { r =>
        tmp.computeIfAbsent(r.getLong(0),
          _ => scala.collection.mutable.ArrayBuffer.empty) +=
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))
      }
      val out = new java.util.HashMap[Long, (Array[Long], Array[Long], Array[Double])]()
      tmp.forEach { (k, v) =>
        val sorted = v.sortBy(_._1).toArray
        out.put(k, (sorted.map(_._1), sorted.map(_._2), sorted.map(_._3)))
      }
      out
    }
    val bc = spark.sparkContext.broadcast(index)
    val lookup = udf((key: java.lang.Long, tsMicros: java.lang.Long) => {
      if (key == null || tsMicros == null) None
      else {
        val e = bc.value.get(key.longValue())
        if (e == null) None
        else {
          val (ts, ids, vals) = e
          // greatest index with ts(i) <= probe ts (>= tie semantics, the
          // same visibility rule the batch window's (ts, tag) sort pins)
          var lo = 0; var hi = ts.length - 1; var ans = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (ts(mid) <= tsMicros.longValue()) { ans = mid; lo = mid + 1 }
            else hi = mid - 1
          }
          if (ans < 0) None else Some((ids(ans), vals(ans)))
        }
      }
    })
    spark.readStream
      .schema("event_id LONG, user_id LONG, ts TIMESTAMP_NTZ")
      .parquet(probesDir)
      .withColumn("__hit",
        lookup(col(keyCol), unix_micros(col(tsCol).cast("timestamp"))))
      .select(col("event_id"), col(keyCol),
        col("__hit._1").as("snap_id"), col("__hit._2").as("snap_value"))
  }

  /** Streaming form of the full ingest head: archive blobs arrive as a
    * stream and each micro-batch runs the SAME record-split +
    * charset-decode kernel as the batch op ([[graft.ops.Warc
    * .recordsDecoded]] — shared code, so stream and batch CANNOT drift;
    * the oracle row is literally the batch query's golden). Stateless
    * map-only: no watermark, no state store — a crawl's ingest tier is
    * the textbook always-on stream.
    */
  def ingestStream(spark: SparkSession, archivesDir: String): DataFrame = {
    val in = spark.readStream
      .schema("archive_id LONG, data BINARY")
      .parquet(archivesDir)
    graft.ops.Warc.recordsDecoded(in)
  }

  /** Streaming Markdown extraction: the SAME
    * [[graft.align.Markdown.convert]] kernel per micro-batch over
    * pre-rendered page bytes (shared code, so stream and batch CANNOT
    * drift — q_markdown_stream's oracle row is literally the batch
    * golden). Stateless map-only: the structured-extraction tier of an
    * always-on ingest stream.
    */
  def markdownStream(spark: SparkSession, pagesDir: String): DataFrame = {
    import spark.implicits._
    spark.readStream
      .schema("doc_id LONG, html BINARY")
      .parquet(pagesDir)
      .as[(Long, Array[Byte])]
      .map { case (id, html) =>
        val c = graft.align.Markdown.convert(html)
        (id, c.markdown, c.nBlocks)
      }
      .toDF("doc_id", "markdown", "n_blocks")
  }

  /** Streaming phrase-blocklist gate: the SAME
    * [[graft.ops.Blocklist.matchCounts]] kernel per micro-batch (shared
    * code, so stream and batch CANNOT drift — q_blocklist_stream's
    * oracle row is literally the batch golden). Stateless map-only with
    * the phrase table broadcast: the moderation tier of an always-on
    * ingest stream.
    */
  def blocklistStream(
      spark: SparkSession,
      docsDir: String,
      phrases: Seq[String],
      maxMatches: Int): DataFrame = {
    val in = spark.readStream
      .schema("doc_id LONG, text STRING")
      .parquet(docsDir)
    graft.ops.Blocklist.matchCounts(in, phrases, maxMatches)
  }

  /** Run a streaming query to completion over the currently-available input
    * (AvailableNow), writing parquet + checkpoint under outDir.
    */
  def runAvailableNow(df: DataFrame, outDir: String): Unit = {
    val q = df.writeStream
      .format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/checkpoint")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Run an aggregation stream to completion in Complete mode into a memory
    * sink and return the full result table. Complete mode emits EVERY
    * window/group regardless of watermark progress, so the result equals
    * the batch aggregation over the same input — the deterministic
    * batch-equivalence harness for windowed streaming aggs.
    */
  def runCompleteToMemory(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }
}
