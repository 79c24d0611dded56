package graft.catalog

import graft.SparkEntry.{docs, tbl, fanOut, scratchDir, drainStream}
import graft.pipeline.Functions
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operators over the sf tables: scans, filters, joins,
  * windows, sessionization and its streams, as-of joins, sampling and
  * mixing, profiling, and the CSV/JSONL sources.
  */
object RelationalQueries {

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

  val all: Seq[Query] = Seq(
    // ---- O23/O24 scan + filter + project ----
    Query("q_filter_project",
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_returnflag = 'R' AND l_quantity > 30")((s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // ---- O25 distinct + sort ----
    Query("q_distinct_sort", "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2")((s, dir) =>
      tbl(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // ---- O26 group-by aggregation (integer-exact measures) ----
    Query("q_group_agg",
      "SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
        // outer CAST: DuckDB sum() yields HUGEINT (serializes as decimal128)
        // even over BIGINT input; Spark's is int64 — same values, different
        // hash without it
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey " +
        "FROM lineitem GROUP BY 1, 2")((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          min(col("l_orderkey")).as("min_okey"),
          max(col("l_orderkey")).as("max_okey"))),

    // ---- O27 broadcast lookup join ----
    Query("q_join_broadcast",
      "SELECT n_name, count(*) AS n_customers FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1")((s, dir) =>
      tbl(s, dir, "customer").join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"))),

    // ---- O28 lag window (neighbor access) ----
    Query("q_lag_window",
      "SELECT o_custkey, o_orderkey, lag(o_orderkey) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_okey FROM orders")((s, dir) =>
      tbl(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey")))
          .as("prev_okey"))),

    // ---- O29 ordered concatenation fold ----
    Query("q_concat_fold",
      "SELECT o_custkey, string_agg(CAST(o_orderkey AS VARCHAR), ' ' " +
        "ORDER BY CAST(o_orderkey AS VARCHAR)) AS okeys FROM orders GROUP BY 1")((s, dir) =>
      tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(array_join(array_sort(collect_list(col("o_orderkey").cast("string"))), " ")
          .as("okeys"))),

    // ---- O33 moving average window ----
    Query("q_moving_avg",
      "SELECT event_id, user_id, avg(value) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS smoothed " +
        "FROM events")((s, dir) =>
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
    Query("q_iou_argmax",
      """WITH boxes AS (
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
         |WHERE rn = 1""".stripMargin.replace("\n", " ")) { (s, dir) =>
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
    },

    // ---- union-bbox UDAF (the O19 span-union fold, relational form) ----
    Query("q_bbox_union",
      """WITH boxes AS (
         |  SELECT p_brand,
         |         p_partkey % 97 AS ulx, p_partkey % 89 AS uly,
         |         p_partkey % 97 + 1 + p_size % 13 AS lrx,
         |         p_partkey % 89 + 1 + p_size % 11 AS lry
         |  FROM part)
         |SELECT p_brand, min(ulx) AS ulx, min(uly) AS uly,
         |       max(lrx) AS lrx, max(lry) AS lry
         |FROM boxes GROUP BY p_brand ORDER BY p_brand""".stripMargin.replace("\n", " ")) { (s, dir) =>
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
    },

    // ---- sessionization over events (gap-based, 30-minute timeout):
    //      lag + cumulative sum — the batch form of stateful sessionizing ----
    Query("q_sessionize",
      """WITH flagged AS (
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
         |FROM sessions GROUP BY user_id, session_seq""".stripMargin.replace("\n", " ")) { (s, dir) =>
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
    },

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
    Query("q_sessionize_stream",
      // gap-closed sessions = every session except each user's final one
      """WITH flagged AS (
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
        .stripMargin.replace("\n", " ")) { (s, dir) =>
      val tmp = scratchDir(s, "sessionize_stream")
      val src = tbl(s, dir, "events")
      src.coalesce(1).write.parquet(s"$tmp/events")
      drainStream(s, tmp)(c =>
        graft.streaming.StreamingJobs.sessionizeStream(
          c.readStream.schema(src.schema).parquet(s"$tmp/events"),
          watermarkDelay = "3650 days").toDF())
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"))
    },

    // watermarked tumbling-window aggregation, Complete mode to a memory
    // sink: the full window table equals the batch aggregation. The stream
    // runs on a 4-partition clone of `s` (the state stores' count, as in
    // `drainStream`), and the table is re-homed to `s`
    Query("q_window_stream",
      "SELECT epoch_us(time_bucket(INTERVAL '1 minute', ts)) AS window_start_us, " +
        "event_type, count(*) AS n_events, " +
        "min(value) AS min_value, max(value) AS max_value " +
        "FROM events GROUP BY 1, 2") { (s, dir) =>
      val tmp = scratchDir(s, "window_stream")
      val src = tbl(s, dir, "events")
      src.write.parquet(s"$tmp/events")
      GraftSqlBridge.withConf(s, "spark.sql.shuffle.partitions" -> "4") { c =>
        val window = graft.streaming.StreamingJobs.runCompleteToMemory(
          graft.streaming.StreamingJobs.eventWindowStats(
            c.readStream.schema(src.schema).parquet(s"$tmp/events")),
          "graft_window_stream")
        GraftSqlBridge.ofRows(s, window.queryExecution.analyzed)
      }
    },

    // ---- as-of temporal join: the snapshot state visible at event time
    //      (Spark has no ASOF JOIN; DuckDB's NATIVE `ASOF LEFT JOIN` is
    //      the oracle). Snapshots = every 10th event, so each snapshot is
    //      also a probe of itself (binds the `>=` tie semantics); users
    //      with no prior snapshot bind the left-outer null ----
    Query("q_asof_join", AsofSql) { (s, dir) =>
      val ev = tbl(s, dir, "events")
      graft.ops.AsofJoin.asofJoin(asofProbes(ev), asofSnaps(ev), "user_id", "ts")
        .select("event_id", "user_id", "snap_id", "snap_value")
        .orderBy(col("event_id"))
    },

    // ---- the SAME join through the hot-key time-bucketed path, FORCED
    //      to 8 time buckets — shares q_asof_join's oracle SQL verbatim
    //      (the anti-drift rule), so local-pass + cross-bucket carry must
    //      reproduce the one-window form exactly ----
    Query("q_asof_scaled", AsofSql) { (s, dir) =>
      val ev = tbl(s, dir, "events")
      graft.ops.AsofJoin.asofJoinBucketed(asofProbes(ev), asofSnaps(ev),
        "user_id", "ts", numBuckets = 8)
        .select("event_id", "user_id", "snap_id", "snap_value")
        .orderBy(col("event_id"))
    },

    // ---- the SAME join as a STREAM: probes arrive as a parquet stream
    //      and are enriched map-side from a broadcast snapshot index
    //      (binary search per probe) — shares the ASOF oracle verbatim,
    //      so the stream lookup must equal both batch forms exactly ----
    Query("q_asof_stream", AsofSql) { (s, dir) =>
      val tmp = scratchDir(s, "asof_stream")
      val ev = tbl(s, dir, "events")
      asofProbes(ev).write.mode("overwrite").parquet(s"$tmp/probes")
      drainStream(s, tmp)(c =>
        graft.streaming.StreamingJobs.asofStream(c, s"$tmp/probes",
          asofSnaps(ev)))
        .orderBy(col("event_id"))
    },

    // ---- exact-k-per-group sampling via the two-phase salted top-k
    //      (salt FORCED to 4 so the phase-2 merge genuinely binds);
    //      ranked by the engine-portable (md5(id), id) shuffle ----
    Query("q_sample_per_group",
      "WITH r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk FROM documents " +
        "WHERE doc_id IS NOT NULL) " +
        "SELECT doc_id, source, CAST(rnk AS INTEGER) AS rnk FROM r " +
        "WHERE rnk <= 7 ORDER BY source, rnk")((s, dir) =>
      graft.ops.Sampling.sampleKPerGroup(
        docs(s, dir).select(col("doc_id"), col("source")),
        groupCol = "source", k = 7, saltBuckets = 4)
        .orderBy(col("source"), col("rnk"))),

    // ---- stratified quota sampling (domain/language mixing): map-side
    //      hash gate, no shuffle, parallelism-independent ----
    Query("q_stratified_sample")((s, dir) =>
      graft.ops.Sampling.stratifiedSample(
        docs(s, dir).select(col("doc_id"), col("lang")),
        Map("en" -> 0.25, "zh" -> 0.5, "de" -> 1.0))
        .orderBy(col("doc_id"))),

    // ---- corpus mixing to target proportions: counts → max achievable
    //      volume → per-stratum keep-rates → deterministic gate (the
    //      binding stratum, de at these weights, keeps 100%) ----
    Query("q_mix_weights")((s, dir) =>
      graft.ops.Sampling.mixToWeights(
        docs(s, dir).select(col("doc_id"), col("lang")),
        Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.25))
        .orderBy(col("doc_id"))),

    // ---- quality-quantile bucketing (the "keep the top X% by score" cut):
    //      thresholds from a deterministic hash-gated sample (reproducible
    //      at any parallelism, unlike approxQuantile's merge-order-
    //      dependent GK sketch), assignment map-side ----
    Query("q_quantile_bucket")((s, dir) =>
      graft.ops.Sampling.bucketByScore(
        docs(s, dir).select(col("doc_id"),
          length(col("text")).cast("double").as("score")),
        nBuckets = 4, sampleMicros = 200000L)
        .orderBy(col("doc_id"))),

    // ---- repetition-weight upsampling (the other half of a pretraining
    //      mix: keep-rates can only drop; 2.5 epochs of a high-quality
    //      source needs replication): floor(w) copies + one more behind
    //      the deterministic hash gate at frac(w); w < 1 degenerates to
    //      the keep-rate gate; absent strata keep once ----
    Query("q_upsample")((s, dir) =>
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
    Query("q_profile",
      """WITH d AS (SELECT *, CASE WHEN doc_id % 13 = 0 THEN NULL
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
         |ORDER BY 1""".stripMargin.replace("\n", " "))((s, dir) =>
      graft.ops.Profile.profileTable(
        docs(s, dir).withColumn("lang_nullable",
          when(col("doc_id") % 13 === 0, lit(null).cast("string"))
            .otherwise(col("lang"))),
        exact = true)
        .orderBy(col("column"))),

    // ---- CSV source scan (O23) ----
    Query("q_csv_scan", ("SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 100 ORDER BY doc_id")) { (s, dir) =>
      val tmp = scratchDir(s, "csv_scan")
      docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("doc_id LONG, lang STRING, n_chars LONG")
        .csv(tmp)
        .filter(col("n_chars") > 100)
        .orderBy(col("doc_id"))
    },

    // ---- JSONL source + sink (O23 sibling — the dominant webtext
    //      interchange format): write the projection as JSON lines, read it
    //      back through the JSON source with an explicit schema. No
    //      pre-write sort: multi-file read-back order is not preserved
    //      anyway, and the post-read orderBy defines the compared output ----
    Query("q_jsonl_scan", ("SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 100 ORDER BY doc_id")) { (s, dir) =>
      val tmp = scratchDir(s, "jsonl_scan")
      docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").json(tmp)
      s.read.schema("doc_id LONG, lang STRING, n_chars LONG").json(tmp)
        .filter(col("n_chars") > 100)
        .orderBy(col("doc_id"))
    }
  )
}
