package graft.tools

import graft.{LocalSession, SparkEntry}
import graft.ops.Centrality
import graft.pipeline.AlignJob
import java.nio.file.{Files, Paths}

/** Dump formatted physical plans of the flagship job and representative
  * queries to PLANS.md — the plan-shape evidence the scale review reads
  * (pushdown, pruning, broadcast choice, single-exchange kernel stage).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = LocalSession(4)

    val sb = new java.lang.StringBuilder
    sb.append("# PLANS — formatted physical plans (generated by graft.tools.PlanDump)\n\n")
    sb.append(s"Input: `$sfDir`. Regenerate: `sbt \"runMain graft.tools.PlanDump\"`.\n")

    def dump(title: String, note: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    // a graph loop's round is RDD operations: its lineage, not a SQL plan
    def dumpRound[K, S](title: String, note: String)(loop: => Centrality.RddLoop[K, S]): Unit = {
      val l = loop
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      try sb.append(l.round(l.start, 1).toDebugString).append("\n")
      finally l.adj.unpersist(blocking = false)
      sb.append("```\n")
    }
    def linkEdges = SparkEntry.queries("q_link_edges")(spark, sfDir)
    def parts(stateRows: Long) = Centrality.loopPartitions(stateRows)

    dump("Flagship align (salted)",
      "One FileScan (pruned to doc_id/text/lang), ONE Exchange (the explicit " +
        "url-hash salt — kernel cost is opaque to AQE), object kernel stage, " +
        "no other shuffle.") {
      AlignJob.metrics(AlignJob.align(AlignJob.synthPages(spark, sfDir), saltPartitions = 4))
    }
    dump("q_filter_project", "Predicate + projection pushed into the parquet scan.") {
      SparkEntry.queries("q_filter_project")(spark, sfDir)
    }
    dump("q_join_broadcast", "Dimension side broadcast; no shuffle of the fact side.") {
      SparkEntry.queries("q_join_broadcast")(spark, sfDir)
    }
    dump("q_group_agg", "Partial (map-side) + final hash aggregation.") {
      SparkEntry.queries("q_group_agg")(spark, sfDir)
    }
    dump("q_minhash_dedup",
      "Signatures map-side; the single groupBy(band,key) shuffle creates " +
        "candidate buckets; Jaccard verification joins only the candidate set.") {
      SparkEntry.queries("q_minhash_dedup")(spark, sfDir)
    }
    dump("q_ann_brute",
      "Query set broadcast; cosine is the native codegen expression " +
        "(inside WholeStageCodegen, no ScalaUDF).") {
      SparkEntry.queries("q_ann_brute")(spark, sfDir)
    }
    dump("q_simhash_dedup",
      "Count-first capped bucket self-join: both sides filtered to " +
        "1 < size <= cap buckets, pairs stream from the sort-merge join, " +
        "hamming filter map-side before the pair-dedup shuffle.") {
      SparkEntry.queries("q_simhash_dedup")(spark, sfDir)
    }
    dump("q_folio_text_scaled (boundary-exchange global lag, FORCED)",
      "Sampled-boundary bucketed windows + broadcast boundary theta-join " +
        "(ops/ScaleWindows) — every Window partitioned by __bkt, no " +
        "single-partition stage (plan-asserted in Round3ShapeSpec). " +
        "q_folio_text itself takes the measured small-input fast path " +
        "below 1M rows.") {
      SparkEntry.queries("q_folio_text_scaled")(spark, sfDir)
    }
    dump("q_mei_assign (O45)",
      "url-partitioned end to end: cached spans consumed from " +
        "InMemoryTableScan on both sides (kernel runs once), per-document " +
        "x-bucketed theta-join, argmax as a map-side-combining " +
        "max(struct) hash aggregate, leader windows partitioned by url; " +
        "no UDF in the join predicate.") {
      SparkEntry.queries("q_mei_assign")(spark, sfDir)
    }
    dump("q_eval_alignment (one-pass two-system eval)",
      "Single object-kernel stage aligns each page under BOTH scoring " +
        "systems and scores it in the same task; the only Exchanges are " +
        "the kernel layout and the final sort.") {
      SparkEntry.queries("q_eval_alignment")(spark, sfDir)
    }
    dump("q_domain_stats (domain curation)",
      "Registered-domain extraction is pure expression work (parse_url + " +
        "substring_index, no UDF); one partial-aggregating hash aggregate " +
        "on the domain key.") {
      SparkEntry.queries("q_domain_stats")(spark, sfDir)
    }
    dump("q_dedup_clusters (cluster resolution result)",
      "The emitted plan is Project over the label table's LogicalRDD " +
        "(LogicalRDD leaves only — asserted in DedupClusterSpec): the " +
        "pointer-jumping WCC loop (Centrality.components') ran as RDD " +
        "rounds, each checkpointed, and its final state came back through " +
        "createDataFrame, so no downstream consumer can re-trigger the pair " +
        "pipelines.") {
      SparkEntry.queries("q_dedup_clusters")(spark, sfDir)
    }

    dump("q_pack_index (two-pass distributed prefix sum, FORCED)",
      "Training-chunk index: the global token cumsum runs the bucketed " +
        "two-pass form (ScaleWindows.withGlobalCumsum) — every Window " +
        "partitioned by __bkt, per-bucket offsets from a broadcast " +
        "theta-join over the metadata-scale totals table; no " +
        "single-partition window anywhere (plan-asserted in PackShardSpec).") {
      SparkEntry.queries("q_pack_index")(spark, sfDir)
    }
    dump("q_line_dedup (cross-document line dedup)",
      "Document-frequency aggregate keys on xxhash64(line) — 8-byte keys " +
        "shuffle with map-side partial count_distinct; the hot-line " +
        "membership join broadcast-converts (df>1 lines are a sliver of " +
        "the corpus); reassembly groups by doc_id with a Tungsten " +
        "sort_array over (pos, line) structs.") {
      SparkEntry.queries("q_line_dedup")(spark, sfDir)
    }
    dump("q_shard (deterministic training shards)",
      "Shard id is pure map-side md5-nibble arithmetic; the only window " +
        "is PARTITIONED BY shard (nShards balanced groups, each sorted " +
        "independently) — reproducible layout with no global sort.") {
      SparkEntry.queries("q_shard")(spark, sfDir)
    }

    dump("q_link_degrees (link graph aggregate)",
      "Edge extraction is a pure map stage (parse + resolve in one " +
        "MapPartitions — the html payload never shuffles); degrees are " +
        "two partial-aggregating counts full-outer-joined on url.") {
      SparkEntry.queries("q_link_degrees")(spark, sfDir)
    }

    dump("q_bm25 (broadcast-brute-force retrieval)",
      "No corpus-sized shuffle anywhere: scoring is one MapPartitions " +
        "with the idf-annotated query list broadcast, per-partition " +
        "top-k heaps bound the final per-query window's input to " +
        "partitions x queries x k rows.") {
      SparkEntry.queries("q_bm25")(spark, sfDir)
    }

    dump("q_robots (salted replicated-build-side host join)",
      "Robots bodies parse map-side into bounded rule lists BEFORE the " +
        "join; the tiny parsed side replicates per salt bucket so a " +
        "url-side hot host spreads over saltBuckets reducers; the " +
        "decision itself is a bounded-input lambda after the join.") {
      SparkEntry.queries("q_robots")(spark, sfDir)
    }

    dump("q_frontier (link edges -> robots gate -> per-host top-k)",
      "Crawl-state joins are semi/anti on url digests; refs is one " +
        "partial-aggregating countDistinct; the politeness budget is the " +
        "two-phase salted top-k (rank within (host, salt), then within " +
        "host over <= k*salt survivors) — no hot-host single-task sort.") {
      SparkEntry.queries("q_frontier")(spark, sfDir)
    }

    dump("q_html_meta (ingest-head map stage)",
      "A single object map stage over the page table — no shuffle " +
        "anywhere; the html column never moves.") {
      SparkEntry.queries("q_html_meta")(spark, sfDir)
    }

    dump("q_charset (ingest-head map stage)",
      "A single object map stage over the payload table — no shuffle " +
        "anywhere; the payload column never moves and the prescan reads " +
        "at most 1 KB of it per row.") {
      SparkEntry.queries("q_charset")(spark, sfDir)
    }

    dump("q_warc_records (archive ingest head)",
      "Archive assembly aside (fixture), the record split + extraction " +
        "is a single object map stage over archive blobs — the " +
        "valid-prefix parser never fails a task.") {
      SparkEntry.queries("q_warc_records")(spark, sfDir)
    }

    dump("q_ingest_gz_http (full .warc.gz ingest composition)",
      "gz member split, plain-stream reassembly, record parse, response " +
        "filter, HTTP head parse, and transport-charset decode all fuse " +
        "into the SAME single object map stage over archive blobs — " +
        "adding the two real-world layers (gzip members, HTTP messages) " +
        "adds zero shuffles.") {
      SparkEntry.queries("q_ingest_gz_http")(spark, sfDir)
    }

    dump("q_cdx_dedup (write-time revisit dedup)",
      "Keeper-per-digest is a map-side-combining min(struct) hash " +
        "aggregate — a hot digest (a viral page captured millions of " +
        "times) never sorts in one task, unlike a window form; the join " +
        "back is on the 32-char digest key only, record bytes never " +
        "move.") {
      SparkEntry.queries("q_cdx_dedup")(spark, sfDir)
    }

    dump("q_fetch_schedule (politeness scheduler)",
      "The wave joins the per-host metadata BROADCAST (hosts are " +
        "metadata-scale by construction) and the offset is a map-side " +
        "multiply — scheduling adds zero shuffles to the frontier plan.") {
      SparkEntry.queries("q_fetch_schedule")(spark, sfDir)
    }

    dump("q_sitemap_seed (sitemap -> robots-gated seeds)",
      "Sitemap parse is map-only; one distinct on the loc column; the " +
        "robots gate reuses annotate's salted replicated-build-side " +
        "join — the politeness loop closes without a document-sized " +
        "shuffle.") {
      SparkEntry.queries("q_sitemap_seed")(spark, sfDir)
    }

    dump("q_markdown (structured extraction kernel)",
      "Map-only per-row kernel over the pruned (doc_id, text) scan — " +
        "the same no-shuffle shape as the other extraction tiers.") {
      SparkEntry.queries("q_markdown")(spark, sfDir)
    }
    dump("q_harmonic_hll (HyperBall round loop)",
      "The final sort over the loop's state: a LogicalRDD over the last " +
        "round's checkpoint. The rounds are RDD operations (see the " +
        "HyperBall round below). State is m bytes per vertex; no per-pair " +
        "structure anywhere.") {
      SparkEntry.queries("q_harmonic_hll")(spark, sfDir)
    }
    dump("q_dsir (importance-resampling selection)",
      "Scoring pass is map-only against the broadcast 8192-double ratio " +
        "array; the selection gate is a broadcast membership test — the " +
        "only shuffle in the whole op is the bounded bucket aggregate " +
        "(collected 8192 rows), which ran before this plan.") {
      SparkEntry.queries("q_dsir")(spark, sfDir)
    }
    dumpRound("Components round (the distributed WCC loop's per-round lineage)",
      "One Spark job per round over the persisted adjacency (built once, " +
        "hash-partitioned into ⌈2·edges / 2M⌉ partitions): the adjacency " +
        "zipped with the labels sends each label to the neighbours, " +
        "combined map-side to the neighbour-min (first shuffle); each vertex " +
        "asks its neighbour-min for that vertex's neighbour-min (second " +
        "shuffle) and gets the answer back (third): the pointer jump. The " +
        "last zip with the round-start labels flags the changed rows, which " +
        "the round's one job counts after checkpointing.") {
      val e = linkEdges
      Centrality.componentsLoop[String](e, parts(2L * e.count()))(
        implicitly, graft.ops.Bpe.codePointOrder)
    }
    dumpRound("HyperBall round (the harmonic-centrality loop's per-round lineage)",
      "ONE shuffle per round: the out-adjacency zipped with the sketches " +
        "sends each sketch along its out-edges, register-maxed map-side " +
        "(max is idempotent) into the same partitioner; the zip with the " +
        "previous state maxes a vertex's own sketch in and adds " +
        "(est − prev_est) / t to h.") {
      val e = linkEdges
      Centrality.harmonicLoop(e, parts(e.count()))
    }
    dumpRound("LPA round (the distributed loop's per-round lineage)",
      "ONE shuffle per round: the adjacency zipped with the labels sends " +
        "each label to the neighbours, counted map-side per receiver; the " +
        "zip with the previous labels takes the most frequent, ties to the " +
        "smallest in code-point order. Integer counts make the loop " +
        "bit-identical to the exact local path — q_lpa_dist shares q_lpa's " +
        "golden.") {
      val e = linkEdges
      Centrality.lpaLoop(e, parts(2L * e.count()))
    }
    dump("q_recrawl (change-rate scheduling)",
      "The lag window and the per-urlkey aggregation share one key — " +
        "ONE Exchange serves both (no second shuffle for the groupBy).") {
      SparkEntry.queries("q_recrawl")(spark, sfDir)
    }

    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
