package graft.catalog

import graft.SparkEntry.{docs, tbl, fanOut, alignedFor, rmTree, scratchDir}
import graft.catalog.Query.{RepoDir, golden}
import graft.align.{CleanText, SylBox, Syllabify}
import graft.ops.{CacheRegistry, Multimodal, ScaleWindows}
import graft.pipeline.{AlignJob, EvalJob, Functions, GtXml, MeiAssign, PageGen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The alignment pipeline: the flagship spans and metrics, its streaming
  * and resumable twins, text extraction and syllabification, evaluation
  * against scoring variants and ground truth, MEI enrichment, and the
  * Cantus transcript assembly.
  */
object AlignQueries {

  /** The DuckDB oracle of both per-folio assembly entries. */
  private val FolioTextSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey, max(o_orderkey) AS last_okey,
      |         string_agg(CAST(o_orderkey AS VARCHAR), ' '
      |                    ORDER BY CAST(o_orderkey AS VARCHAR)) AS own_text
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_custkey,
      |  trim(concat_ws(' ',
      |    CAST(lag(last_okey) OVER (ORDER BY o_custkey) AS VARCHAR),
      |    own_text)) AS folio_text
      |FROM per_cust""".stripMargin.replace("\n", " ")

  val all: Seq[Query] = Seq(
    // ---- flagship kernel pipeline (non-SQL; golden/differential-verified) ----
    Query("q_align_spans") { (s, dir) =>
      AlignJob.spansDf(alignedFor(s, dir))
    },

    // the flagship kernel over a file-source stream; oracle = the SAME
    // reference-executed golden as batch q_align_spans
    Query("q_align_stream", golden("q_align_spans")) { (s, dir) =>
      val tmp = scratchDir(s, "align_stream")
      AlignJob.synthPages(s, dir).toDF().write.parquet(s"$tmp/pages")
      graft.streaming.StreamingJobs.runAvailableNow(
        graft.streaming.StreamingJobs.alignStream(s, s"$tmp/pages"), s"$tmp/out")
      s.read.parquet(s"$tmp/out/data")
        .select(col("url"), col("seq"), col("syl"),
          col("ulx"), col("uly"), col("lrx"), col("lry"))
    },

    // ---- kill/rerun resumability under a hard oracle (VERDICT r3 #5):
    //      run the checkpointed flagship with maxWaves=1 (one bucket), stop
    //      — the simulated kill — then invoke AGAIN from nothing but the
    //      on-disk manifest; the second run must process ONLY the
    //      uncommitted bucket, and the stitched output table must equal the
    //      single-shot reference-executed alignment golden ----
    Query("q_resume", golden("q_align_spans")) { (s, dir) =>
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
    },

    Query("q_align_metrics") { (s, dir) =>
      // deterministic projection only: partition_id / band_width /
      // cells_filled are execution-dependent lineage (they vary with
      // parallelism and the banding path) — the full metrics() table keeps
      // them; the CORRECTNESS row hashes the value-stable columns
      AlignJob.metricsDf(alignedFor(s, dir))
        .select(col("url"), col("n_spans"), col("tra_len"), col("ocr_len"),
          col("edit_distance"), col("gap_count"), col("error"))
    },

    Query("q_extract_text") { (s, dir) =>
      Functions.register(s)
      AlignJob.synthPages(s, dir).toDF()
        .select(col("url"), expr("extract_text(html)").as("extracted"))
    },

    Query("q_syllabify") { (s, dir) =>
      Functions.register(s)
      docs(s, dir).select(col("doc_id"),
        posexplode(expr("syllabify(clean_text(text))")).as(Seq("pos", "syl")))
    },

    // ---- O17 parse_transcript (syllables + word-begin flags) ----
    Query("q_parse_transcript") { (s, dir) =>
      import s.implicits._
      fanOut(s, docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
        .mapPartitions { it =>
          val cache = new Syllabify.Cache // per-partition memo
          it.flatMap { case (id, text) =>
            val (syls, flags) = Syllabify.parseTranscript(Seq(CleanText.clean(text)), cache)
            syls.zip(flags).zipWithIndex.map { case ((syl, fl), i) => (id, i, syl, fl) }
          }
        }.toDF("doc_id", "pos", "syl", "word_begin")
    },

    // ---- O40–O43 evaluation: alternative-scoring spans vs default-scoring
    //      ground truth on the SAME noisy stream (the reference's try_params
    //      shape: fixed GT boxes, varying seq_align_params) ----
    Query("q_eval_alignment") { (s, dir) =>
      // ONE kernel pass aligns each page under both scorings and scores
      // it in the same task: no span rows leave the task, no url shuffle.
      // Tests assert it row-identical to the relational reference
      // evaluator. Persisted under the sort: the range partitioner's
      // sampling job would otherwise re-run the kernel.
      val scored = CacheRegistry.register(
        AlignJob.evaluate(AlignJob.synthPages(s, dir), graft.align.Scoring.Default,
          graft.align.Scoring.symmetric(10, -5, -7, -7),
          saltPartitions = s.sparkContext.defaultParallelism)
          .persist(StorageLevel.MEMORY_AND_DISK))
      scored.orderBy(col("url"))
    },

    // ---- O45 MEI enrichment (writeToMEI.py:41-145): neume→syllable
    //      assignment by translated-bbox max-intersection, duplicate-element
    //      merge, zone emission — over deterministically synthesized neume
    //      boxes above the aligned spans ----
    Query("q_mei_assign") { (s, dir) =>
      // spans feed BOTH synthNeumes and the join's span side — the
      // session-memoized aligned table (alignedFor) keeps the kernel
      // computed once for this AND the other four alignment consumers
      // (round 7: the old per-query persist never cache-hit across calls
      // because align()'s kernel closure makes each plan unique)
      val spans = AlignJob.spansDf(alignedFor(s, dir))
      MeiAssign.assign(MeiAssign.synthNeumes(spans), spans, medLineSpacing = 1.0)
    },

    // ---- O45 to the FILE boundary: the MEI-shaped XML document per url,
    //      byte-identical (modulo normalized random xml:ids) to Python
    //      ElementTree's serialization of the reference-edited tree ----
    Query("q_mei_xml") { (s, dir) =>
      val spans = AlignJob.spansDf(alignedFor(s, dir))
      val neumes = CacheRegistry.register(
        MeiAssign.synthNeumes(spans).persist())
      MeiAssign.serializeXml(neumes,
        MeiAssign.assign(neumes, spans, medLineSpacing = 1.0))
    },

    // ---- O40–O43 E3 path: evaluation against HUMAN ground truth from
    //      PASCAL-VOC XML (evaluate_text_alignment.py:82-131), committed
    //      fixtures incl. `difficult` filtering ----
    Query("q_eval_gtxml") { (s, dir) =>
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
        // each page is scored in the task that aligns it, against its GT
        // spans shipped in the closure: no join, window or shuffle before
        // the final sort
        val gt = listed.filter(_.getName.endsWith(".xml")).map { f =>
          PageGen.urlFor(f.getName.stripSuffix(".xml").toLong) ->
            GtXml.sylBoxes(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        }.toMap
        AlignJob.align(AlignJob.synthPages(s, dir).filter(p => gt.contains(p.url)))
          .flatMap { d =>
            val pred = d.spans.map(c => SylBox(c.syl, c.ulx, c.uly, c.lrx, c.lry)).toIndexedSeq
            EvalJob.docMeans(gt(d.url), pred).map { case (iou, rangeIou, n) =>
              (d.url, iou, rangeIou, n)
            }
          }
          .toDF("url", "mean_iou", "mean_range_iou", "n_gt_spans")
          .orderBy(col("url"))
      }
    },

    // ---- O44 scoring-parameter grid search (distributed fan-out) ----
    Query("q_grid_search") { (s, dir) =>
      import s.implicits._
      val fixtures = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)].orderBy(col("doc_id")).take(3)
        .map { case (id, text) =>
          val tra = CleanText.clean(text)
          (tra, PageGen.noisyRender(tra, id))
        }.toSeq
      EvalJob.gridSearch(s, fixtures)
    },

    // ---- parse_cantus_csv composite: per-folio transcript assembly
    //      (filter→group→within-group sort→concat→lag of previous folio's
    //      last chant, parse_cantus_csv.py:81-126) over orders ----
    Query("q_folio_text", FolioTextSql)(
      folioText(ScaleWindows.SmallInputThreshold)),

    // ---- the SAME per-folio assembly with the boundary-exchange lag path
    //      FORCED (smallInputThreshold = 0): the code that ships for 100×
    //      is the code that is hash-checked (VERDICT r2 #2). Plan-asserted
    //      bucketed (no single-partition window) in ScaleShapeSpec. ----
    Query("q_folio_text_scaled", FolioTextSql)(folioText(smallInputThreshold = 0L)),

    // ---- per-document JSON sink shape (to_JSON_dict, alignToOCR.py:333-351) ----
    Query("q_doc_json") { (s, dir) =>
      val spans = AlignJob.spansDf(alignedFor(s, dir))
      spans.groupBy(col("url"))
        .agg(to_json(expr(
          "transform(array_sort(collect_list(struct(seq, syl, array(ulx, uly) AS ul, array(lrx, lry) AS lr))), " +
            "x -> struct(x.syl AS syl, x.ul AS ul, x.lr AS lr))"))
          .as("syl_boxes"))
        .orderBy(col("url"))
    },

    // ---- the reference's CSV entry point end-to-end (O23-O29 + O8 + O11,
    //      parse_cantus_csv.filename_to_text_func) over the committed
    //      Cantus-shaped fixture; byte-identical to the reference
    //      (CantusCsvSpec) ----
    Query("q_cantus_folio_text",
      s"SELECT * FROM '$RepoDir/src/test/resources/goldens/q_cantus_folio_text.parquet'")((s, _) =>
      graft.pipeline.CantusCsv.folioTexts(s, s"$RepoDir/src/test/resources/cantus_like.csv")),

    // ---- multimodal stub pipeline ----
    Query("q_media_features") { (s, dir) =>
      import s.implicits._
      Multimodal.extractFeatures(Multimodal.synthMedia(s, dir)).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("frames_sampled"))
    }
  )

  /** Per-folio transcript assembly over orders: each customer's sorted
    * order keys, prefixed with the previous customer's last order key via
    * the boundary-exchange global lag (no single-partition window) above
    * `smallInputThreshold` rows.
    */
  private def folioText(smallInputThreshold: Long)(s: SparkSession, dir: String): DataFrame = {
    val perCust = tbl(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderkey")).as("last_okey"),
        array_join(array_sort(collect_list(col("o_orderkey").cast("string"))), " ")
          .as("own_text"))
    ScaleWindows
      .withGlobalLag(perCust, "o_custkey", "last_okey", "prev_last",
        smallInputThreshold = smallInputThreshold)
      .select(col("o_custkey"),
        trim(concat_ws(" ", col("prev_last").cast("string"), col("own_text")))
          .as("folio_text"))
  }
}
