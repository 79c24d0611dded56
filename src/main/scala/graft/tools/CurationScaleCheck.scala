package graft.tools

import graft.LocalSession
import graft.ops.{Dedup, Packing, Sampling, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-parallelism scaling evidence for the CURATION/TRAINING op families
  * (the north rule's two-cluster-size criterion applied beyond the flagship
  * align job): replicate the sf0.1 documents table to a ~120k-doc corpus
  * (the measured floor where fixed job overhead amortizes below the noise —
  * BASELINE.md) and time each major new operator once warm. Run the SAME
  * command at SPARK_GRAFT_CPUS=8 and =32 and compare docs/sec.
  *
  * Usage: SPARK_GRAFT_CPUS=8|32 runMain graft.tools.CurationScaleCheck [k=24] [sfDir]
  * Prints one JSON line: {"bench":"curation_scale","docs":N,"cpus":C,
  * "ops":{"<op>_docs_per_sec":...}}
  */
object CurationScaleCheck {

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 24
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // replica count for the realistic minhash-join corpus (args(2));
    // kReal=400 on sf0.1 ≈ 2M docs
    val kReal = if (args.length > 2) args(2).toInt else k
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = LocalSession(cpus.toInt)

    // ~120k distinct documents: each replica re-ids and gets a replica
    // marker token so exact-dup ops see a real (not degenerate) corpus.
    // REPARTITION before persisting: the source is one small parquet file
    // (one input split), and the explode inherits its partitioning — every
    // op would otherwise run on ~1 partition at any core count, measuring
    // the harness, not the operators (a real corpus arrives in many
    // splits; this reproduces that).
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(k - 1))).as("r"))
      .select((col("doc_id") + col("r") * 10000000L).as("doc_id"),
        concat(col("text"), lit(" rep"), col("r")).as("text"))
      .repartition(cpus.toInt * 4, col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // one warm pass per op (JIT + codegen), then the timed pass — the same
    // two-pass discipline as ScalingBench
    def timedWarm(body: => Unit): Double = { body; time(body) }

    val structured = corpus.select(col("doc_id"),
      regexp_replace(col("text"), "((?:[^ ]+ ){2}[^ ]+) ", "$1\n").as("text"))
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()

    results("line_dedup") = timedWarm {
      force(Dedup.crossDocLineDedup(structured))
    }
    results("pack_index") = timedWarm {
      force(TextOps.packIndex(corpus, contextLen = 128, forceScaled = true))
    }
    results("shard_assign") = timedWarm {
      force(Sampling.shardAssign(corpus, 8))
    }
    results("greedy_pack") = timedWarm {
      force(Packing.greedyPack(corpus, capacity = 64, nBuckets = 16))
    }
    results("bpe_pairs") = timedWarm {
      force(TextOps.bpePairCounts(corpus, k = 100))
    }
    // round-5 second wave: link extraction (synthesize + parse + resolve
    // per page — map-only, CPU-bound, the link-graph family's hot pass)
    results("link_edges") = timedWarm {
      import spark.implicits._
      val pages = corpus.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, t) =>
          (graft.pipeline.LinkGen.linkUrlFor(id),
            graft.pipeline.LinkGen.pageHtml(id, t, n)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }.toDF("url", "html")
      force(graft.ops.LinkGraph.edges(pages))
    }
    // round-6 crawl family (VERDICT r5 next #8): a HOT-HOST url corpus —
    // half of all urls live on ONE host (h0), the rest spread over 997 —
    // so the replicated-build-side salt in Robots.annotate and the
    // two-phase per-host top-k in Frontier.nextWave are what's measured,
    // not a uniform easy case. Robots bodies reuse the 13 fixture shapes.
    locally {
      val hostCount = 997
      val hostIdx = when(col("doc_id") % 2 === 0, lit(0))
        .otherwise(pmod(col("doc_id"), lit(hostCount.toLong)))
      val urlCol = concat(lit("https://h"), hostIdx, lit(".example.org/sec"),
        pmod(col("doc_id"), lit(5L)), lit("/d/doc"), col("doc_id"),
        lit(".html"))
      val robots = {
        import spark.implicits._
        (0 until hostCount).flatMap(h =>
          graft.pipeline.RobotsGen.robotsTxtFor(h % 13)
            .map(b => (s"h$h.example.org", b)))
          .toDF("host", "robots_txt")
      }
      val urls = corpus.select(urlCol.as("url"))
      results("robots_annotate") = timedWarm {
        force(graft.ops.Robots.annotate(urls, robots,
          graft.pipeline.RobotsGen.Agent, saltBuckets = 16))
      }
      // frontier: every doc is a crawled page linking to a hot-skewed
      // candidate shared by ~8 referrers (distinct-ref aggregation +
      // robots gate + salted per-host top-k with the crawl-delay budget)
      val srcCol = concat(lit("https://crawler.example.org/p/"), col("doc_id"))
      val dstKey = pmod(col("doc_id"), lit(math.max(1L, n / 8)))
      val dstCol = concat(lit("https://h"),
        when(dstKey % 2 === 0, lit(0)).otherwise(pmod(dstKey, lit(hostCount.toLong))),
        lit(".example.org/sec"), pmod(dstKey, lit(5L)), lit("/d/doc"),
        dstKey, lit(".html"))
      val edges = corpus.select(srcCol.as("src"), dstCol.as("dst"),
        lit("").as("anchor"), lit(0).as("pos"))
      val crawled = corpus.select(srcCol.as("url"))
      results("frontier") = timedWarm {
        force(graft.ops.Frontier.nextWave(edges, crawled, robots,
          graft.pipeline.RobotsGen.Agent, k = 10, saltBuckets = 16,
          crawlWindowSec = 7.0))
      }
    }

    // round-6 third wave: Markdown structured extraction (synthesize the
    // structured page + convert per doc — map-only, CPU-bound, the same
    // class as robots_annotate) and the HyperBall harmonic loop (the
    // register-max shuffle is what scales, 4 rounds over a synthetic
    // graph with n/8 vertices and n edges)
    results("markdown") = timedWarm {
      import spark.implicits._
      force(corpus.select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) =>
          val c = graft.align.Markdown.convert(graft.catalog.IngestQueries.structuredHtml(id, t))
          (id, c.markdown.length, c.nBlocks)
        }.toDF("doc_id", "md_len", "n_blocks"))
    }
    results("hyperball") = timedWarm {
      val v = math.max(16L, n / 8)
      val edges = corpus.select(
        concat(lit("u"), pmod(col("doc_id"), lit(v))).as("src"),
        concat(lit("u"), pmod(col("doc_id") * 31L + 7L, lit(v))).as("dst"))
      force(graft.ops.Centrality.harmonicHll(edges, iters = 4))
    }

    // the replica corpus is adversarially near-duplicate BY CONSTRUCTION
    // (k variants per base doc differ by one token), so minhash candidate
    // volume grows ~k× per eval doc — at large k the run measures that
    // quadratic structure, not the operator; skip it there
    if (k <= 500) results("minhash_join") = timedWarm {
      val right = corpus.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id") + 900000000L as "doc_id", col("text"))
      force(Dedup.minhashJoin(corpus, right, threshold = 0.5))
    }

    // REALISTIC-dup-rate minhash join (VERDICT r4 next #7): replicas are
    // made genuinely DISTINCT — every third token (by (i + r) mod 3) gets
    // a replica-suffixed variant, so every 3-shingle of one replica
    // contains a token another replica does not and cross-replica jaccard
    // is ~0 — and the eval side is a ~5% mutated sample (drop every 41st
    // token), each matching exactly its source: the candidate volume and
    // hit rate of a real decontamination run, so the two-parallelism
    // number measures the OPERATOR. Sized independently of k (kReal
    // replicas; kReal=400 on sf0.1 ≈ 2M docs).
    val realistic = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(kReal - 1))).as("r"))
      .select((col("doc_id") + col("r") * 10000000L).as("doc_id"),
        array_join(
          zip_with(
            split(col("text"), " "),
            sequence(lit(0), size(split(col("text"), " ")) - 1),
            (x, i) => when((i + col("r")) % 3 === 0,
              concat(x, lit("_"), col("r"))).otherwise(x)),
          " ").as("text"))
      .repartition(cpus.toInt * 4, col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nReal = realistic.count()
    val evalSide = realistic.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id") + 900000000L as "doc_id",
        array_join(
          filter(
            zip_with(
              split(col("text"), " "),
              sequence(lit(0), size(split(col("text"), " ")) - 1),
              (x, i) => when((i + col("doc_id")) % 41 === 0, lit(null))
                .otherwise(x)),
            _.isNotNull),
          " ").as("text"))
    val realisticSec = timedWarm {
      force(Dedup.minhashJoin(realistic, evalSide, threshold = 0.5))
    }
    realistic.unpersist()

    val ops = results.map { case (name, sec) =>
      f""""${name}_docs_per_sec":${n / sec}%.1f"""
    }.mkString(",") +
      f""","minhash_join_realistic_docs_per_sec":${nReal / realisticSec}%.1f"""
    println(s"""{"bench":"curation_scale","docs":$n,"docs_realistic":$nReal,"cpus":$cpus,"ops":{$ops}}""")
    spark.stop()
  }
}
