package graft.pipeline

import graft.SparkEntry
import graft.ops.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spark-level tests: determinism across parallelism, planted-dup recall,
  * ANN exactness, plan shape (pushdown), and the driver entry contract.
  */
class SparkPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("entry returns >0 span rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("align output is identical across different salt partitionings") {
    import spark.implicits._
    val pages = AlignJob.synthPages(spark, sfDir).filter(_.url < PageGen.urlFor(80))
    def run(pages: Dataset[Page], salt: Int): Array[String] =
      AlignJob.spans(AlignJob.align(pages, saltPartitions = salt))
        .selectExpr("concat_ws(':', url, seq, syl, ulx, uly, lrx, lry)")
        .as[String].collect().sorted
    assert(run(pages, 3) sameElements run(pages, 11))
    // the cost-planned layout places every heavy-tailed page by estimate
    val heavy = HeavyTailPages(spark)
    assert(run(heavy, 4) sameElements run(heavy, 0))
  }

  test("align metrics: no kernel errors on the corpus; lineage populated") {
    val m = AlignJob.metrics(AlignJob.align(AlignJob.synthPages(spark, sfDir)))
    val bad = m.filter("error <> ''").count()
    assert(bad === 0)
    assert(m.filter("n_spans > 0").count() > 450)
    assert(m.select("partition_id").distinct().count() >= 1)
  }

  test("minhash LSH finds every planted near-duplicate pair") {
    val qf = SparkEntry.queries("q_minhash_dedup")
    val found = qf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 500L by 10).map(id => (id, id + 1000000)).toSet
    val missing = planted.diff(found)
    assert(missing.isEmpty, s"missing planted pairs: $missing")
  }

  test("simhash finds most planted near-duplicate pairs") {
    val qf = SparkEntry.queries("q_simhash_dedup")
    val found = qf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 500L by 10).map(id => (id, id + 1000000)).toSet
    assert(planted.intersect(found).size >= 45, s"found only ${planted.intersect(found).size}/50")
  }

  test("embedding near-dups find the planted perturbed vectors") {
    val qf = SparkEntry.queries("q_embed_near_dups")
    val found = qf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 500L by 20).map(id => (id, id + 1000000)).toSet
    assert(planted.intersect(found).size >= 23, s"found ${planted.intersect(found).size}/25")
  }

  test("brute-force ANN matches an in-memory exact computation") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.toArray) }
    val q0 = vecs.find(_._1 == 0L).get._2
    val expected = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, Similarity.cosine(q0, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toVector

    val got = SparkEntry.queries("q_ann_brute")(spark, sfDir)
      .filter("q_id = 0").orderBy("rank")
      .select("neighbor_id").as[Long].collect().toVector
    assert(got === expected)
  }

  test("IVF ANN: deterministic, scores exact, useful recall vs brute force") {
    import spark.implicits._
    def collectPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf1 = SparkEntry.queries("q_ann_ivf")(spark, sfDir)
    val pairs1 = collectPairs(ivf1)
    val pairs2 = collectPairs(SparkEntry.queries("q_ann_ivf")(spark, sfDir))
    assert(pairs1 === pairs2, "IVF not deterministic")
    val brute = collectPairs(SparkEntry.queries("q_ann_brute")(spark, sfDir))
    val recall = pairs1.intersect(brute).size.toDouble / brute.size
    assert(recall > 0.15, s"IVF recall collapsed: $recall")
    // every reported score equals the exact cosine of that pair
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.toArray }.toMap
    ivf1.select("q_id", "neighbor_id", "score").as[(Long, Long, Double)].collect()
      .foreach { case (q, n, s) =>
        assert(s === Similarity.cosine(vecs(q), vecs(n)), s"score mismatch for ($q,$n)")
      }
  }

  test("lang_id classifies real multilingual sentences") {
    assert(TextOps.langIdOf("the cat sat on the mat and it is warm") === "en")
    assert(TextOps.langIdOf("el perro come en la casa y es grande") === "es")
    assert(TextOps.langIdOf("der Hund ist in der Küche und das ist gut") === "de")
    assert(TextOps.langIdOf("il cane non è in casa e sono per la strada") === "it")
    assert(TextOps.langIdOf("o cachorro está em casa para um passeio com ela") === "pt")
    assert(TextOps.langIdOf("de hond is niet in het huis en ik ben aan zee met hem") === "nl")
    assert(TextOps.langIdOf("я не знаю что он сказал но это было в москве") === "ru")
    assert(TextOps.langIdOf("le chien est dans la maison et il est grand") === "fr")
    assert(TextOps.langIdOf("我在这里他们都是人") === "zh")
    assert(TextOps.langIdOf("") === "und")
  }

  test("filter/projection reach the parquet scan (pushdown + pruning)") {
    val plan = SparkEntry.queries("q_filter_project")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("l_returnflag"), "filter column present in scan")
    // pruned read schema must not include unprojected columns
    assert(!plan.contains("l_comment"))
  }

  test("broadcast join is actually broadcast") {
    val plan = SparkEntry.queries("q_join_broadcast")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("fingerprint is stable; collisions occur only between near-duplicates") {
    import spark.implicits._
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").distinct().as[String].collect()
    val fps = texts.map(t => (TextOps.fingerprintOf(t), t))
    // deterministic across calls
    assert(texts.forall(t => TextOps.fingerprintOf(t) == TextOps.fingerprintOf(t)))
    // winnowing is a NEAR-dup sketch: the documents table contains planted
    // near-identical pairs which legitimately share fingerprints; any
    // colliding pair must be genuinely near-identical (high shingle Jaccard)
    val collided = fps.groupBy(_._1).values.filter(_.length > 1)
    assert(collided.size < 15)
    for (group <- collided; Array(a, b) <- group.map(_._2).combinations(2))
      assert(Dedup.jaccard(a, b) > 0.5, s"false collision: ${a.take(60)} vs ${b.take(60)}")
  }

  test("exact dedup keeps one canonical row per text") {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val deduped = Dedup.exactDedup(base.select("doc_id", "text")
      .unionAll(base.select((org.apache.spark.sql.functions.col("doc_id") + 5000)
        .as("doc_id"), org.apache.spark.sql.functions.col("text"))))
    assert(deduped.count() === base.select("text").distinct().count())
    assert(deduped.agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0) < 5000)
  }

  test("digest-based duplicate groups equal the text-based grouping") {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val withDups = base.unionAll(base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val byDigest = Dedup.exactDuplicateGroups(withDups)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byText = withDups.groupBy(col("text"))
      .agg(min(col("doc_id")).as("c"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(byDigest === byText)
  }
}
