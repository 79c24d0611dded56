package graft.streaming

import graft.pipeline.{AlignJob, Page, PageGen}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct, udf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.Comparator
import scala.jdk.CollectionConverters._

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def rmTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  test("streaming dedup keeps one row per duplicated text within the horizon") {
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_dedup_stream"
    rmTree(base)
    val pagesDir = s"$base/pages"
    val outDir = s"$base/out"

    // 40 pages + 10 exact duplicates (same text, different url/ts)
    val pages = AlignJob.synthPages(spark, sfDir).filter(_.url < PageGen.urlFor(40))
    val dups = pages.filter(_.url < PageGen.urlFor(10))
      .map(p => p.copy(url = p.url + "-dup",
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 1000)))
    pages.unionAll(dups).write.parquet(pagesDir)

    StreamingJobs.runAvailableNow(StreamingJobs.dedupStream(spark, pagesDir), outDir)
    val kept = spark.read.parquet(s"$outDir/data")
    assert(kept.count() === 40)
    assert(kept.select(countDistinct(col("text"))).as[Long].head() === 40)
  }

  test("asofStream == batch asofJoin on the events fixture; oversized snaps fail loudly") {
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_asof_stream"
    rmTree(base)
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val snaps = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ts"),
        col("event_id").as("snap_id"), col("value").as("snap_value"))
    val probes = ev.select(col("event_id"), col("user_id"), col("ts"))
    probes.write.parquet(s"$base/probes")

    GraftSqlBridge.withConf(spark, "spark.sql.shuffle.partitions" -> "4") { c =>
      StreamingJobs.runAvailableNow(
        StreamingJobs.asofStream(c, s"$base/probes", snaps), s"$base/out")
    }
    val got = spark.read.parquet(s"$base/out/data")
      .select("event_id", "snap_id", "snap_value")
      .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    val want = graft.ops.AsofJoin.asofJoin(probes, snaps, "user_id", "ts")
      .select("event_id", "snap_id", "snap_value")
      .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    assert(got === want)
    assert(want.exists(_._2.isEmpty) && want.exists(_._2.nonEmpty))

    assertThrows[IllegalArgumentException] {
      StreamingJobs.asofStream(spark, s"$base/probes", snaps, maxSnaps = 3)
    }
  }

  test("drainStream starts its stream on a 4-partition clone; the caller's conf is not written") {
    import StreamingSpec.PartKey
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_drain_stream"
    rmTree(base)
    spark.range(20).selectExpr("id AS doc_id").write.parquet(s"$base/in")
    // the probe reads the CALLER's partition count while the stream runs
    // (local mode: the tasks share this JVM)
    StreamingSpec.caller = spark
    StreamingSpec.seen.clear()
    val probe = udf { (_: Long) =>
      StreamingSpec.seen.add(StreamingSpec.caller.conf.get(PartKey)); true
    }
    spark.conf.set(PartKey, "3")
    try {
      val out = graft.SparkEntry.drainStream(spark, base)(c =>
        c.readStream.schema("doc_id LONG").parquet(s"$base/in")
          .filter(probe(col("doc_id"))))
      assert(out.sparkSession eq spark)
      assert(out.count() === 20)
      // the offset log records the conf the stream started under
      val offsets = new String(
        Files.readAllBytes(Paths.get(s"$base/out/checkpoint/offsets/0")), "UTF-8")
      assert(offsets.contains("\"" + PartKey + "\":\"4\""), offsets)
      assert(spark.conf.get(PartKey) === "3")
      assert(!StreamingSpec.seen.isEmpty)
      assert(StreamingSpec.seen.asScala.toSet === Set("3"))
    } finally spark.conf.set(PartKey, "4")
  }

  test("decontaminateStream == batch decontaminate drop; oversized eval fails loudly") {
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_decontam_stream"
    rmTree(base)
    val training = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    training.write.parquet(s"$base/training")
    val evalSet = training.filter(col("doc_id") % 9 === 0)
      .select(col("doc_id") + 5000000L as "doc_id", col("text"))
    GraftSqlBridge.withConf(spark, "spark.sql.shuffle.partitions" -> "4") { c =>
      StreamingJobs.runAvailableNow(
        StreamingJobs.decontaminateStream(
          c, s"$base/training", evalSet, threshold = 0.5),
        s"$base/out")
    }
    val streamed = spark.read.parquet(s"$base/out/data").select("doc_id")
      .as[Long].collect().toSet
    val batch = graft.ops.Dedup
      .decontaminate(training, evalSet, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch,
      s"stream/batch divergence: only-stream=${streamed -- batch} only-batch=${batch -- streamed}")
    assert(streamed.size < training.count(), "nothing was decontaminated")
    // the driver-collect contract is ENFORCED, not just documented
    val e = intercept[IllegalArgumentException] {
      StreamingJobs.decontaminateStream(
        spark, s"$base/training", evalSet, maxEvalDocs = 2L)
    }
    assert(e.getMessage.contains("maxEvalDocs"))
  }

  test("streaming align == batch align; checkpoint resumes incrementally") {
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_stream_test"
    rmTree(base)
    val pagesDir = s"$base/pages"
    val outDir = s"$base/out"

    val first = AlignJob.synthPages(spark, sfDir).filter(_.url < PageGen.urlFor(60))
    first.write.parquet(pagesDir)

    StreamingJobs.runAvailableNow(StreamingJobs.alignStream(spark, pagesDir), outDir)
    def readSpans(): Array[String] =
      spark.read.parquet(s"$outDir/data")
        .selectExpr("concat_ws(':', url, seq, syl, ulx, uly, lrx, lry)")
        .as[String].collect().sorted

    val batchFirst = AlignJob.spans(AlignJob.align(first))
      .selectExpr("concat_ws(':', url, seq, syl, ulx, uly, lrx, lry)")
      .as[String].collect().sorted
    assert(readSpans() sameElements batchFirst)

    // drop a second file into the source dir; AvailableNow picks up ONLY the
    // new data thanks to the checkpoint
    val second = AlignJob.synthPages(spark, sfDir)
      .filter(p => p.url >= PageGen.urlFor(60) && p.url < PageGen.urlFor(90))
    second.write.mode("append").parquet(pagesDir)
    StreamingJobs.runAvailableNow(StreamingJobs.alignStream(spark, pagesDir), outDir)

    val all = AlignJob.synthPages(spark, sfDir).filter(_.url < PageGen.urlFor(90))
    val batchAll = AlignJob.spans(AlignJob.align(all))
      .selectExpr("concat_ws(':', url, seq, syl, ulx, uly, lrx, lry)")
      .as[String].collect().sorted
    assert(readSpans() sameElements batchAll)
    rmTree(base)
  }

  test("streaming align submits no layout planning job; batch align submits one") {
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_stream_plan"
    rmTree(base)
    val pagesDir = s"$base/pages"
    AlignJob.synthPages(spark, sfDir).filter(_.url < PageGen.urlFor(20)).write.parquet(pagesDir)
    val batchPages = spark.read.parquet(pagesDir).as[Page] // schema inference runs a job

    val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobsByGroup.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("stream-align", "streaming align")
      StreamingJobs.alignStream(spark, pagesDir)
      sc.setJobGroup("batch-align", "batch align")
      AlignJob.align(batchPages, saltPartitions = 4)
      sc.clearJobGroup()
      // the listener bus delivers events in order: once the batch planning
      // job is seen, any job the streaming call submitted was seen before it
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobsByGroup.containsKey("batch-align") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobsByGroup.get("batch-align") === 1)
      assert(!jobsByGroup.containsKey("stream-align"), jobsByGroup)
    } finally {
      sc.removeSparkListener(listener)
      rmTree(base)
    }
  }

  test("stateful sessionization (flatMapGroupsWithState) matches the batch sessions it closes") {
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_stream_sessions"
    rmTree(base)
    val eventsDir = s"$base/events"
    val outDir = s"$base/out"
    spark.read.parquet(s"$sfDir/events.parquet").write.parquet(eventsDir)

    val stream = spark.readStream
      .schema(spark.read.parquet(eventsDir).schema)
      .parquet(eventsDir)
    StreamingJobs.runAvailableNow(StreamingJobs.sessionizeStream(stream).toDF(), outDir)

    val got = spark.read.parquet(s"$outDir/data")
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got.nonEmpty, "no sessions closed")

    // closed sessions must be a subset of the batch sessionization result
    val batch = graft.SparkEntry.queries("q_sessionize")(spark, sfDir)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    val bogus = got.diff(batch)
    assert(bogus.isEmpty, s"streaming emitted sessions absent from batch: ${bogus.take(3)}")
    rmTree(base)
  }

  test("Complete-mode window stats equal the batch aggregation; doc dedup stream keeps distinct texts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_stream_r3"
    rmTree(base)
    spark.read.parquet(s"$sfDir/events.parquet").write.parquet(s"$base/events")

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$base/events").schema)
      .parquet(s"$base/events")
    val got = StreamingJobs.runCompleteToMemory(
      StreamingJobs.eventWindowStats(stream), "graft_r3_window_test")
      .as[(Long, String, Long, Double, Double)].collect().toSet
    val batch = spark.read.parquet(s"$base/events")
      .groupBy(window(col("ts").cast("timestamp"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .select(unix_micros(col("window.start")), col("event_type"),
        col("n_events"), col("min_value"), col("max_value"))
      .as[(Long, String, Long, Double, Double)].collect().toSet
    assert(got === batch)

    // dedup: 30 docs, every third duplicated with a new id
    val docsDf = (1L to 30L).map(i => (i, s"text ${i % 20}")).toDF("doc_id", "text")
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    docsDf.write.parquet(s"$base/docs")
    StreamingJobs.runAvailableNow(
      StreamingJobs.dedupDocsStream(spark, s"$base/docs", horizon = "3650 days"),
      s"$base/dedup_out")
    val kept = spark.read.parquet(s"$base/dedup_out/data").as[String].collect()
    assert(kept.length === 20 && kept.distinct.length === 20)
    rmTree(base)
  }

  test("windowed event aggregation with watermark emits finalized windows") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_stream_events"
    rmTree(base)
    val eventsDir = s"$base/events"
    val outDir = s"$base/out"
    spark.read.parquet(s"$sfDir/events.parquet").write.parquet(eventsDir)

    val stream = spark.readStream
      .schema(spark.read.parquet(eventsDir).schema)
      .parquet(eventsDir)
    StreamingJobs.runAvailableNow(StreamingJobs.eventWindowCounts(stream), outDir)

    val got = spark.read.parquet(s"$outDir/data")
    assert(got.count() > 0, "no finalized windows emitted")

    // every emitted window must equal the batch computation of that window
    import org.apache.spark.sql.functions._
    val batch = spark.read.parquet(eventsDir)
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
    val mismatches = got.alias("g").join(batch.alias("b"),
        Seq("window_start", "event_type"), "left")
      .filter(col("b.n_events").isNull || col("g.n_events") =!= col("b.n_events") ||
        abs(col("g.sum_value") - col("b.sum_value")) > 1e-9)
      .count()
    assert(mismatches === 0)
    rmTree(base)
  }
}

object StreamingSpec {
  val PartKey = "spark.sql.shuffle.partitions"
  /** The session whose conf the probe UDF reads, and what it read. */
  @volatile var caller: SparkSession = _
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
