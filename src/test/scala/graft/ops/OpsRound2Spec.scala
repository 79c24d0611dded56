package graft.ops

import graft.align.NeedlemanWunsch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 fixes: scale-safe global lag, skew-capped bucket self-joins,
  * giant-document band policy.
  */
class OpsRound2Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("withGlobalLag matches the single-partition global lag (numeric key)") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i * 7 % 501, s"v$i")).toDF("k", "v")
      .filter(col("k") > 0).distinct()
    val expected = df
      .withColumn("prev", lag(col("v"), 1).over(Window.orderBy(col("k"))))
      .select("k", "prev").as[(Int, Option[String])].collect().toMap
    val got = ScaleWindows.withGlobalLag(df, "k", "v", "prev", numBuckets = 7, smallInputThreshold = 0)
      .select("k", "prev").as[(Int, Option[String])].collect().toMap
    assert(got === expected)
    assert(got.values.count(_.isEmpty) === 1) // exactly the global first row
  }

  test("withGlobalLag matches the global lag (string key, bucket-boundary ties)") {
    import spark.implicits._
    // many keys sharing a 4-char prefix => key-image ties must co-bucket
    val df = (1 to 300).map(i => (f"pref${i % 7}%03d-$i%05d", i.toLong)).toDF("k", "v").distinct()
    val expected = df
      .withColumn("prev", lag(col("v"), 1).over(Window.orderBy(col("k"))))
      .select("k", "prev").as[(String, Option[Long])].collect().toMap
    val got = ScaleWindows.withGlobalLag(df, "k", "v", "prev", numBuckets = 5, smallInputThreshold = 0)
      .select("k", "prev").as[(String, Option[Long])].collect().toMap
    assert(got === expected)
  }

  test("bucket boundaries split keys that share a long common prefix") {
    import spark.implicits._
    // every key starts with the same 12 chars — a fixed-prefix numeric image
    // would collapse them into one bucket (single-partition window again)
    val df = (1 to 2000).map(i => (f"commonprefix-$i%06d", i)).toDF("k", "v")
    val bs = ScaleWindows.boundariesFor(df, "k", 8, 10000, 2000)
    assert(bs.distinct.size >= 4, s"expected several distinct boundaries, got $bs")
  }

  test("withGlobalLag plans no single-partition window over the data") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i, i.toLong)).toDF("k", "v")
    val plan = ScaleWindows.withGlobalLag(df, "k", "v", "prev", smallInputThreshold = 0)
      .queryExecution.executedPlan.toString
    // every Window in the plan must be partitioned (partitionBy non-empty);
    // an unpartitioned Window prints "Window [..], [..sort..]" with no
    // partition spec — assert none exists
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty)
    windowLines.foreach { l =>
      assert(l.contains("__bkt"), s"unpartitioned window in plan: $l")
    }
  }

  test("simhash near-dups: hot bucket is capped, job completes, drops reported") {
    import spark.implicits._
    // 5000 byte-identical docs (one hot bucket in every chunk) + 2 planted
    // near-dup pairs of distinct text. Uncapped this is 12.5M pairs/chunk ×
    // 8 chunks; capped it must finish fast and still find the planted pairs.
    val boiler = (1L to 5000L).map(i => (i, "lorem ipsum dolor sit amet " * 8))
    val longA = (1 to 80).map(i => s"alpha$i").mkString(" ")
    val longB = (1 to 80).map(i => s"bravo$i").mkString(" ")
    val planted = Seq(
      (100001L, longA),
      (100002L, longA.replace("alpha80", "alphaXX")), // 1/80 words differ
      (200001L, longB),
      (200002L, longB.replace("bravo79", "bravoYY")))
    val df = (boiler ++ planted).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, maxBucketSize = 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100001L, 100002L)))
    assert(pairs.contains((200001L, 200002L)))
    // no pair from the hot bucket survived (its buckets were all over-cap)
    assert(!pairs.exists { case (a, b) => a <= 5000 && b <= 5000 })
  }

  test("simhash keyChunks=2 (Manku web-scale config) still finds planted pairs") {
    import spark.implicits._
    val longA = (1 to 80).map(i => s"gamma$i").mkString(" ")
    val docs = ((1L to 500L).map(i => (i, s"doc $i " + (1 to 40).map(j => s"w$i$j").mkString(" "))) ++
      Seq((100001L, longA), (100002L, longA.replace("gamma80", "gammaXX"))))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(docs, keyChunks = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100001L, 100002L)))
  }

  test("embedding near-dups: hot bucket capped, planted pairs found") {
    import spark.implicits._
    def vec(seed: Long): Seq[Float] = {
      val r = new graft.pipeline.PageGen.Rng(seed)
      Seq.fill(16)(r.nextDouble().toFloat * 2f - 1f)
    }
    val hot = (1L to 3000L).map(i => (i, vec(42L))) // identical vector: one hot bucket
    val base = (10001L to 10050L).map(i => (i, vec(i)))
    val perturbed = base.take(5).map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.001f))
    }
    val df = (hot ++ base ++ perturbed).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDups(df, threshold = 0.99, maxBucketSize = 100)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    perturbed.foreach { case (pid, _) =>
      assert(pairs.contains((pid - 1000L, pid)), s"planted pair ${pid - 1000} missing")
    }
    assert(!pairs.exists { case (a, b) => a <= 3000 && b <= 3000 })
  }

  test("in-task AlignJob.evaluate equals the relational evaluate") {
    import graft.align.Scoring
    import graft.pipeline.{AlignJob, EvalJob, RelationalEval}
    val pages = AlignJob.synthPages(spark, "/root/testdata/sf0.001")
    val pred = Scoring.symmetric(10, -5, -7, -7)
    val inTask = AlignJob.evaluate(pages, Scoring.Default, pred,
        saltPartitions = spark.sparkContext.defaultParallelism)
      .orderBy("url").collect().map(_.toSeq)
    val relational = RelationalEval.evaluate(
        AlignJob.spans(AlignJob.align(pages, Scoring.Default)),
        AlignJob.spans(AlignJob.align(pages, pred)))
      .orderBy("url").collect().map(_.toSeq)
    assert(inTask.nonEmpty)
    assert(inTask.length === relational.length)
    inTask.zip(relational).foreach { case (t, r) => assert(t === r) }

    // one page that binds each clause of the rule: GT "ab" repeats (the
    // last one is scored), its two candidates tie on intersection area
    // with different extents (the first in prediction order wins), and
    // GT "cd"'s only candidate does not intersect it (scores 0)
    import spark.implicits._
    import graft.align.SylBox
    val gt = Vector(SylBox("ab", 0, 0, 10, 10), SylBox("cd", 100, 0, 110, 10),
      SylBox("ab", 200, 0, 210, 10))
    val pr = Vector(SylBox("ab", 205, 0, 215, 10), SylBox("a", 205, 0, 225, 10),
      SylBox("cd", 120, 0, 130, 10), SylBox("ab", 0, 0, 10, 10))
    def df(spans: Vector[SylBox]) = spans.zipWithIndex
      .map { case (b, i) => ("u", i, b.syl, b.ulx, b.uly, b.lrx, b.lry) }
      .toDF("url", "seq", "syl", "ulx", "uly", "lrx", "lry")
    val (iou, rangeIou, n) = EvalJob.docMeans(gt, pr).get
    assert(Seq("u", iou, rangeIou, n) ===
      RelationalEval.evaluate(df(gt), df(pr)).collect().head.toSeq)
    assert(n === 2 && iou === (1.0 / 3) / 2)
  }

  test("ANN recall vs brute force holds at two corpus sizes (corpus-scaled knobs)") {
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")) {
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val brute = pairs(Similarity.bruteForceTopK(emb, queryMaxId = 20, k = 5))
      val ivf = pairs(Similarity.ivfTopK(emb, queryMaxId = 20, k = 5))
      val lsh = pairs(Similarity.lshTopK(emb, queryMaxId = 20, k = 5))
      val rIvf = ivf.intersect(brute).size.toDouble / brute.size
      val rLsh = lsh.intersect(brute).size.toDouble / brute.size
      assert(rIvf > 0.15, s"IVF recall collapsed at $sf: $rIvf")
      assert(rLsh > 0.15, s"LSH recall collapsed at $sf: $rLsh")
    }
  }

  test("giant-document policy: band cap returns a marked result, never throws") {
    // Force the storage cap low so the doubling loop hits it on a small doc.
    val tra = ("abcdefgh" * 200) + ("zqxw" * 50)
    val ocr = ("abcdefgh" * 200).reverse + ("zqxw" * 50) // unrelated: agreement unlikely at tiny bands
    val ws = new NeedlemanWunsch.Workspace
    // maxPtrCells small: maxBandStorage ≈ (maxPtrCells/n - 1)/2
    val n = tra.length + 1
    val maxPtr = n.toLong * (2L * 40 + 1) // widest runnable band = 40
    val r = NeedlemanWunsch.alignCharsBanded(tra, ocr, initialBand = 16, ws = ws,
      maxPtrCells = maxPtr)
    assert(r.note.startsWith("band_capped:") || r.note.startsWith("band_overflow_drop:"),
      s"expected capped/drop note, got '${r.note}' band=${r.bandUsed}")
    // drop form must still be well-formed (empty alignment, no crash)
    if (r.note.startsWith("band_overflow_drop:")) {
      assert(r.traAlign.isEmpty && r.ocrAlign.isEmpty)
    }
  }

  test("giant-document policy: absurd length returns drop, not require-crash") {
    val ws = new NeedlemanWunsch.Workspace
    val r = NeedlemanWunsch.alignCharsBanded("ab" * 300, "ba" * 300, ws = ws,
      maxPtrCells = 100L) // below even MinBand storage
    assert(r.note === "band_overflow_drop:0")
    assert(r.traAlign.isEmpty)
  }

  test("quantile buckets are parallelism-independent and monotone in score") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (i, (i * 37 % 101).toDouble)).toDF("doc_id", "score")
    def buckets(d: org.apache.spark.sql.DataFrame) =
      Sampling.bucketByScore(d, nBuckets = 4, sampleMicros = 500000L)
        .select("doc_id", "score", "bucket").as[(Long, Double, Int)]
        .collect().sortBy(_._1).toSeq
    val a = buckets(df.repartition(7))
    val b = buckets(df.repartition(2))
    assert(a === b) // same rows sampled, same thresholds, at any parallelism
    // monotone: a higher score never lands in a lower bucket
    val byScore = a.sortBy(_._2)
    byScore.sliding(2).foreach { case Seq(lo, hi) => assert(lo._3 <= hi._3) }
    assert(a.map(_._3).distinct.sorted === Seq(0, 1, 2, 3)) // all buckets hit
  }

  test("duplicateSpans: cross-doc windows flagged, same-doc repeats are not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h x y"),
      (2L, "q a b c d e f g h z"),
      // repeats its own 8-gram internally -> within-doc only, not flagged
      (3L, "k l m n o p r s k l m n o p r s")).toDF("doc_id", "text")
    val got = TextOps.duplicateSpans(docs, n = 8)
      .as[(Long, Int)].collect().toSet
    assert(got === Set((1L, 0), (2L, 1)))
    // stride skips odd offsets: the shared window at doc2 offset 1 is never
    // emitted, so nothing matches — the documented coverage trade
    assert(TextOps.duplicateSpans(docs, n = 8, stride = 2).count() === 0L)
  }

  test("maskDuplicateSpans: overlapping windows merge, uncovered docs pass through") {
    import spark.implicits._
    val docs = Seq(
      (1L, (0 until 12).map(i => s"t$i").mkString(" ")),
      (2L, "u0 u1 u2"),
      (3L, "v0 v1 v2 v3")).toDF("doc_id", "text")
    val spans = Seq((1L, 0), (1L, 2), (3L, 0)).toDF("doc_id", "tok_start")
    val got = TextOps.maskDuplicateSpans(docs, spans, n = 4)
      .as[(Long, String)].collect().toMap
    // [0,4) and [2,6) merge to [0,6): t6..t11 survive
    assert(got(1L) === (6 until 12).map(i => s"t$i").mkString(" "))
    assert(got(2L) === "u0 u1 u2")  // no spans: untouched
    assert(got(3L) === "")          // fully covered: empty, not null
  }

  test("mixToWeights: binding stratum keeps all rows, achieved mix tracks targets") {
    import spark.implicits._
    // 1000 'a', 300 'b', 100 'c'; weights 0.6/0.2/0.2 -> T = min(1000/.6,
    // 300/.2, 100/.2) = 500 -> quotas a=0.3, b=1/3, c=1.0 (binding)
    val df = ((1L to 1000L).map(i => (i, "a")) ++
      (2001L to 2300L).map(i => (i, "b")) ++
      (3001L to 3100L).map(i => (i, "c"))).toDF("doc_id", "lang")
    val got = Sampling.mixToWeights(df, Map("a" -> 0.6, "b" -> 0.2, "c" -> 0.2))
      .as[(Long, String)].collect().groupBy(_._2).view.mapValues(_.length).toMap
    assert(got("c") === 100) // binding stratum: quota exactly 1.0
    // hash-gate noise on a ~300-row stratum is a few percent
    assert(math.abs(got("a") - 300) <= 30, s"a=${got("a")}")
    assert(math.abs(got("b") - 100) <= 20, s"b=${got("b")}")
    // unlisted stratum would be dropped; empty stratum must refuse
    intercept[IllegalArgumentException] {
      Sampling.mixToWeights(df, Map("a" -> 0.5, "zz" -> 0.5)).count()
    }
  }

  test("canonicalizeUrl: tracking runs, default ports, case, trailing slash") {
    import spark.implicits._
    def canon(u: String): String =
      Seq(Tuple1(u)).toDF("u")
        .select(Domains.canonicalizeUrl(col("u"))).as[String].collect().head
    // THREE leading tracking params: pass (a) clears all-but-first, (b) the rest
    assert(canon("http://X.org/p?utm_a=1&utm_b=2&utm_c=3&k=v") === "http://x.org/p?k=v")
    assert(canon("http://x.org/p?utm_a=1&utm_b=2") === "http://x.org/p")
    // non-default port survives; default port goes only on the matching scheme
    assert(canon("http://x.org:8080/p") === "http://x.org:8080/p")
    assert(canon("http://x.org:443/p") === "http://x.org:443/p")
    assert(canon("https://x.org:443/p") === "https://x.org/p")
    // path case significant, host case not; bare scheme-root slash is safe
    assert(canon("HTTP://X.Org/CaseSensitive/") === "http://x.org/CaseSensitive")
    assert(canon("https://x.org/") === "https://x.org")
    assert(canon("https://x.org/a#frag") === "https://x.org/a")
  }

  test("redactPii wide mode: intl + bare-10 redact, long ids and 2nd adjacent run kept") {
    import spark.implicits._
    def w(t: String): String =
      Seq(Tuple1(t)).toDF("t")
        .select(TextOps.redactPii(col("t"), wide = true)).as[String].collect().head
    def narrow(t: String): String =
      Seq(Tuple1(t)).toDF("t")
        .select(TextOps.redactPii(col("t"))).as[String].collect().head
    assert(w("call +44 20 7946 0958 now") === "call <PHONE> now")
    assert(w("call +49 30 901820 now") === "call <PHONE> now")
    assert(w("call 5551234567 now") === "call <PHONE> now")
    assert(w("id 20240506112233 stays") === "id 20240506112233 stays")
    // adjacent unseparated runs: the boundary space is consumed by the
    // first match, so the second run survives (documented engine-parity
    // behavior, identical in Java regex and RE2)
    assert(w("5551234567 5551234567") === "<PHONE> 5551234567")
    // default mode keeps all wide-only formats
    assert(narrow("call +44 20 7946 0958 or 5551234567") ===
      "call +44 20 7946 0958 or 5551234567")
  }

  test("registeredDomain: multi-label public suffixes bind eTLD+1, longest wins") {
    import spark.implicits._
    def rd(u: String): String =
      Seq(Tuple1(u)).toDF("u")
        .select(Domains.registeredDomain(col("u"))).as[String].collect().head
    // multi-label suffixes keep the registrable label
    assert(rd("https://www.example.co.uk/p") === "example.co.uk")
    assert(rd("https://a.b.example.com.au/p") === "example.com.au")
    assert(rd("https://cdn.shop.ac.jp/x?q=1") === "shop.ac.jp")
    // single-label TLD: plain last-2 fallback
    assert(rd("https://www.example.org/p") === "example.org")
    assert(rd("https://deep.sub.example.com/p") === "example.com")
    // NOT a listed suffix: co.uk-lookalike must not over-collapse
    assert(rd("https://www.example.co.zz/p") === "co.zz")
    // a bare public suffix has no registrable label: degenerate fallback
    assert(rd("https://co.uk/") === "co.uk")
    // injectable table: an empty table IS the naive rule
    assert(Seq(Tuple1("https://www.example.co.uk/p")).toDF("u")
      .select(Domains.registeredDomain(col("u"), Domains.Psl(Nil, Nil, Nil))).as[String]
      .collect().head === "co.uk")
    // custom 3-label suffix outranks a 2-label one on the same host
    assert(Seq(Tuple1("https://x.school.act.edu.au/p")).toDF("u")
      .select(Domains.registeredDomain(col("u"),
        Domains.Psl(Seq("edu.au", "act.edu.au"), Nil, Nil))).as[String]
      .collect().head === "school.act.edu.au")
  }

  test("registeredDomain: PSL wildcard and exception rules (full semantics)") {
    import spark.implicits._
    def rd(u: String): String =
      Seq(Tuple1(u)).toDF("u")
        .select(Domains.registeredDomain(col("u"))).as[String].collect().head
    // wildcard *.ck: one label under ck is a public suffix, so the
    // registered domain keeps TWO extra labels
    assert(rd("https://www.shop.anything.ck/p") === "shop.anything.ck")
    assert(rd("https://deep.sub.shop.anything.ck/p") === "shop.anything.ck")
    // exception !www.ck punches through *.ck: registered domain = www.ck
    assert(rd("https://www.ck/") === "www.ck")
    assert(rd("https://foo.www.ck/p") === "www.ck")
    assert(rd("https://a.b.foo.www.ck/p") === "www.ck")
    // Japanese city wildcard + its exception
    assert(rd("https://x.suburb.kawasaki.jp/") === "x.suburb.kawasaki.jp")
    assert(rd("https://shop.city.kawasaki.jp/") === "city.kawasaki.jp")
    // multi-label wildcard base from the private section
    assert(rd("https://vm.zone1.compute.amazonaws.com/") ===
      "vm.zone1.compute.amazonaws.com")
    // bare wildcard-derived suffix (no registrable label): degenerate
    // fallback to the last two labels, same as bare plain suffixes
    assert(rd("https://anything.ck/") === "anything.ck")
    // case-insensitive matching (PSL rules are lowercase)
    assert(rd("https://WWW.Example.CO.UK/p") === "example.co.uk")
  }

  test("parsePsl: official format — comments, whitespace, rule kinds") {
    val psl = Domains.parsePsl(Iterator(
      "// comment", "", "com", "co.uk", "  ac.jp  trailing ignored",
      "*.ck", "!www.ck", "*.kawasaki.jp", "UPPER.case"))
    assert(psl.multiLabel === Seq("co.uk", "ac.jp", "upper.case"))
    assert(psl.wildcardBases === Seq("ck", "kawasaki.jp"))
    assert(psl.exceptions === Seq("www.ck"))
    // the committed snapshot loads and carries all three rule kinds
    assert(Domains.DefaultPsl.multiLabel.contains("co.uk"))
    assert(Domains.DefaultPsl.wildcardBases.contains("ck"))
    assert(Domains.DefaultPsl.exceptions.contains("www.ck"))
    // non-leading wildcards are rejected loudly
    intercept[IllegalArgumentException] {
      Domains.parsePsl(Iterator("a.*.b"))
    }
  }

  test("upsample gate is domain-separated: drop-then-upsample realizes ~w, not 2w") {
    import spark.implicits._
    val docs = (0L until 10000L).map(i => (i, "en")).toDF("doc_id", "lang")
    val kept = Sampling.stratifiedSample(docs, Map("en" -> 0.5))
    val nKept = kept.count().toDouble
    assert(nKept > 4000 && nKept < 6000)
    val up = Sampling.upsampleToWeights(kept, Map("en" -> 1.5))
    val ratio = up.count() / nKept
    // an UNSALTED fractional gate re-tests the exact predicate that
    // selected the survivors: every survivor of the 0.5-quota keep would
    // win the w=1.5 extra copy and the realized repetition would be
    // exactly 2.0; the salted stream must realize ~1.5
    assert(ratio > 1.40 && ratio < 1.60,
      s"composed repetition $ratio should be ~1.5 (2.0 = unsalted-gate bug)")
    // and the copy column is dense per doc: 0..n-1
    val copies = up.groupBy("doc_id").count().select("count").distinct()
      .as[Long].collect().toSet
    assert(copies.subsetOf(Set(1L, 2L)))
  }

  test("domain filter: block keeps null-domain rows, allow drops them") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://www.bad-site.org/p/1"),
      (2L, "https://cdn.good-site.org/p/2"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "url")
    val list = Seq(Tuple1("bad-site.org")).toDF("domain")
    val blocked = Domains.filterByDomain(docs, list, mode = "block")
      .select("doc_id").as[Long].collect().toSet
    val allowed = Domains.filterByDomain(docs, list, mode = "allow")
      .select("doc_id").as[Long].collect().toSet
    assert(blocked === Set(2L, 3L)) // null url: conservatively kept
    assert(allowed === Set(1L))     // null url: cannot prove membership
  }

  test("contamination gate: oversized benchmark side drops the broadcast hint, same result") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "z y x w v u t s r q"),
      (3L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    val bench = Seq(Tuple1("a b c d e f g h i j")).toDF("text")
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }
    val small = TextOps.contaminationCounts(docs, bench)
    val big = TextOps.contaminationCounts(docs, bench, maxBroadcastShingles = 0)
    assert(hints(small).exists(_ != JoinHint.NONE), "eval-sized side should carry the broadcast hint")
    assert(hints(big).forall(_ == JoinHint.NONE), "oversized side must take the shuffled plan")
    val a = small.orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val b = big.orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(a === b)
    assert(a.map(_._1) === Seq(1L, 3L)) // doc 2 shares no 8-gram
  }

  test("dup-line char fraction: all occurrences of duplicated lines count") {
    // lines: "aaaa" x2 (8 chars dup), "bb" (2 chars unique) -> 8/10
    assert(TextOps.dupLineCharFraction("aaaa\nbb\naaaa") === 0.8)
    // trimming + empty-line drops before counting
    assert(TextOps.dupLineCharFraction("  x \n\n x\n") === 1.0)
    assert(TextOps.dupLineCharFraction("abc\ndef") === 0.0)
    assert(TextOps.dupLineCharFraction("") === 0.0)
    assert(TextOps.dupLineCharFraction(null) === 0.0)
  }

  test("dup-paragraph char fraction: blocks split on blank lines, inner newlines kept") {
    // paragraphs "a\nb" x2 duplicated, "zz" unique -> 6/8
    assert(TextOps.dupParaCharFraction("a\nb\n\nzz\n\na\nb") === 0.75)
    // 3+ newlines still one separator; single newline does NOT split
    assert(TextOps.dupParaCharFraction("p\n\n\np") === 1.0)
    assert(TextOps.dupParaCharFraction("a\nb") === 0.0)
  }

  test("jlProject: deterministic, scaled by 1/sqrt(m), distances roughly kept") {
    val dim = 64
    val planes = Similarity.hyperplanes(16, dim, 0x01dfacadeL)
    val inv = 1.0 / math.sqrt(16.0)
    def randVec(seed: Long): Array[Float] = {
      val r = new graft.pipeline.PageGen.Rng(seed)
      Array.fill(dim)((r.nextDouble() * 2.0 - 1.0).toFloat)
    }
    val a = randVec(1); val b = randVec(2)
    // bit-identical re-run (pure function of inputs)
    assert(Similarity.jlProject(a, planes, inv).toSeq ===
      Similarity.jlProject(a, planes, inv).toSeq)
    // JL in expectation: projected squared distance within 3x of original
    // for a fixed seed (not a tolerance claim — a sanity bound the fixed
    // projection satisfies)
    def d2(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (p, q) => (p - q) * (p - q) }.sum
    val pa2 = Similarity.jlProject(a, planes, inv)
    val pb2 = Similarity.jlProject(b, planes, inv)
    val orig = a.zip(b).map { case (p, q) => (p - q).toDouble * (p - q) }.sum
    val proj = d2(pa2, pb2)
    assert(proj > orig / 3.0 && proj < orig * 3.0, s"orig=$orig proj=$proj")
    // a zero vector projects to the zero vector
    assert(Similarity.jlProject(new Array[Float](dim), planes, inv)
      .forall(_ === 0.0))
  }
}
