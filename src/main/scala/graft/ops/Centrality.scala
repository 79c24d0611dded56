package graft.ops

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.{KryoSerializer, Serializer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Harmonic centrality over the link graph — the ranking Common Crawl
  * actually publishes for hosts (harmonic centrality of the host-level
  * webgraph), complementing [[LinkGraph.pagerank]]:
  *
  *   H(v) = Σ_{u ≠ v, d(u,v) < ∞} 1 / d(u,v)
  *
  * with d(u,v) the directed shortest-path length FROM u TO v (a page is
  * central when many pages reach it over short link chains).
  *
  * Two paths:
  *
  *   - `harmonicExact`: the oracle path — collects the deduplicated edge
  *     set under the shared enforced 5M-edge cap and runs pinned-order BFS
  *     from every vertex locally (sources iterated in sorted order, so
  *     the 1/d additions fold deterministically; bit-identical to the
  *     clean-room mirror `hc_exact` by construction).
  *
  *   - `harmonicHll`: the 10^12-edge path — HyperBall (Boldi & Vigna,
  *     2013): every vertex carries a 2^B-register HyperLogLog sketch of
  *     the set of vertices that reach it within t hops; one round sends
  *     each sketch along the out-edges and register-maxes what a vertex
  *     receives — one map-side-combining shuffle whose state is m bytes
  *     per vertex, no per-pair work anywhere. H accumulates
  *     (|B_t| − |B_{t−1}|)/t from the HLL estimates. The rounds are RDD
  *     rounds, like WCC's and LPA's (see [[loopPartitions]]), one
  *     checkpointed job each ([[Lineage.rddFixpoint]]). The sketch hash
  *     (md5 head), register update rule, estimator (raw + linear-counting
  *     branch, portable ln) and all fold orders are PINNED, so the sketch
  *     registers are cross-engine identical integers and the estimates
  *     bit-identical doubles — the HLL path gets a hard golden too, not a
  *     tolerance.
  */
object Centrality {

  /** Register-count exponent: m = 2^B = 64 registers (6-bit indices),
    * standard error ≈ 1.04/√64 ≈ 13% per-ball — HyperBall's regime; the
    * q_harmonic_hll oracle pins exact register equality, not accuracy.
    */
  val B: Int = 6
  val M: Int = 1 << B
  /** HLL bias constant for m = 64 (Flajolet et al. 2007). */
  val AlphaM: Double = 0.709

  /** First 8 bytes of md5(utf8) big-endian — the same digest family the
    * shard/sampling layers replay; mirrored as `hc_hash64`.
    */
  private[graft] def hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** (register index, rank) of one element: index = top B bits, rank =
    * leading-zero count of the remaining 64−B bits + 1 (all-zero rest →
    * 64−B+1).
    */
  private[ops] def registerOf(h: Long): (Int, Int) = {
    val j = (h >>> (64 - B)).toInt
    val rest = h & ((1L << (64 - B)) - 1L)
    val bitLen = if (rest == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(rest)
    (j, (64 - B) - bitLen + 1)
  }

  private[ops] def initRegisters(url: String): Array[Byte] = {
    val regs = new Array[Byte](M)
    val (j, rho) = registerOf(hash64(url))
    regs(j) = rho.toByte
    regs
  }

  /** Pinned HLL estimate: sum of exact powers of two in register order,
    * raw = α·m²/sum, linear counting when raw ≤ 2.5m and zeros remain.
    * Portable ln keeps the LC branch bit-identical cross-engine.
    */
  private[ops] def estimate(regs: Array[Byte]): Double = {
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      sum += Math.scalb(1.0, -regs(i))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val raw = AlphaM * M * M / sum
    if (raw <= 2.5 * M && zeros > 0) M * Retrieval.lnPortable(M.toDouble / zeros)
    else raw
  }

  /** Register-wise max of `b` into `a` (mutated and returned) — the
    * HyperBall union. Max is commutative/associative/idempotent, so
    * map-side combining is exact regardless of partitioning.
    */
  private def regMax(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) {
      if (b(i) > a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  /** The exact-path edge cap (shared by every oracle kernel here). */
  private val ExactModeEdgeCap = 5000000L

  /** ONE bounded collect of the deduplicated edge set — the shared gate of
    * every exact kernel here and of [[LinkGraph.pagerank]] (loud failure
    * past the cap).
    */
  private[ops] def collectBoundedEdges(
      edgesDf: DataFrame, opName: String): Array[(String, String)] = {
    val spark = edgesDf.sparkSession
    import spark.implicits._
    val bounded = edgesDf.select(col("src"), col("dst")).distinct()
      .limit((ExactModeEdgeCap + 1).toInt).as[(String, String)].collect()
    require(bounded.length <= ExactModeEdgeCap,
      s"$opName runs a local kernel over the collected edge set, capped at " +
        s"$ExactModeEdgeCap distinct edges: this graph has more")
    bounded
  }

  /** Sorted vertex array + adjacency lists over the deduped, sorted edge
    * set (reverse build ⇒ forward/reverse lists end up sorted) — the
    * pinned-fold substrate every exact kernel here shares. `undirected`
    * adds BOTH endpoints per edge (reciprocal edges then contribute
    * twice — the LPA multiplicity rule).
    */
  private[ops] def sortedAdjacency(
      pairs: Array[(String, String)], reverse: Boolean,
      undirected: Boolean = false): (Array[String], Array[List[Int]]) = {
    val simple = pairs.distinct.sorted
    val verts = (simple.map(_._1) ++ simple.map(_._2)).distinct.sorted
    val idx = verts.zipWithIndex.toMap
    val adj = Array.fill(verts.length)(List.empty[Int])
    for (i <- simple.indices.reverse) {
      val (s, d) = simple(i)
      if (undirected) {
        adj(idx(s)) ::= idx(d)
        adj(idx(d)) ::= idx(s)
      } else if (reverse) adj(idx(d)) ::= idx(s)
      else adj(idx(s)) ::= idx(d)
    }
    (verts, adj)
  }

  /** Exact harmonic centrality — oracle path. Unlike pagerank's kernel
    * (linear per iteration), all-sources BFS is Θ(V·E), so the edge cap
    * alone bounds memory but NOT runtime: a 1M-edge / 300k-vertex graph
    * passes a 5M-edge gate and then hangs for days.
    * The gate here is the actual WORK product V·E — loud failure, never
    * a silent hang.
    */
  def harmonicExact(
      edgesDf: DataFrame,
      maxBfsWork: Long = 2000000000L): DataFrame = {
    val spark = edgesDf.sparkSession
    import spark.implicits._
    val bounded = collectBoundedEdges(edgesDf, "harmonicExact")
    val nV = (bounded.iterator.map(_._1) ++ bounded.iterator.map(_._2))
      .toSet.size.toLong
    require(nV * bounded.length <= maxBfsWork,
      s"harmonicExact: V*E = ${nV}*${bounded.length} exceeds the " +
        s"$maxBfsWork work bound (all-sources BFS is Θ(V·E)) — use harmonicHll")
    localExactHarmonic(bounded).toSeq.toDF("url", "harmonic")
  }

  /** Pinned-order local kernel: vertices sorted; BFS from each source in
    * that order; H(v) += 1/d folds in source order. ASCII urls (resolver
    * output) keep JVM order == Python code-point order.
    */
  private[ops] def localExactHarmonic(
      pairs: Array[(String, String)]): Array[(String, Double)] = {
    val (verts, adj) = sortedAdjacency(pairs, reverse = false)
    val h = new Array[Double](verts.length)
    val dist = new Array[Int](verts.length)
    var src = 0
    while (src < verts.length) {
      java.util.Arrays.fill(dist, -1)
      dist(src) = 0
      var frontier = List(src)
      var d = 1
      while (frontier.nonEmpty) {
        var next = List.empty[Int]
        // frontier is consumed in order; 1/d additions are order-free
        // within a round (equal addends), across rounds source-pinned
        for (u <- frontier; v <- adj(u)) if (dist(v) < 0) {
          dist(v) = d
          h(v) += 1.0 / d
          next ::= v
        }
        frontier = next.reverse
        d += 1
      }
      src += 1
    }
    verts.zip(h)
  }

  /** HITS hubs & authorities (Kleinberg 1999) — exact oracle path:
    * K mutually-recursive power iterations over the collected edge set
    * with EVERY fold pinned (sorted vertices, sorted in/out neighbor
    * lists, L2 normalization folded in sorted-vertex order; Math.sqrt is
    * correctly-rounded IEEE, so the whole run is bit-identical to the
    * mirror). Same enforced edge cap as pagerank's; there is no
    * distributed form.
    */
  def hitsExact(edgesDf: DataFrame, iters: Int = 20): DataFrame = {
    require(iters >= 1, s"hitsExact: iters must be >= 1, got $iters")
    val spark = edgesDf.sparkSession
    import spark.implicits._
    localExactHits(collectBoundedEdges(edgesDf, "hitsExact"), iters)
      .toSeq.toDF("url", "authority", "hub")
  }

  private[ops] def localExactHits(
      pairs: Array[(String, String)],
      iters: Int): Array[(String, Double, Double)] = {
    val (verts, inN) = sortedAdjacency(pairs, reverse = true)
    val (_, outN) = sortedAdjacency(pairs, reverse = false)
    var auth = Array.fill(verts.length)(1.0)
    var hub = Array.fill(verts.length)(1.0)
    def normalize(a: Array[Double]): Array[Double] = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 } // sorted-vertex fold
      val n = Math.sqrt(s)
      if (n == 0.0) a else a.map(_ / n)
    }
    var k = 0
    while (k < iters) {
      val a2 = new Array[Double](verts.length)
      var v = 0
      while (v < verts.length) {
        var s = 0.0
        inN(v).foreach(u => s += hub(u)) // sorted-in-neighbor fold
        a2(v) = s
        v += 1
      }
      auth = normalize(a2)
      val h2 = new Array[Double](verts.length)
      v = 0
      while (v < verts.length) {
        var s = 0.0
        outN(v).foreach(w => s += auth(w)) // sorted-out-neighbor fold
        h2(v) = s
        v += 1
      }
      hub = normalize(h2)
      k += 1
    }
    verts.indices.map(i => (verts(i), auth(i), hub(i))).toArray
  }

  /** Label-propagation community detection (Raghavan et al. 2007) over
    * the UNDIRECTED view of the link graph — the spam-cluster /
    * link-farm grouping step. Pinned spec (mirrored as `lg_lpa`):
    *   - neighbors of v = the other endpoint of every deduped directed
    *     edge touching v (reciprocal edges count twice — deliberate:
    *     mutual links bind tighter).
    *   - labels start as the vertex's own url; K SYNCHRONOUS rounds;
    *     new label = the most frequent neighbor label, ties to the
    *     SMALLEST label in code-point order.
    * Every quantity is an integer or a string, so the exact local path
    * and the distributed loop are BIT-identical — q_lpa_dist shares
    * q_lpa's golden verbatim (the same anti-drift rule as the
    * stream/batch pairs).
    */
  def lpaExact(edgesDf: DataFrame, iters: Int = 10): DataFrame = {
    require(iters >= 1, s"lpaExact: iters must be >= 1, got $iters")
    val spark = edgesDf.sparkSession
    import spark.implicits._
    localExactLpa(collectBoundedEdges(edgesDf, "lpaExact"), iters)
      .toSeq.toDF("url", "community")
  }

  private[ops] def localExactLpa(
      pairs: Array[(String, String)], iters: Int): Array[(String, String)] = {
    val (verts, nbrs) = sortedAdjacency(pairs, reverse = false, undirected = true)
    var labels: Array[String] = verts.clone()
    var k = 0
    while (k < iters) {
      val next = new Array[String](verts.length)
      var v = 0
      while (v < verts.length) {
        if (nbrs(v).isEmpty) next(v) = labels(v)
        else {
          val counts = mutable.HashMap.empty[String, Long]
          nbrs(v).foreach(u =>
            counts.updateWith(labels(u))(c => Some(c.getOrElse(0L) + 1L)))
          next(v) = mostFrequent(counts)
        }
        v += 1
      }
      labels = next
      k += 1
    }
    verts.zip(labels)
  }

  /** Weakly-connected components — the classic webgraph partition (host
    * islands, dead zones, dedup-cluster resolution's graph twin).
    * Component id = the MIN member url in code-point order. Exact path =
    * local union-find over the bounded edge collect; distributed path =
    * min-label propagation to FIXPOINT (min over binary string order is
    * order-insensitive, so the distributed result is BIT-identical to
    * the exact path — q_components_dist shares q_components' golden,
    * the same local/distributed anti-drift rule as LPA's).
    */
  def componentsExact(edgesDf: DataFrame): DataFrame = {
    val spark = edgesDf.sparkSession
    import spark.implicits._
    localExactComponents(collectBoundedEdges(edgesDf, "componentsExact"))
      .toSeq.toDF("url", "component")
  }

  private[ops] def localExactComponents(
      pairs: Array[(String, String)]): Array[(String, String)] = {
    val (verts, adj) = sortedAdjacency(pairs, reverse = false, undirected = true)
    val parent = Array.tabulate(verts.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    var v = 0
    while (v < verts.length) {
      adj(v).foreach { u =>
        val (rv, ru) = (find(v), find(u))
        if (rv != ru) parent(math.max(rv, ru)) = math.min(rv, ru)
      }
      v += 1
    }
    // canonical = min member url in CODE-POINT order (the distributed
    // min's UTF8-binary order, not JVM string order)
    val canon = new Array[String](verts.length)
    v = 0
    while (v < verts.length) {
      val r = find(v)
      if (canon(r) == null || Bpe.codePointCompare(verts(v), canon(r)) < 0) canon(r) = verts(v)
      v += 1
    }
    verts.indices.map(i => (verts(i), canon(find(i)))).toArray
  }

  // ---------------- the distributed vertex loops: RDD rounds ----------------
  //
  // WCC, LPA and HyperBall run Pregel-style rounds (GraphX's design) over an
  // adjacency built once: each round zips the adjacency with the state to
  // emit messages, combines them map-side into the loop's partitioner, and
  // zips the result with the co-partitioned previous state.
  // [[Lineage.rddFixpoint]] runs each round as ONE Spark job (persist,
  // checkpoint, count the changed rows). The rounds are planned once, as
  // RDD operations, and read no SQL conf: no per-round analysis or
  // planning, and no session setting to override.

  /** `edgesDf`'s row count in one job (a SQL count runs two under AQE). */
  private def edgeCount(edgesDf: DataFrame): Long = edgesDf.select(col("src")).rdd.count()

  /** Loop state rows per partition: about 100 MB of (id, label) rows. */
  private val LoopRowsPerPartition = 2000000L

  /** A loop's partition count over `stateRows` rows of state:
    * ⌈stateRows / 2M⌉, at least 1 — derived from the data, so one tiny
    * graph runs its rounds in one task per stage and a large one spreads.
    */
  private[graft] def loopPartitions(stateRows: Long): Int =
    math.max(1L, (stateRows + LoopRowsPerPartition - 1) / LoopRowsPerPartition).toInt

  /** A distributed vertex loop: the start state and the round, as
    * [[Lineage.rddFixpoint]] takes them, over `adj`, the persisted
    * adjacency that [[run]] unpersists once the loop is done.
    */
  private[graft] final case class RddLoop[K, S](
      adj: RDD[(K, Array[K])],
      start: RDD[(K, S)],
      round: (RDD[(K, S)], Int) => RDD[(K, S, Boolean)]) {
    def run(maxRounds: Int): (RDD[(K, S)], Boolean) =
      try Lineage.rddFixpoint(start, maxRounds)(round)
      finally adj.unpersist(blocking = false)
  }

  /** The loop's graph over the distinct (src, dst) edges of `edgesDf` (an
    * edge with a null endpoint is dropped): every endpoint with its
    * neighbour list — `undirected`, the other endpoint of every edge
    * touching it, so a reciprocal pair counts twice (the LPA multiplicity
    * rule); else its out-neighbours, empty for a sink. Hash-partitioned by
    * `part`, sorted by id within each partition (a recomputed partition
    * keeps the order its state rows are zipped in) and persisted: the
    * first round's job materializes it.
    */
  private def adjacency[K: ClassTag](
      edgesDf: DataFrame, part: Partitioner, undirected: Boolean, ser: Serializer)(
      implicit ord: Ordering[K]): RDD[(K, Array[K])] = {
    // (out-neighbours, in-neighbours); an edge reaches both endpoints
    type Nbrs = (mutable.HashSet[K], mutable.HashSet[K])
    def add(c: Nbrs, e: (K, Boolean)): Nbrs = {
      if (e._2) c._1 += e._1 else if (undirected) c._2 += e._1
      c
    }
    edgesDf.select(col("src"), col("dst")).rdd
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .flatMap { r =>
        val (s, d) = (r.getAs[K](0), r.getAs[K](1))
        Iterator((s, (d, true)), (d, (s, false)))
      }
      .combineByKeyWithClassTag[Nbrs](
        e => add((mutable.HashSet.empty[K], mutable.HashSet.empty[K]), e), add,
        (a, b) => { a._1 ++= b._1; a._2 ++= b._2; a }, part, mapSideCombine = true, ser)
      .mapPartitions(_.map { case (v, (out, in)) => (v, (out.iterator ++ in.iterator).toArray) }
        .toArray.sortBy(_._1).iterator, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** One round's messages: `adj` zipped with `state` (same partitions,
    * same order), each vertex sending `msg` of its state to every
    * neighbour, combined map-side and per receiver into `part`. The rows
    * are keyed by the receiver, so they do not keep `adj`'s partitioner
    * (`preservesPartitioning = false`): with it, combineByKey would skip
    * the shuffle and combine each message in its sender's partition.
    */
  private def messages[K: ClassTag, S, A: ClassTag, C: ClassTag](
      adj: RDD[(K, Array[K])], state: RDD[(K, S)], part: Partitioner, ser: Serializer)(
      msg: S => A)(create: A => C)(add: (C, A) => C, merge: (C, C) => C): RDD[(K, C)] =
    adj.zipPartitions(state, preservesPartitioning = false) { (as, ss) =>
      as.zip(ss).flatMap { case ((v, nbrs), (u, s)) =>
        require(v == u, s"graph loop: adjacency row $v zipped with state row $u")
        val m = msg(s)
        nbrs.iterator.map(n => (n, m))
      }
    }.combineByKeyWithClassTag(create, add, merge, part, mapSideCombine = true, ser)

  /** `state` in its own order, each row updated with what its vertex
    * received: `inbox` is keyed into the same partitioner, so partition i
    * of both holds the same vertices.
    */
  private def receive[K, S, C, T: ClassTag](state: RDD[(K, S)], inbox: RDD[(K, C)])(
      update: (K, S, Option[C]) => T): RDD[T] =
    state.zipPartitions(inbox) { (ss, cs) =>
      val got = new java.util.HashMap[K, C]()
      cs.foreach { case (k, c) => got.put(k, c) }
      ss.map { case (v, s) => update(v, s, Option(got.get(v))) }
    }

  /** Each loop's shuffles use Kryo, set on the shuffle itself: the
    * session's `spark.serializer` is not the loop's to choose.
    */
  private def loopSerializer(edgesDf: DataFrame): Serializer =
    new KryoSerializer(edgesDf.sparkSession.sparkContext.getConf)

  /** A loop's final state as a DataFrame with the given columns. */
  private def frame(spark: SparkSession, rows: RDD[Row], cols: (String, DataType)*): DataFrame =
    spark.createDataFrame(rows, StructType(cols.map { case (n, t) => StructField(n, t) }))

  /** Weakly-connected components, distributed: (url, component) with
    * component = the MIN member id. Min-label propagation to fixpoint,
    * accelerated by POINTER JUMPING: each round takes the neighbor-min and
    * then the label-of-its-label. Min over code-point (or long) order is
    * order-insensitive, so the fixpoint is bit-identical to
    * [[componentsExact]]; convergence is certified by an explicit
    * changed-row count. Rounds: when ids increase along a path the
    * distance a label has travelled doubles every round (a 64-vertex path
    * takes 7), but the min label still crosses the graph one edge hop per
    * neighbor-min, so on paths with random ids the count grows with the
    * diameter (random-id
    * paths of 64, 256 and 1,024 vertices took 17–49, 57–119 and 194–370
    * rounds over 5 seeds): a path of a few hundred vertices can exceed the
    * default cap. Fails LOUDLY past maxIters — a shared-golden row needs
    * the true fixpoint, not a refinement.
    */
  def components(edgesDf: DataFrame, maxIters: Int = 50): DataFrame = {
    val (labels, converged) = componentLabels(edgesDf, maxIters)
    require(converged,
      s"components: no fixpoint within $maxIters pointer-jumping rounds — " +
        "raise maxIters")
    labels
  }

  /** The [[components]] loop over `src`/`dst` edges of string or long
    * ids: the labels after at most `maxIters` rounds and whether they
    * reached the fixpoint. Unconverged labels are still a valid REFINEMENT
    * (every label is a smaller-or-equal id in the same component), which
    * [[Dedup.nearDupClusters]] returns at its cap.
    */
  private[ops] def componentLabels(
      edgesDf: DataFrame, maxIters: Int): (DataFrame, Boolean) =
    componentLabels(edgesDf, maxIters, loopPartitions(2L * edgeCount(edgesDf)))

  /** [[componentLabels]] over `parts` partitions. */
  private[ops] def componentLabels(
      edgesDf: DataFrame, maxIters: Int, parts: Int): (DataFrame, Boolean) = {
    require(maxIters >= 1, s"components: maxIters must be >= 1")
    def labels[K: ClassTag](ord: Ordering[K]): (RDD[Row], Boolean) = {
      val (state, converged) = componentsLoop[K](edgesDf, parts)(implicitly, ord).run(maxIters)
      (state.map { case (v, l) => Row(v, l) }, converged)
    }
    val idType = edgesDf.schema("src").dataType
    val (rows, converged) = idType match {
      case StringType => labels(Bpe.codePointOrder)
      case LongType => labels(Ordering.Long)
      case t => throw new IllegalArgumentException(s"components: ids must be string or long, not $t")
    }
    (frame(edgesDf.sparkSession, rows, "url" -> idType, "component" -> idType), converged)
  }

  /** The [[components]] loop: every vertex labelled with itself, and the
    * pointer-jumping round — the neighbour-min (own label included), then
    * one jump: component' = component(component), always ≤ component
    * (labels only shrink), which collapses label chains exponentially. A
    * vertex asks the vertex its neighbour-min names for that vertex's
    * neighbour-min (a vertex labelled with itself asks nobody), and the
    * answer comes back to it. (A double jump per round was tried and
    * reverted: convergence on the fixture is edge-hop-bound — the min
    * label travels one GRAPH hop per neighbor-min — so extra jumps bought
    * zero rounds.) A row changed when its label differs from the round's
    * start label.
    */
  private[graft] def componentsLoop[K: ClassTag](edgesDf: DataFrame, parts: Int)(
      implicit ord: Ordering[K]): RddLoop[K, K] = {
    val part = new HashPartitioner(parts)
    val ser = loopSerializer(edgesDf)
    val adj = adjacency[K](edgesDf, part, undirected = true, ser)
    RddLoop(adj, adj.map { case (v, _) => (v, v) }, { (labels, _) =>
      // (vertex, neighbour-min, round-start label)
      val nm = receive(labels,
        messages(adj, labels, part, ser)(identity[K])((l: K) => l)(ord.min, ord.min)) {
        (v, own, in) => (v, in.fold(own)(ord.min(own, _)), own)
      }
      val asks = new ShuffledRDD[K, K, K](
        nm.flatMap { case (v, l, _) => if (l == v) None else Some((l, v)) }, part)
        .setSerializer(ser)
      val answers = nm.zipPartitions(asks) { (ns, as) =>
        val label = new java.util.HashMap[K, K]()
        ns.foreach { case (v, l, _) => label.put(v, l) }
        as.map { case (l, v) => (v, label.get(l)) }
      }
      receive(labels, new ShuffledRDD[K, K, K](answers, part).setSerializer(ser)) {
        (v, own, jumped) =>
          val l = jumped.getOrElse(v)
          (v, l, l != own)
      }
    })
  }

  /** Distributed LPA — synchronous rounds in which every vertex takes its
    * neighbours' most frequent label, counted with multiplicity (map-side
    * partial counts per receiver), ties to the smallest label in
    * code-point order. Integer counts make it bit-identical to
    * [[lpaExact]].
    */
  def lpa(edgesDf: DataFrame, iters: Int = 10): DataFrame =
    lpa(edgesDf, iters, loopPartitions(2L * edgeCount(edgesDf)))

  /** [[lpa]] over `parts` partitions. */
  private[ops] def lpa(edgesDf: DataFrame, iters: Int, parts: Int): DataFrame = {
    require(iters >= 1, s"lpa: iters must be >= 1, got $iters")
    // synchronous LPA is deterministic, so a round with ZERO label changes
    // makes every remaining round a no-op: stopping at the fixpoint is
    // bit-identical to running all `iters` rounds. Oscillating graphs
    // simply never reach it and still run the full `iters`.
    val (state, _) = lpaLoop(edgesDf, parts).run(iters)
    frame(edgesDf.sparkSession, state.map { case (v, l) => Row(v, l) },
      "url" -> StringType, "community" -> StringType)
  }

  /** The [[lpa]] loop: every vertex labelled with itself, and the round. */
  private[graft] def lpaLoop(edgesDf: DataFrame, parts: Int): RddLoop[String, String] = {
    val part = new HashPartitioner(parts)
    val ser = loopSerializer(edgesDf)
    val adj = adjacency[String](edgesDf, part, undirected = true, ser)(
      implicitly, Bpe.codePointOrder)
    RddLoop(adj, adj.map { case (v, _) => (v, v) }, { (labels, _) =>
      val counts = messages(adj, labels, part, ser)(identity[String])(
        l => mutable.HashMap(l -> 1L))(
        (c, l) => { c(l) = c.getOrElse(l, 0L) + 1L; c },
        (a, b) => { b.foreach { case (l, n) => a(l) = a.getOrElse(l, 0L) + n }; a })
      receive(labels, counts) { (v, own, in) =>
        val l = in.fold(own)(mostFrequent)
        (v, l, l != own)
      }
    })
  }

  /** The label with the highest count, ties to the smallest in code-point
    * order — the LPA rule of both paths.
    */
  private def mostFrequent(counts: collection.Map[String, Long]): String = {
    var best: String = null
    var bestC = 0L
    counts.foreach { case (l, c) =>
      if (c > bestC || (c == bestC && Bpe.codePointCompare(l, best) < 0)) { best = l; bestC = c }
    }
    best
  }

  /** HyperBall harmonic centrality — the production path. Returns
    * (url, harmonic, reach_est): reach_est is the final ball's size
    * estimate (|reachable-to| within `iters`), a useful rank feature on
    * its own.
    */
  def harmonicHll(edgesDf: DataFrame, iters: Int = 10): DataFrame = {
    require(iters >= 1, s"harmonicHll: iters must be >= 1, got $iters")
    // HyperBall sketches are monotone (register-wise max): a round where NO
    // vertex's registers changed is a fixpoint — every remaining round's
    // est − prev_est increment is 0.0 and the state is bit-identical to
    // running all `iters` rounds
    val (state, _) = harmonicLoop(edgesDf, loopPartitions(edgeCount(edgesDf))).run(iters)
    frame(edgesDf.sparkSession, state.map { case (v, (_, est, h)) => Row(v, h, est) },
      "url" -> StringType, "harmonic" -> DoubleType, "reach_est" -> DoubleType)
  }

  /** The [[harmonicHll]] loop: every vertex with (its own one-element
    * sketch, the sketch's estimate, h = 0), and round t: each vertex sends
    * its sketch along its out-edges, the sketches a vertex receives are
    * register-maxed map-side and then into its own, and h += (est −
    * prev_est) / t. A row changed when its registers did.
    */
  private[graft] def harmonicLoop(
      edgesDf: DataFrame, parts: Int): RddLoop[String, (Array[Byte], Double, Double)] = {
    val part = new HashPartitioner(parts)
    val ser = loopSerializer(edgesDf)
    val adj = adjacency[String](edgesDf, part, undirected = false, ser)(
      implicitly, Bpe.codePointOrder)
    val start = adj.map { case (v, _) =>
      val regs = initRegisters(v)
      (v, (regs, estimate(regs), 0.0))
    }
    RddLoop(adj, start, { (state, t) =>
      // the combiner starts from a copy: the state's sketches are never written
      val inbox = messages(adj, state, part, ser)(_._1)(_.clone())(regMax, regMax)
      receive(state, inbox) { case (v, (regs, prevEst, h), in) =>
        val next = in.fold(regs)(regMax(_, regs))
        val est = estimate(next)
        (v, (next, est, h + (est - prevEst) / t.toDouble), !java.util.Arrays.equals(next, regs))
      }
    })
  }
}
