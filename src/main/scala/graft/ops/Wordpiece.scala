package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece tokenizer (the BERT family) — the third tokenizer next to
  * [[Bpe]] (merge-count) and [[Unigram]] (likelihood-pruned): training
  * merges the adjacent pair maximizing the LIKELIHOOD-GAIN score
  *
  *   score(l, r) = count(l·r) / (count(l) · count(r))
  *
  * (Schuster & Nakajima 2012; the `##` continuation convention and greedy
  * longest-match-first inference are BERT's, Devlin et al. 2019).
  *
  * Pinned spec (shared with the clean-room mirror `wp_*` in graftpy.py):
  *   - a word's symbols are its code points, the first bare, the rest
  *     `##`-prefixed; merging (l, r) yields l + r-without-`##`.
  *   - pair/symbol counts weight by word frequency and count every
  *     adjacent occurrence (overlaps included).
  *   - the round's argmax orders by (double score DESC, left ASC, right
  *     ASC in code-point order); the score double is pinned as
  *     pc / (double(cl) · double(cr)) — both operands converted BEFORE
  *     the multiply, so both engines round identically.
  *   - inference: greedy longest vocab prefix; a word with any unmatched
  *     position encodes as one `[UNK]`. The vocabulary is the base
  *     symbols with training count ≥ `minSymCount` plus every merge
  *     token, so hapax code points exercise the UNK path.
  *
  * Scale shape (the [[Bpe.train]] dispatch discipline): training runs on
  * the DISTINCT-WORD frequency table — Heaps'-law small — aggregated
  * distributedly, then collected ONCE under the enforced
  * `localVocabLimit` bound (limit(cap+1), loud failure) for the exact
  * local merge loop with delta-updated pair/symbol counts. Encoding is a
  * broadcast-vocab map-side pass, no shuffle.
  */
object Wordpiece {

  final val Unk = "[UNK]"

  final case class Merge(
      rank: Int, left: String, right: String, token: String,
      pairCount: Long, leftCount: Long, rightCount: Long)

  final case class Model(vocab: Set[String], merges: Seq[Merge]) {
    val maxPieceCps: Int =
      if (vocab.isEmpty) 1
      else vocab.iterator.map(p => stripCont(p).codePointCount(0, stripCont(p).length))
        .max.max(1)
  }

  private def stripCont(s: String): String =
    if (s.startsWith("##")) s.substring(2) else s

  /** Word → WordPiece symbols: code points, continuation-prefixed. */
  private[ops] def wordSyms(w: String): Array[String] = {
    val cps = Bpe.codePointSyms(w)
    val out = new Array[String](cps.length)
    var i = 0
    while (i < cps.length) {
      out(i) = if (i == 0) cps(i) else "##" + cps(i)
      i += 1
    }
    out
  }


  /** Left-to-right non-overlapping merge application emitting the
    * WordPiece token directly (never the raw l+r concatenation — a
    * literal `#` inside a crawled word could make that collide with a
    * continuation form).
    */
  private[ops] def applyMergeWp(
      syms: Array[String], l: String, r: String, token: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += token
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Exact local trainer over the distinct-word histogram: delta-updated
    * pair counts, symbol counts, and pair→word index; per-round argmax is
    * a linear scan with the pinned (score, left, right) order.
    */
  private[ops] def trainLocal(
      words: Seq[(Array[String], Long)],
      numMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    val syms: Array[Array[String]] = words.map(_._1.clone()).toArray
    val freqs: Array[Long] = words.map(_._2).toArray
    val pc = mutable.HashMap.empty[(String, String), Long]
    val sc = mutable.HashMap.empty[String, Long]
    val index = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]

    def addWord(w: Int, sign: Long): Unit = {
      val s = syms(w)
      val f = freqs(w) * sign
      var i = 0
      while (i < s.length) {
        sc.updateWith(s(i)) { v => val n = v.getOrElse(0L) + f; if (n == 0) None else Some(n) }
        if (i + 1 < s.length) {
          val p = (s(i), s(i + 1))
          pc.updateWith(p) { v => val n = v.getOrElse(0L) + f; if (n == 0) None else Some(n) }
          if (sign > 0) index.getOrElseUpdate(p, mutable.HashSet.empty) += w
        }
        i += 1
      }
    }
    var w = 0
    while (w < syms.length) { addWord(w, 1L); w += 1 }

    def score(p: (String, String), n: Long): Double =
      n / (sc(p._1).toDouble * sc(p._2).toDouble)

    val out = Seq.newBuilder[Merge]
    var k = 0
    while (k < numMerges && pc.nonEmpty) {
      var best: (String, String) = null
      var bestN = 0L
      var bestS = Double.NegativeInfinity
      pc.foreach { case (p, n) =>
        val s = score(p, n)
        if (s > bestS ||
            (s == bestS && (Bpe.codePointCompare(p._1, best._1) < 0 ||
              (p._1 == best._1 && Bpe.codePointCompare(p._2, best._2) < 0)))) {
          best = p; bestN = n; bestS = s
        }
      }
      val (l, r) = best
      val token = l + stripCont(r)
      // 1-based rank — the q_bpe_train golden convention
      out += Merge(k + 1, l, r, token, bestN, sc(l), sc(r))
      val affected = index.getOrElse(best, mutable.HashSet.empty).toArray
      java.util.Arrays.sort(affected)
      for (wi <- affected) {
        addWord(wi, -1L)
        syms(wi) = applyMergeWp(syms(wi), l, r, token)
        addWord(wi, 1L)
      }
      // merged-away pairs leave stale index entries; they are harmless
      // (their pc entry is gone or re-added by addWord) — prune the one
      // we just consumed
      index.remove(best)
      k += 1
    }
    out.result()
  }

  /** The one bounded collect: distinct-word histogram under the enforced
    * cap. Word order is immaterial — every fold downstream is commutative
    * (long sums) and the argmax is a strict total order — so no
    * cross-engine sort pinning is needed here.
    */
  private def histogram(
      documents: DataFrame, cap: Long): Array[(Array[String], Long)] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val rows = TextOps.wordFreq(documents)
      .select(col("word"), col("freq"))
      .limit((cap + 1).toInt)
      .as[(String, Long)].collect()
    require(rows.length <= cap,
      s"wordpiece: > $cap distinct words — raise localVocabLimit or " +
        "pre-prune the histogram by min frequency")
    rows.map { case (w, f) => (wordSyms(w), f) }
  }

  /** Distributed histogram → enforced bounded collect → exact local loop.
    * Returns the merge table (integer counts only — oracle-safe).
    */
  def train(
      documents: DataFrame,
      numMerges: Int = 10,
      localVocabLimit: Long = 1000000L): DataFrame = {
    require(numMerges >= 1, s"numMerges must be positive: $numMerges")
    val spark = documents.sparkSession
    import spark.implicits._
    val merges = trainLocal(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        histogram(documents, localVocabLimit)), numMerges)
    merges.map(m => (m.rank, m.left, m.right, m.token,
        m.pairCount, m.leftCount, m.rightCount))
      .toDF("merge_rank", "left", "right", "token",
        "pair_count", "left_count", "right_count")
  }

  /** Model for inference: base vocab (symbols with count ≥ minSymCount in
    * the training histogram) + merge tokens.
    */
  def model(
      documents: DataFrame,
      numMerges: Int = 10,
      minSymCount: Long = 2L,
      localVocabLimit: Long = 1000000L): Model = {
    val words = scala.collection.immutable.ArraySeq.unsafeWrapArray(
      histogram(documents, localVocabLimit))
    val sc = scala.collection.mutable.HashMap.empty[String, Long]
    for ((s, f) <- words; sym <- s) sc.updateWith(sym)(v => Some(v.getOrElse(0L) + f))
    val merges = trainLocal(words, numMerges)
    val base = sc.iterator.filter(_._2 >= minSymCount).map(_._1).toSet
    Model(base ++ merges.map(_.token), merges)
  }

  /** Greedy longest-match-first; whole-word [UNK] on any miss. */
  private[ops] def encodeWord(w: String, m: Model): Seq[String] = {
    val cps = Bpe.codePointSyms(w)
    val out = Seq.newBuilder[String]
    var i = 0
    var first = true
    while (i < cps.length) {
      var j = math.min(cps.length, i + m.maxPieceCps)
      var hit: String = null
      while (hit == null && j > i) {
        val cand0 = cps.slice(i, j).mkString
        val cand = if (first) cand0 else "##" + cand0
        if (m.vocab.contains(cand)) hit = cand else j -= 1
      }
      if (hit == null) return Seq(Unk)
      out += hit
      i = j
      first = false
    }
    out.result()
  }

  /** Per-doc piece counts + unk counts + bounded preview (the tokenizer
    * query shape shared with Unigram.encodeCounts).
    */
  def encodeCounts(documents: DataFrame, m: Model): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val mB = spark.sparkContext.broadcast(m)
    documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull)
      .as[(Long, String)]
      .map { case (id, t) =>
        val mm = mB.value
        val toks =
          if (t == null) Array.empty[String]
          else t.split(" ").filter(_.nonEmpty)
        var n = 0L
        var unk = 0L
        val preview = collection.mutable.ArrayBuffer.empty[String]
        toks.foreach { w =>
          encodeWord(w, mm).foreach { p =>
            if (preview.length < 12) preview += p
            n += 1
            if (p == Unk) unk += 1
          }
        }
        (id, n, unk, preview.mkString("|"))
      }
      .toDF("doc_id", "n_pieces", "n_unk", "piece_preview")
  }
}
