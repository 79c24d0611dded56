package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Unigram-LM tokenizer (the SentencePiece family, after Kudo 2018) —
  * the other production tokenizer next to [[Bpe]]: pieces carry
  * log-probabilities and encoding is the max-likelihood segmentation,
  * rather than a merge-rank replay. Everything is pinned DETERMINISTIC
  * and mirrored clean-room in graftpy ug_* (shared convention, separate
  * implementations):
  *
  *   - words: [[TextOps.wordFreq]]'s whitespace convention; pieces are
  *     CODE-POINT substrings (astral-safe);
  *   - seed vocab: every substring of a distinct word with 1 ≤ cp-length
  *     ≤ `maxPieceLen`, frequency = Σ wordFreq × occurrences
  *     (overlapping); ALL single code points are kept unconditionally,
  *     plus the top (`seedSize` − #cps) multi-cp substrings by
  *     (freq DESC, piece ASC in code-point order);
  *   - hard (Viterbi) EM for `emRounds` rounds: piece scores are
  *     ln(count/total) through the portable log ([[NgramLm.log2Portable]]
  *     × ln 2 — bit-identical cross-engine); the Viterbi DP is pinned
  *     (positions ascending, candidate piece lengths L = 1..maxPieceLen
  *     ascending, STRICT > to win — the shortest L takes ties);
  *     counts are integers (Σ wordFreq over Viterbi paths), so the
  *     E-step is summation-order-independent — the distributed and
  *     local paths agree EXACTLY, not just to float tolerance;
  *   - M-step: multi-cp pieces with zero count drop; single cps always
  *     survive with count floor 1 (the reachability guarantee);
  *   - final vocab: single cps + top (`vocabSize` − #cps) multi-cp by
  *     (count DESC, piece ASC); final scores renormalize over the kept
  *     set;
  *   - encode: the same Viterbi under the final scores; a code point
  *     absent from the vocab passes through as its own piece with the
  *     floor score (identity fallback — never throws, never drops).
  *
  * Scale shape (the Bpe.train dispatch discipline): the distinct-word
  * table is Heaps'-law small; under `localVocabLimit` it collects ONCE
  * and the whole EM runs exactly local — zero per-round jobs (the
  * ORACLE path). Past the cap, each round is ONE distributed job:
  * scores broadcast (≤ seedSize entries), per-word Viterbi map-side,
  * integer piece counts partially aggregated — and because counts are
  * integers the over-cap model is bit-identical to the local one
  * (property-tested), unlike the classifier's float-sum treeAggregate.
  * Encoding is map-side against the broadcast final vocab.
  */
object Unigram {

  final val Ln2 = 0.6931471805599453

  private def lnP(x: Double): Double = NgramLm.log2Portable(x) * Ln2

  private val countDescPieceAsc: Ordering[(String, Long)] =
    new Ordering[(String, Long)] {
      def compare(x: (String, Long), y: (String, Long)): Int = {
        val c = java.lang.Long.compare(y._2, x._2) // count DESC
        if (c != 0) c else Bpe.codePointCompare(x._1, y._1) // piece ASC
      }
    }

  /** All (substring, Σ freq × occurrences) of the word list, by code
    * point, lengths 1..maxPieceLen.
    */
  private[ops] def substringFreqs(
      words: Seq[(String, Long)],
      maxPieceLen: Int): collection.mutable.HashMap[String, Long] = {
    val acc = collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, f) =>
      val sy = Bpe.codePointSyms(w)
      var i = 0
      while (i < sy.length) {
        var l = 1
        val sb = new java.lang.StringBuilder()
        while (l <= maxPieceLen && i + l <= sy.length) {
          sb.append(sy(i + l - 1))
          val key = sb.toString
          acc.update(key, acc.getOrElse(key, 0L) + f)
          l += 1
        }
        i += 1
      }
    }
    acc
  }

  /** Viterbi segmentation of one word under `scores` (pinned DP, see
    * scaladoc). Code points missing from scores take `floorScore`.
    */
  private[ops] def viterbi(
      w: String,
      scores: collection.Map[String, Double],
      maxPieceLen: Int,
      floorScore: Double): IndexedSeq[String] = {
    val sy = Bpe.codePointSyms(w)
    val n = sy.length
    if (n == 0) return IndexedSeq.empty
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val bl = Array.fill(n + 1)(0) // winning piece length at position i
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxPieceLen, i)) {
        val piece = sy.slice(i - l, i).mkString
        val sc: Double =
          scores.get(piece) match {
            case Some(s) => s
            case None => if (l == 1) floorScore else Double.NaN
          }
        if (!sc.isNaN && best(i - l) > Double.NegativeInfinity) {
          val cand = best(i - l) + sc
          if (cand > best(i)) { best(i) = cand; bl(i) = l }
        }
        l += 1
      }
      i += 1
    }
    // reconstruct right-to-left
    val out = List.newBuilder[String]
    val rev = collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) {
      val l = bl(p)
      rev += sy.slice(p - l, p).mkString
      p -= l
    }
    out ++= rev.reverse
    out.result().toIndexedSeq
  }

  final case class Model(
      pieces: IndexedSeq[(String, Long, Double)], // (piece, count, lnprob)
      maxPieceLen: Int) {
    lazy val scores: Map[String, Double] =
      pieces.iterator.map(p => (p._1, p._3)).toMap
    /** Identity-fallback score for unseen single code points: below the
      * worst kept piece by one ln-unit (pinned).
      */
    lazy val floorScore: Double =
      if (pieces.isEmpty) 0.0 else pieces.iterator.map(_._3).min - 1.0
  }

  /** Exact local trainer over a (word, freq) list — the pinned kernel
    * both dispatch paths reduce to.
    */
  private[ops] def trainLocal(
      words: Seq[(String, Long)],
      vocabSize: Int,
      maxPieceLen: Int,
      seedSize: Int,
      emRounds: Int): Model = {
    val sub = substringFreqs(words, maxPieceLen)
    val (cpsAll, multi) = sub.toSeq.partition(kv => Bpe.codePointSyms(kv._1).length == 1)
    val seedMulti = multi.sorted(countDescPieceAsc)
      .take(math.max(0, seedSize - cpsAll.length))
    var counts = collection.mutable.HashMap.empty[String, Long]
    (cpsAll ++ seedMulti).foreach { case (p, f) => counts.update(p, f) }

    def scoresOf(c: collection.Map[String, Long]): Map[String, Double] = {
      val total = c.valuesIterator.sum.toDouble
      c.iterator.map { case (p, n) =>
        (p, lnP(n.toDouble) - lnP(total))
      }.toMap
    }

    var r = 0
    while (r < emRounds) {
      val sc = scoresOf(counts)
      val next = collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (w, f) =>
        viterbi(w, sc, maxPieceLen, Double.NegativeInfinity).foreach { p =>
          next.update(p, next.getOrElse(p, 0L) + f)
        }
      }
      // single cps always survive (floor 1); zero-count multis drop
      counts.keysIterator.foreach { p =>
        if (Bpe.codePointSyms(p).length == 1 && !next.contains(p)) next.update(p, 1L)
      }
      counts = next
      r += 1
    }
    val (cs, ms) = counts.toSeq.partition(kv => Bpe.codePointSyms(kv._1).length == 1)
    val kept = (cs ++ ms.sorted(countDescPieceAsc)
      .take(math.max(0, vocabSize - cs.length)))
      .sorted(countDescPieceAsc)
    val total = kept.iterator.map(_._2).sum.toDouble
    Model(kept.iterator.map { case (p, n) =>
      (p, n, lnP(n.toDouble) - lnP(total))
    }.toIndexedSeq, maxPieceLen)
  }

  private val TrainSchema = StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("piece", StringType, nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("lnprob", DoubleType, nullable = false)))

  /** Train over a corpus (doc_id, text) → one row per kept piece:
    * (rank, piece, count, lnprob), rank in (count DESC, piece ASC)
    * order. Dispatch: a distinct-word table under `localVocabLimit`
    * collects ONCE and trains exactly local (the oracle path); past the
    * cap each EM round is one distributed Viterbi-count job against the
    * broadcast score table — integer counts make the two paths
    * bit-identical (tested).
    */
  def train(
      documents: DataFrame,
      vocabSize: Int = 120,
      maxPieceLen: Int = 6,
      seedSize: Int = 400,
      emRounds: Int = 3,
      localVocabLimit: Long = 1000000L): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val wf = CacheRegistry.register(TextOps.wordFreq(documents)
      .select(col("word"), col("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nWords = wf.count()
    val model: Model =
      if (nWords <= localVocabLimit) {
        val words = wf.as[(String, Long)].collect().toIndexedSeq
        trainLocal(words, vocabSize, maxPieceLen, seedSize, emRounds)
      } else {
        trainDistributed(wf, vocabSize, maxPieceLen, seedSize, emRounds)
      }
    wf.unpersist()
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        model.pieces.zipWithIndex.map { case ((p, n, lp), i) =>
          Row(i + 1, p, n, lp)
        }, 1),
      TrainSchema)
  }

  /** The over-cap path: same arithmetic, one job per stage. The word
    * table never hits the driver; per-round state is the piece-count
    * map (≤ seedSize entries — the broadcast-vocabulary contract, like
    * the LM's).
    */
  private[ops] def trainDistributed(
      wf: DataFrame, // (word, freq), persisted by the caller
      vocabSize: Int,
      maxPieceLen: Int,
      seedSize: Int,
      emRounds: Int): Model = {
    val spark = wf.sparkSession
    import spark.implicits._
    val words = wf.as[(String, Long)]
    // seed: distributed substring explosion → integer sums → top-K by
    // the pinned ordering (single cps kept unconditionally)
    val subs = words.flatMap { case (w, f) =>
      substringFreqs(Seq((w, f)), maxPieceLen).iterator
    }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .map { case (p, n) => (p, n, Bpe.codePointSyms(p).length == 1) }
      .toDF("piece", "freq", "single")
    val singles = subs.filter(col("single"))
      .select(col("piece"), col("freq")).as[(String, Long)].collect()
    val multisTop = subs.filter(!col("single"))
      .select(col("piece"), col("freq")).as[(String, Long)]
      .rdd.takeOrdered(math.max(0, seedSize - singles.length))(
        countDescPieceAsc)
    var counts = collection.mutable.HashMap.empty[String, Long]
    (singles ++ multisTop).foreach { case (p, f) => counts.update(p, f) }

    var r = 0
    while (r < emRounds) {
      val total = counts.valuesIterator.sum.toDouble
      val sc: Map[String, Double] = counts.iterator.map { case (p, n) =>
        (p, lnP(n.toDouble) - lnP(total))
      }.toMap
      val scB = spark.sparkContext.broadcast(sc)
      val mpl = maxPieceLen
      val next = words.flatMap { case (w, f) =>
        viterbi(w, scB.value, mpl, Double.NegativeInfinity)
          .groupBy(identity).iterator.map { case (p, o) =>
            (p, o.size.toLong * f)
          }
      }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map(kv => (kv._1, kv._2)).collect() // ≤ seedSize rows
      scB.destroy()
      val nextM = collection.mutable.HashMap.empty[String, Long]
      next.foreach { case (p, n) => nextM.update(p, n) }
      counts.keysIterator.foreach { p =>
        if (Bpe.codePointSyms(p).length == 1 && !nextM.contains(p)) nextM.update(p, 1L)
      }
      counts = nextM
      r += 1
    }
    val (cs, ms) = counts.toSeq.partition(kv => Bpe.codePointSyms(kv._1).length == 1)
    val kept = (cs ++ ms.sorted(countDescPieceAsc)
      .take(math.max(0, vocabSize - cs.length)))
      .sorted(countDescPieceAsc)
    val total = kept.iterator.map(_._2).sum.toDouble
    Model(kept.iterator.map { case (p, n) =>
      (p, n, lnP(n.toDouble) - lnP(total))
    }.toIndexedSeq, maxPieceLen)
  }

  /** Encode a corpus under a trained piece table (the [[train]] output
    * frame): per doc (doc_id, n_pieces, piece_preview) where the
    * preview is the first 12 pieces '|'-joined. Map-side against the
    * broadcast vocab; null text encodes as zero pieces.
    */
  def encodeCounts(documents: DataFrame, trained: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val pieces = trained.select(col("piece"), col("count"), col("lnprob"))
      .as[(String, Long, Double)].collect()
      .map { case (p, n, lp) => (p, n, lp) }.toIndexedSeq
    val maxLen = pieces.iterator.map(p => Bpe.codePointSyms(p._1).length)
      .foldLeft(1)(math.max)
    val model = Model(pieces, maxLen)
    val mB = spark.sparkContext.broadcast(model)
    documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull)
      .as[(Long, String)]
      .map { case (id, t) =>
        val m = mB.value
        val toks =
          if (t == null) Array.empty[String]
          else t.split(" ").filter(_.nonEmpty)
        val enc = toks.iterator.flatMap(w =>
          viterbi(w, m.scores, m.maxPieceLen, m.floorScore))
        val buf = collection.mutable.ArrayBuffer.empty[String]
        var n = 0
        enc.foreach { p =>
          if (buf.length < 12) buf += p
          n += 1
        }
        (id, n, buf.mkString("|"))
      }
      .toDF("doc_id", "n_pieces", "piece_preview")
  }
}
