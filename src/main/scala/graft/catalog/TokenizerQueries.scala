package graft.catalog

import graft.SparkEntry.{docs, fanOut, trainedUnigramFor, trainedWordpieceFor, trainedMergesFor}
import graft.catalog.Query.GoldenDir
import graft.ops.{CacheRegistry, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Tokenizers, language models and training-data packing: n-gram and
  * Kneser-Ney perplexity, the quality classifier, BPE, WordPiece and
  * Unigram train/encode round trips, sharding and sequence packing.
  */
object TokenizerQueries {

  val all: Seq[Query] = Seq(
    // ---- token-window chunking for embedding corpora (chunk 16, stride
    //      12 — the 4-token overlap and the short final chunk both bind;
    //      zero-token docs emit no chunks) ----
    Query("q_chunk_tokens",
      // the token definition (non-empty space tokens) and the 1-based
      // inclusive list slice are pinned on both engines
      "WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS toks FROM documents), " +
        "c AS (SELECT doc_id, len(toks) AS n, toks, " +
        "unnest(range(0, len(toks), 12)) AS start FROM t WHERE len(toks) > 0) " +
        "SELECT doc_id, CAST(start // 12 AS INTEGER) AS chunk_id, " +
        "array_to_string(toks[start + 1 : start + 16], ' ') AS chunk_text, " +
        "CAST(least(16, n - start) AS INTEGER) AS n_tokens " +
        "FROM c ORDER BY doc_id, chunk_id")((s, dir) =>
      graft.ops.Chunking.chunkByTokens(fanOut(s, docs(s, dir)), chunkSize = 16, stride = 12)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ---- CCNet-style bigram-LM perplexity filter: train on the
    //      known-good slice (doc_id % 7 == 0), score every doc in
    //      bits-per-token, bucket head/middle/tail at pinned thresholds
    //      (corpus tertiles at authoring time). Golden is the clean-room
    //      mirror incl. the pinned portable log2 ----
    Query("q_lm_perplexity") { (s, dir) =>
      val d = docs(s, dir)
      val model = graft.ops.NgramLm.train(d.filter(col("doc_id") % 7 === 0))
      graft.ops.NgramLm.score(d, model, headBelow = 4.97, tailFrom = 5.08)
        .orderBy(col("doc_id"))
    },

    // ---- the same LM FORCED over a small entry cap: min-count pruning
    //      degrades the model (KenLM behavior, VERDICT r5 missing #4)
    //      instead of require-failing; pruned vocab scores as unk ----
    Query("q_lm_pruned") { (s, dir) =>
      val d = docs(s, dir)
      val model = graft.ops.NgramLm.train(d.filter(col("doc_id") % 7 === 0),
        maxModelEntries = 800L)
      graft.ops.NgramLm.score(d, model, headBelow = 4.97, tailFrom = 5.08)
        .orderBy(col("doc_id"))
    },

    // ---- interpolated Kneser-Ney trigram perplexity (the KenLM-shaped
    //      upgrade of the add-one bigram filter: absolute discounting +
    //      continuation-count backoff, every level an exact distribution
    //      over vocab+unk); same %7 train slice, bit-exact golden ----
    Query("q_kn_perplexity") { (s, dir) =>
      val d = docs(s, dir)
      val model = graft.ops.NgramLm.trainKn(d.filter(col("doc_id") % 7 === 0))
      // persisted under the sort: the range partitioner's sampling job
      // would otherwise re-run the scoring kernel
      val scored = CacheRegistry.register(
        graft.ops.NgramLm.scoreKn(fanOut(s, d), model).persist(StorageLevel.MEMORY_AND_DISK))
      scored.orderBy(col("doc_id"))
    },

    // ---- fasttext-style hashed linear quality classifier (stateless
    //      map-only inference; dyadic stand-in weights make the logit
    //      bit-exact cross-engine — golden is the clean-room mirror) ----
    Query("q_classifier_score")((s, dir) =>
      graft.ops.Classifier.score(docs(s, dir)).orderBy(col("doc_id"))),

    // ---- classifier TRAINING (the RefinedWeb/FineWeb pattern: distill a
    //      heuristic label — here lang=='en' — into the hashed linear
    //      model): pinned full-batch logistic regression through the
    //      portable exp; golden retrains independently and compares
    //      per-doc probabilities bit-exactly ----
    Query("q_classifier_train") { (s, dir) =>
      val labeled = docs(s, dir)
        .filter(col("doc_id").isNotNull) // non-nullable tuple encoder
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", 1).otherwise(0).as("y"))
      val m = graft.ops.Classifier.trainLogistic(labeled)
      graft.ops.Classifier.predict(labeled, m).orderBy(col("doc_id"))
    },

    // ---- quality ENSEMBLE (the production gate is never one signal):
    //      classifier logit + LM bits-per-token + alpha ratio combine in
    //      one pinned linear score. Oracle: DuckDB over the committed
    //      classifier/LM goldens joined with an inline alpha-ratio
    //      recompute — three families bound in one row ----
    Query("q_quality_ensemble",
      // three-family composition: committed classifier + LM goldens joined
      // with an inline alpha-ratio recompute; identical left-to-right
      // double arithmetic both engines
      s"""SELECT c.doc_id, c.logit, l.bits_per_token,
         |  CASE WHEN length(d.text) > 0 THEN
         |    CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS
         |      DOUBLE) / length(d.text) ELSE 0.0 END AS alpha_ratio,
         |  c.logit - 0.5 * l.bits_per_token +
         |    2.0 * (CASE WHEN length(d.text) > 0 THEN
         |      CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS
         |        DOUBLE) / length(d.text) ELSE 0.0 END) AS score,
         |  (c.logit - 0.5 * l.bits_per_token +
         |    2.0 * (CASE WHEN length(d.text) > 0 THEN
         |      CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS
         |        DOUBLE) / length(d.text) ELSE 0.0 END)) > -2.0 AS keep
         |FROM '$GoldenDir/q_classifier_score.parquet' c
         |JOIN '$GoldenDir/q_lm_perplexity.parquet' l
         |  ON c.doc_id = l.doc_id
         |JOIN documents d ON c.doc_id = d.doc_id"""
        .stripMargin.replace("\n", " ")) { (s, dir) =>
      val d = docs(s, dir)
      val cls = graft.ops.Classifier.score(d)
        .select(col("doc_id"), col("logit"))
      val model = graft.ops.NgramLm.train(d.filter(col("doc_id") % 7 === 0))
      val lm = graft.ops.NgramLm.score(d, model,
        headBelow = 4.97, tailFrom = 5.08)
        .select(col("doc_id"), col("bits_per_token"))
      val alpha = TextOps.qualityScores(d)
        .select(col("doc_id"), col("alpha_ratio"))
      cls.join(lm, Seq("doc_id")).join(alpha, Seq("doc_id"))
        .withColumn("score",
          col("logit") - lit(0.5) * col("bits_per_token") +
            lit(2.0) * col("alpha_ratio"))
        .withColumn("keep", col("score") > lit(-2.0))
        .select(col("doc_id"), col("logit"), col("bits_per_token"),
          col("alpha_ratio"), col("score"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // ---- top-K vocabulary (tokenizer-training / index-config input):
    //      K=20 binds under the corpus's 31-token vocabulary ----
    Query("q_vocab",
      // ---- top-K vocab: same count + rank in DuckDB ----
      """WITH tk AS (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
         |  FROM documents),
         |c AS (SELECT tok, count(*) AS freq FROM tk GROUP BY tok
         |      ORDER BY freq DESC, tok LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok) AS INTEGER) AS rank,
         |       tok, CAST(freq AS BIGINT) AS freq
         |FROM c ORDER BY rank""".stripMargin.replace("\n", " "))((s, dir) => TextOps.topKVocab(docs(s, dir), 20)),

    // ---- token counting (built-ins only) ----
    Query("q_token_count",
      "SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens, " +
        "len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r'']+|[ \\t\\n\\x0B\\f\\r]+')) AS n_bpe_tokens, " +
        "length(text) AS n_chars_actual, n_chars FROM documents")((s, dir) =>
      TextOps.tokenCounts(docs(s, dir))),

    // ---- BPE first-merge pair counts (tokenizer-training input): K=30
    //      binds under the corpus's pair inventory ----
    Query("q_bpe_pairs",
      // ---- BPE pair counts: same two-stage word-freq -> pair-explode in
      //      DuckDB (list_transform + generate_series mirrors Spark's
      //      transform + sequence; both substr forms are 1-based) ----
      """WITH w AS (
         |  SELECT word, count(*) AS freq FROM (
         |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
         |    FROM documents) GROUP BY word),
         |pr AS (
         |  SELECT unnest(list_transform(generate_series(1, length(word) - 1),
         |           i -> substr(word, CAST(i AS INTEGER), 2))) AS pair, freq
         |  FROM w WHERE length(word) >= 2),
         |c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM pr GROUP BY pair
         |      ORDER BY pair_count DESC, pair LIMIT 30)
         |SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS INTEGER) AS rank,
         |       pair, pair_count
         |FROM c ORDER BY rank""".stripMargin.replace("\n", " "))((s, dir) =>
      TextOps.bpePairCounts(docs(s, dir), k = 30)),

    // ---- iterated BPE training (10 merges): one partial-combining
    //      shuffle + a TakeOrdered(1) argmax per round, state
    //      checkpointed per round (the graph loops' lineage
    //      discipline); golden mirrors the whole loop ----
    Query("q_bpe_train")((s, dir) =>
      graft.ops.Bpe.train(docs(s, dir), numMerges = 10)
        .orderBy(col("merge_rank"))),

    // ---- BPE encode with the trained merges (train -> encode round
    //      trip): per-doc piece counts; the golden computes them from its
    //      OWN independently trained merge list ----
    Query("q_bpe_encode")((s, dir) =>
      graft.ops.Bpe.encodeCounts(docs(s, dir), trainedMergesFor(s, dir))
        .orderBy(col("doc_id"))),

    // ---- WordPiece training (the BERT family, completing the tokenizer
    //      triple): likelihood-gain merges over the distributed word
    //      histogram, exact local loop under the enforced cap; integer
    //      count columns keep the golden float-free ----
    Query("q_wordpiece_train")((s, dir) =>
      graft.ops.Wordpiece.train(docs(s, dir), numMerges = 10)
        .orderBy(col("merge_rank"))),

    // ---- WordPiece encode (train → encode round trip): greedy
    //      longest-match with ## continuations, whole-word [UNK] on any
    //      miss (minSymCount=2 makes hapax code points bind it) ----
    Query("q_wordpiece_encode")((s, dir) =>
      graft.ops.Wordpiece.encodeCounts(fanOut(s, docs(s, dir)),
        trainedWordpieceFor(s, dir))
        .orderBy(col("doc_id"))),

    // ---- Unigram-LM tokenizer training (the SentencePiece family next
    //      to BPE): code-point substring seed → hard-EM Viterbi rounds →
    //      pruned vocab with portable-ln scores; the Bpe.train dispatch
    //      discipline (exact local under the word cap, one distributed
    //      job per stage past it — integer counts make both paths
    //      bit-identical) ----
    Query("q_unigram_train")((s, dir) =>
      graft.ops.Unigram.train(docs(s, dir))
        .orderBy(col("rank"))),

    // ---- Unigram encode (train → encode round trip): max-likelihood
    //      Viterbi segmentation per word against the broadcast vocab,
    //      identity fallback for unseen code points ----
    Query("q_unigram_encode") { (s, dir) =>
      // persisted under the sort, as in q_kn_perplexity
      val encoded = CacheRegistry.register(
        graft.ops.Unigram.encodeCounts(fanOut(s, docs(s, dir)), trainedUnigramFor(s, dir))
          .persist(StorageLevel.MEMORY_AND_DISK))
      encoded.orderBy(col("doc_id"))
    },

    // ---- tokenizer-aware packing pipeline (composition row): train BPE
    //      -> encode the corpus -> chunk-index by PIECES (not whitespace
    //      tokens) through the forced scaled prefix sum; the golden
    //      mirrors all three stages independently ----
    Query("q_tokenizer_pipeline")((s, dir) =>
      TextOps.packIndexFromCounts(
          graft.ops.Bpe.encodeCounts(docs(s, dir), trainedMergesFor(s, dir)),
          contextLen = 256, forceScaled = true, nCol = "n_pieces")
        .orderBy(col("doc_id"))),

    // ---- deterministic training-shard assignment: md5-keyed shard +
    //      within-shard position, reproducible byte-for-byte by any md5
    //      implementation. nShards=256 (8-nibble fold) FORCED through the
    //      bucketed two-pass position path — the scaled plan is what the
    //      oracle checks, and no stage's parallelism is bounded by the
    //      shard count (VERDICT r4 #2) ----
    Query("q_shard",
      // ---- shard assignment: md5 hex is identical across engines; the
      //      8-nibble fold (ascii arithmetic — the one hex-parse both engines
      //      spell identically) and a plain shard-partitioned row_number
      //      replay the Spark side's FORCED bucketed two-pass positions ----
      """WITH k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m
         |  FROM documents WHERE doc_id IS NOT NULL),
         |s AS (SELECT doc_id, m,
         |    CAST(CAST(list_sum(list_transform(generate_series(1, 8),
         |      i -> (CASE WHEN ascii(substr(m, CAST(i AS INTEGER), 1)) <= 57
         |                 THEN ascii(substr(m, CAST(i AS INTEGER), 1)) - 48
         |                 ELSE ascii(substr(m, CAST(i AS INTEGER), 1)) - 87 END)
         |           * (CAST(1 AS BIGINT) << (4 * (8 - CAST(i AS INTEGER)))))) AS BIGINT)
         |      % 256 AS INTEGER) AS shard
         |  FROM k)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY m, doc_id) AS BIGINT) AS shard_pos
         |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " "))((s, dir) =>
      graft.ops.Sampling.shardAssign(docs(s, dir).select(col("doc_id")), 256,
          forceScaled = true)
        .orderBy(col("doc_id"))),

    // ---- training-chunk index (concatenate-then-cut context windows):
    //      FORCED through the bucketed two-pass prefix sum (the scaled
    //      path is oracle-checked, like q_folio_text_scaled) ----
    Query("q_pack_index",
      // ---- pack index: plain single-window prefix sum in DuckDB (the
      //      Spark side runs the FORCED bucketed two-pass form — agreement
      //      is the point); integer division/modulo keep it exact ----
      """WITH t AS (SELECT doc_id,
         |    CAST(coalesce(len(list_filter(string_split(text, ' '), x -> x <> '')), 0) AS BIGINT) AS n_tokens
         |  FROM documents WHERE doc_id IS NOT NULL),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, n_tokens, cum - n_tokens AS global_start,
         |  CASE WHEN n_tokens > 0 THEN (cum - n_tokens) // 128 END AS chunk_first,
         |  CASE WHEN n_tokens > 0 THEN (cum - 1) // 128 END AS chunk_last,
         |  (cum - n_tokens) % 128 AS chunk_offset
         |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "))((s, dir) =>
      TextOps.packIndex(docs(s, dir), contextLen = 128, forceScaled = true)
        .orderBy(col("doc_id"))),

    // ---- chunk-major manifest (the loader-facing pivot of the pack
    //      index): one row per context chunk with its contributor list ----
    Query("q_pack_chunks",
      // ---- chunk manifest: same cumsum/interval arithmetic, exploded with
      //      generate_series (inclusive on both ends, like Spark sequence);
      //      doc lists sort numerically THEN stringify on both sides ----
      """WITH t AS (SELECT doc_id,
         |    CAST(coalesce(len(list_filter(string_split(text, ' '), x -> x <> '')), 0) AS BIGINT) AS n_tokens
         |  FROM documents WHERE doc_id IS NOT NULL),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t),
         |e AS (SELECT doc_id,
         |    unnest(generate_series((cum - n_tokens) // 128, (cum - 1) // 128)) AS chunk_id
         |  FROM c WHERE n_tokens > 0)
         |SELECT chunk_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  array_to_string(list_transform(list_sort(list(doc_id)), x -> CAST(x AS VARCHAR)), ' ') AS docs
         |FROM e GROUP BY chunk_id ORDER BY chunk_id""".stripMargin.replace("\n", " "))((s, dir) =>
      TextOps.packChunks(docs(s, dir), contextLen = 128)
        .orderBy(col("chunk_id"))),

    // ---- greedy sequence packing (first-fit-decreasing within md5
    //      metadata buckets; capacity 64 BINDS on this corpus — long docs
    //      come out bin = -1, the split-or-drop contract) ----
    Query("q_pack_greedy")((s, dir) =>
      graft.ops.Packing.greedyPack(docs(s, dir), capacity = 64, nBuckets = 8)
        .orderBy(col("doc_id"))),

    // ---- DSIR importance resampling (hashed unigram+bigram log-ratio
    //      vs the en target slice, Gumbel-top-k with pinned
    //      pseudo-randomness): ONE bounded bucket aggregate + map-side
    //      scoring + TakeOrderedAndProject top-k ----
    Query("q_dsir")((s, dir) =>
      graft.ops.Dsir.select(docs(s, dir), col("lang") === "en", k = 100)
        .orderBy(col("doc_id"))),

    // ---- per-shard distribution drift (KL vs corpus over the hashed
    //      feature buckets): the sharded-corpus quality monitor; one
    //      (shard, bucket) aggregate, enforced shard cap, driver KL
    //      folds over the bounded count table ----
    Query("q_shard_drift")((s, dir) =>
      graft.ops.Dsir.divergence(docs(s, dir), col("source"))
        .orderBy(col("shard")))
  )
}
