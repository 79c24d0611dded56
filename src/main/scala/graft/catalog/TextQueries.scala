package graft.catalog

import graft.SparkEntry.{docs, fanOut, scratchDir, drainStream}
import graft.catalog.Query.golden
import graft.ops.TextOps
import graft.pipeline.Functions
import org.apache.spark.sql.functions._

/** Per-document text operations: cleaning, sentence segmentation,
  * language and script ID, PII redaction, repetition and C4 line filters,
  * the phrase blocklist and its stream, quality signals and term stats.
  */
object TextQueries {

  /** Sentence-casing fixture convention for q_sentences (mirrored in
    * graftpy.py sent_fixture — the corpus text is flat lowercase, so the
    * splitter needs sentence shape synthesized): tokens are grouped into
    * sentences of 4 + mix(id*97 + j) % 9 tokens, each capitalized and
    * terminated cycling ". " / "! " / "? " / ". "; every 4th sentence
    * embeds "Dr. <Cap>" (abbreviation guard), every 7th "J. <Cap>"
    * (initial guard), every 5th a mid-sentence "3.14" (decimal
    * non-boundary).
    */
  private def sentenceizeText(id: Long, t: String): String = {
    if (t == null) return null
    val toks = t.split(" ").filter(_.nonEmpty)
    if (toks.isEmpty) return ""
    def capFirst(w: String): String =
      if (w.nonEmpty && w.charAt(0) >= 'a' && w.charAt(0) <= 'z')
        ((w.charAt(0) - 32).toChar +: w.tail.toSeq).mkString
      else w
    val terms = Array(". ", "! ", "? ", ". ")
    val sb = new StringBuilder(t.length + 64)
    var i = 0
    var j = 0
    while (i < toks.length) {
      val len = (4 + java.lang.Math.floorMod(
        graft.ops.TextOps.mix(id * 97L + j), 9L)).toInt
      val sent = scala.collection.mutable.ArrayBuffer.empty[String]
      var c = 0
      while (c < len && i < toks.length) { sent += toks(i); i += 1; c += 1 }
      sent(0) = capFirst(sent(0))
      if (j % 4 == 1 && sent.length >= 2) {
        sent.insert(1, "Dr."); sent(2) = capFirst(sent(2))
      } else if (j % 7 == 2 && sent.length >= 2) {
        sent.insert(1, "J."); sent(2) = capFirst(sent(2))
      } else if (j % 5 == 3 && sent.length >= 2) {
        sent.insert(1, "3.14")
      }
      sb ++= sent.mkString(" ")
      sb ++= (if (i >= toks.length) terms(j % 4).trim else terms(j % 4))
      j += 1
    }
    sb.toString
  }

  /** q_blocklist's phrase fixture (mirrored literally in graftpy
    * BL_PHRASES): 1/2/3-token phrases over the corpus vocabulary, an
    * uppercase form binding the ASCII fold, and a never-matching tail.
    */
  private val BlocklistPhrases: Seq[String] = Seq(
    "slow", "big data", "hash join", "sort merge group",
    "SPARK", "never matches anything")

  /** Deterministic line/paragraph structure for the repetition fixture: the
    * synthetic corpus has no newlines, so reflow each doc into 6-token
    * lines and 3-line paragraphs, then PLANT duplicates (every 4th line
    * repeats its predecessor, every 5th paragraph repeats its predecessor)
    * so `dup_line_char_frac` / `dup_para_char_frac` have non-vacuous values
    * the oracle can disagree with. Mirrored token-for-token in
    * gen_kernel_goldens.py.
    */
  private[graft] def reflowForRepetition(text: String): String = {
    if (text == null) return ""
    val toks = text.split(" ").filter(_.nonEmpty)
    val lines0 = toks.grouped(6).map(_.mkString(" ")).toArray
    val lines = lines0.zipWithIndex.map { case (l, i) =>
      if (i % 4 == 3) lines0(i - 1) else l
    }
    val paras0 = lines.grouped(3).map(_.mkString("\n")).toArray
    val paras = paras0.zipWithIndex.map { case (p, i) =>
      if (i % 5 == 4) paras0(i - 1) else p
    }
    paras.mkString("\n\n")
  }

  /** Deterministic script transliteration for the script-mix fixture:
    * the synthetic corpus is ASCII-only, so every third token (by
    * (tokenIdx + docId) % 3) of a non-en doc transliterates its ASCII
    * letters into the lang's script block — zh→Han, es→Cyrillic,
    * de→Greek (25-letter block), fr→Arabic; en unchanged. Mirrored
    * token-for-token in graftpy.py `sc_text`.
    */
  private[graft] def scriptText(docId: Long, lang: String, text: String): String = {
    val (base, span) = lang match {
      case "zh" => (0x4E00, 26)
      case "es" => (0x0430, 26)
      case "de" => (0x03B1, 25)
      case "fr" => (0x0627, 26)
      case _ => (0, 0)
    }
    val t = Option(text).getOrElse("")
    if (base == 0) return t
    val toks = t.split(" ")
    val out = new Array[String](toks.length)
    var ti = 0
    while (ti < toks.length) {
      out(ti) =
        if ((ti + docId) % 3 == 0) {
          val sb = new java.lang.StringBuilder(toks(ti).length)
          toks(ti).foreach { ch =>
            val lc = if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch
            if (lc >= 'a' && lc <= 'z')
              sb.appendCodePoint(base + (lc - 'a') % span)
            else sb.append(ch)
          }
          sb.toString
        } else toks(ti)
      ti += 1
    }
    out.mkString(" ")
  }

  val all: Seq[Query] = Seq(
    // ---- O8 clean (SQL-expressible, oracle-checked) ----
    Query("q_clean",
      "SELECT doc_id, lower(regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[^\\s\\w|]', '', 'g'), ' \\| ', ' ', 'g'), ' +', ' ', 'g')) AS cleaned FROM documents")((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        lower(regexp_replace(regexp_replace(regexp_replace(col("text"),
          "[^\\s\\w|]", ""), " \\| ", " "), " +", " ")).as("cleaned"))),

    // ---- sentence segmentation (punkt-lite) over the sentence-cased
    //      fixture (shared convention; splitter mirrored clean-room) ----
    Query("q_sentences") { (s, dir) =>
      import s.implicits._
      val cased = docs(s, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id").isNotNull) // non-nullable tuple encoder
        .as[(Long, String)]
        .map { case (id, t) => (id, sentenceizeText(id, t)) }
        .toDF("doc_id", "text")
      graft.ops.Sentences.sentences(cased).orderBy(col("doc_id"), col("sent_id"))
    },

    // ---- mixed-language detection: sentence segmentation × per-sentence
    //      language-ID → per-doc plurality language + purity fraction
    //      (the "drop mixed-language docs" cleaning gate). Pure kernel
    //      composition on public contracts — splitSentences over the
    //      q_sentences casing fixture, langIdOf per sentence — mirrored
    //      end-to-end in the golden ----
    Query("q_sent_langid") { (s, dir) =>
      import s.implicits._
      fanOut(s, docs(s, dir).select(col("doc_id"), col("text")))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String)]
        .map { case (id, t) =>
          val sents =
            graft.ops.Sentences.splitSentences(sentenceizeText(id, t))
          val langs = sents.map(graft.ops.TextOps.langIdOf)
          val n = langs.length
          if (n == 0) (id, 0, "und", 0.0, 0)
          else {
            val counts = langs.groupBy(identity).view.mapValues(_.size).toMap
            // plurality, lexicographic tie-break (pinned)
            val (main, c) = counts.toSeq.sortBy { case (l, k) => (-k, l) }.head
            (id, n, main, c.toDouble / n.toDouble, counts.size)
          }
        }.toDF("doc_id", "n_sents", "main_lang", "main_frac", "n_langs")
        .orderBy(col("doc_id"))
    },

    // ---- language-ID heuristic (kernel UDF; accuracy asserted in tests) ----
    Query("q_langid") { (s, dir) =>
      Functions.register(s)
      docs(s, dir).select(col("doc_id"), col("lang"),
        expr("lang_id(text)").as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("predicted"))
    },

    // ---- script-mix detection (language-ID's script gate): pinned
    //      Unicode-range counting over the transliterated fixture;
    //      map-only per-row kernel ----
    Query("q_script_mix") { (s, dir) =>
      import s.implicits._
      val transformed = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .filter(col("doc_id").isNotNull)
        .as[(Long, String, String)]
        .map { case (id, lang, t) => (id, scriptText(id, lang, t)) }
        .toDF("doc_id", "text")
      graft.ops.Scripts.detect(transformed).orderBy(col("doc_id"))
    },

    // ---- PII redaction (emails/phones → type tokens) over a corpus with
    //      deterministically planted PII in every 7th document, rotating
    //      through the three covered phone formats (+CC-separated, NANP
    //      bare, parenthesized area code); pure chained regexp_replace
    //      (codegen, no UDF) ----
    Query("q_redact",
      """SELECT doc_id,
         |  regexp_replace(regexp_replace(
         |    CASE WHEN doc_id % 7 = 0
         |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com call ' ||
         |              (CASE WHEN doc_id % 3 = 0 THEN '+1-555-123-4567'
         |                    WHEN doc_id % 3 = 1 THEN '555-123-4567'
         |                    ELSE '(555) 123-4567' END) || ' now'
         |         ELSE text END,
         |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         |    '(?:\+?[0-9]{1,2}[- ])?(?:\([0-9]{3}\) ?|[0-9]{3}[- ])[0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g') AS redacted
         |FROM documents""".stripMargin.replace("\n", " "))((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.redactPii(
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"), lit("@example.com call "),
              when(col("doc_id") % 3 === 0, lit("+1-555-123-4567"))
                .when(col("doc_id") % 3 === 1, lit("555-123-4567"))
                .otherwise(lit("(555) 123-4567")),
              lit(" now")))
            .otherwise(col("text"))).as("redacted"))),

    // ---- wide-recall PII redaction (opt-in): international variable
    //      grouping and boundary-guarded unseparated 10-digit runs redact;
    //      long numeric ids survive; the conservative default formats keep
    //      redacting. Every 5th doc plants a rotating wide-mode format ----
    Query("q_redact_wide",
      """SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    CASE WHEN doc_id % 5 = 0
         |         THEN text || ' ring ' ||
         |              (CASE WHEN doc_id % 4 = 0 THEN '+44 20 7946 0958'
         |                    WHEN doc_id % 4 = 1 THEN '+49 30 901820'
         |                    WHEN doc_id % 4 = 2 THEN '5551234567'
         |                    ELSE 'id 20240506112233 or 555-123-4567' END) || ' soon'
         |         ELSE text END,
         |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         |    '(?:\+?[0-9]{1,2}[- ])?(?:\([0-9]{3}\) ?|[0-9]{3}[- ])[0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g'),
         |    '\+[0-9]{1,3}(?:[- ][0-9]{2,4}){1,3}[- ][0-9]{2,6}', '<PHONE>', 'g'),
         |    '(^|[^0-9])([0-9]{10})($|[^0-9])', '\1<PHONE>\3', 'g') AS redacted
         |FROM documents""".stripMargin.replace("\n", " "))((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.redactPii(
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" ring "),
              when(col("doc_id") % 4 === 0, lit("+44 20 7946 0958"))
                .when(col("doc_id") % 4 === 1, lit("+49 30 901820"))
                .when(col("doc_id") % 4 === 2, lit("5551234567"))
                .otherwise(lit("id 20240506112233 or 555-123-4567")),
              lit(" soon")))
            .otherwise(col("text")),
          wide = true).as("redacted"))),

    // ---- Gopher-style repetition signals (top n-gram char fractions +
    //      dup-line/dup-paragraph char fractions) over the deterministically
    //      reflowed corpus (the raw synthetic docs have no line structure) ----
    Query("q_repetition") { (s, dir) =>
      val reflow = udf(reflowForRepetition _)
      TextOps.repetitionScores(
        docs(s, dir).select(col("doc_id"), reflow(col("text")).as("text")))
    },

    // ---- C4 line-level cleaning over deterministically line-structured
    //      text: ' the ' → ' the. ' plants terminal punctuation (literal
    //      non-overlapping replace, identical in both engines), a portable
    //      regex cuts 6-word lines; rule = ends in [.!?] AND ≥3 words.
    //      Both rules bind: mid-doc lines fail on punctuation, the final
    //      short line fails on word count ----
    Query("q_c4_filter",
      // ---- C4 line filter: the same punctuation-plant + 6-word chunking +
      //      keep-rule replayed with DuckDB lambdas; array_to_string of an
      //      empty list is NULL in DuckDB ('' in Spark) → coalesce ----
      """WITH p AS (SELECT doc_id,
         |    regexp_replace(regexp_replace(text, ' the ', ' the. ', 'g'),
         |      '((?:[^ ]+ ){5}[^ ]+) ', '\1' || chr(10), 'g') AS t
         |  FROM documents),
         |k AS (SELECT doc_id, string_split(t, chr(10)) AS ls,
         |    list_filter(string_split(t, chr(10)),
         |      l -> regexp_matches(l, '[.!?]$') AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3) AS kept
         |  FROM p)
         |SELECT k.doc_id,
         |  CASE WHEN p.t IS NULL THEN NULL
         |       ELSE coalesce(array_to_string(kept, chr(10)), '') END AS clean_text,
         |  CAST(len(ls) AS INTEGER) AS n_lines,
         |  CAST(len(kept) AS INTEGER) AS n_kept_lines
         |FROM k JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val structured = regexp_replace(
        regexp_replace(col("text"), " the ", " the. "),
        "((?:[^ ]+ ){5}[^ ]+) ", "$1\n")
      TextOps.c4LineFilter(
          docs(s, dir).select(col("doc_id"), structured.as("text")),
          minWords = 3)
        .orderBy(col("doc_id"))
    },

    // ---- phrase-blocklist gate (the bad-words stage of C4-style
    //      curation): token-boundary contiguous-subsequence hits against
    //      a broadcast per-length phrase table — no explode, no shuffle.
    //      The phrase list binds 1/2/3-token phrases, case folding
    //      ("SPARK" hits 'spark'), and a never-matching phrase ----
    Query("q_blocklist")((s, dir) =>
      graft.ops.Blocklist.matchCounts(docs(s, dir),
        BlocklistPhrases, maxMatches = 2)
        .orderBy(col("doc_id"))),

    // ---- the same blocklist gate as an always-on stream: SAME kernel
    //      per micro-batch (shared code, anti-drift — the oracle row IS
    //      the batch golden); stateless map-only, phrase table
    //      broadcast ----
    // SHARED golden (anti-drift): the stream must equal the batch gate
    Query("q_blocklist_stream", golden("q_blocklist")) { (s, dir) =>
      val tmp = scratchDir(s, "blocklist_stream")
      docs(s, dir).select(col("doc_id"), col("text"))
        .write.parquet(s"$tmp/docs")
      drainStream(s, tmp)(
        graft.streaming.StreamingJobs.blocklistStream(
          s, s"$tmp/docs", BlocklistPhrases, maxMatches = 2))
        .orderBy(col("doc_id"))
    },

    // ---- quality scoring (integer-exact + single divisions) ----
    Query("q_quality",
      """WITH base AS (
         |  SELECT doc_id,
         |    length(text) AS n_chars_actual,
         |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         |    len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_distinct_tokens,
         |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
         |    length(text) - length(replace(text, ' ', '')) AS n_spaces
         |  FROM documents)
         |SELECT doc_id, n_chars_actual, n_tokens, n_distinct_tokens, n_alpha, n_spaces,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_chars_actual - n_spaces AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN n_chars_actual > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars_actual ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_distinct_tokens AS DOUBLE) / n_tokens ELSE 0.0 END AS type_token_ratio
         |FROM base""".stripMargin.replace("\n", " "))((s, dir) =>
      TextOps.qualityScores(docs(s, dir))),

    // ---- quality-filter VERDICT (C4/Gopher rule engine): keep/drop + the
    //      first failing rule, over a corpus with planted degenerate docs
    //      (truncated, spam-repetitive, digit-heavy) so every rule binds ----
    Query("q_quality_filter",
      // ---- quality verdict: the same score formulas as q_quality plus the
      //      pinned rule chain, over the same planted mutations ----
      """WITH m AS (SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 0 THEN array_to_string(string_split(text, ' ')[1:5], ' ')
         |         WHEN doc_id % 9 = 0 THEN trim(repeat('spam ', 40))
         |         WHEN doc_id % 7 = 0 THEN text || ' ' || trim(repeat('0123456789 ', 10))
         |         ELSE text END AS text
         |  FROM documents),
         |base AS (SELECT doc_id,
         |    length(text) AS n_chars_actual,
         |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         |    len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_distinct_tokens,
         |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
         |    length(text) - length(replace(text, ' ', '')) AS n_spaces
         |  FROM m),
         |sc AS (SELECT doc_id, n_tokens,
         |    CASE WHEN n_tokens > 0 THEN CAST(n_chars_actual - n_spaces AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len,
         |    CASE WHEN n_chars_actual > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars_actual ELSE 0.0 END AS alpha_ratio,
         |    CASE WHEN n_tokens > 0 THEN CAST(n_distinct_tokens AS DOUBLE) / n_tokens ELSE 0.0 END AS type_token_ratio
         |  FROM base),
         |v AS (SELECT doc_id,
         |    CASE WHEN n_tokens < 20 THEN 'too_few_tokens'
         |         WHEN n_tokens > 100000 THEN 'too_many_tokens'
         |         WHEN mean_token_len < 2.0 OR mean_token_len > 12.0 THEN 'mean_token_len'
         |         WHEN type_token_ratio < 0.2 THEN 'repetitive'
         |         WHEN alpha_ratio < 0.6 THEN 'low_alpha'
         |         ELSE NULL END AS fail_reason
         |  FROM sc)
         |SELECT doc_id, fail_reason, fail_reason IS NULL AS keep
         |FROM v ORDER BY doc_id""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val mutated = when(col("doc_id") % 13 === 0,
          array_join(slice(split(col("text"), " "), 1, 5), " "))
        .when(col("doc_id") % 9 === 0, trim(repeat(lit("spam "), 40)))
        .when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" "), trim(repeat(lit("0123456789 "), 10))))
        .otherwise(col("text"))
      TextOps.qualityFilterVerdict(
          docs(s, dir).select(col("doc_id"), mutated.as("text")))
        .orderBy(col("doc_id"))
    },

    // ---- compression-ratio quality signal (deflate level 6, raw stream;
    //      boilerplate compresses far below prose) ----
    Query("q_compress_ratio")((s, dir) =>
      TextOps.compressionRatios(docs(s, dir)).orderBy(col("doc_id"))),

    // ---- token-rarity scoring (the perplexity-filter role, frequency-
    //      based and exact): per-doc summed corpus token frequency ----
    Query("q_token_rarity",
      // ---- token rarity: same explode/count/join/sum in DuckDB; integer
      //      sums make the compare exact, the mean is one division ----
      """WITH tk AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
         |  FROM documents),
         |c AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok)
         |SELECT doc_id,
         |  count(*) AS n_tokens,
         |  CAST(sum(cnt) AS BIGINT) AS sum_freq,
         |  CAST(sum(cnt) AS DOUBLE) / count(*) AS mean_freq
         |FROM tk JOIN c USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "))((s, dir) =>
      TextOps.tokenRarityScores(docs(s, dir)).orderBy(col("doc_id"))),

    // ---- inverted-index build with document-frequency capping (the
    //      stopword hot-key guard: count-first, posting lists only under
    //      the cap; cap chosen to BIND at the oracle SF) ----
    Query("q_inverted_index",
      """WITH pairs AS (
         |  SELECT DISTINCT doc_id, t.term
         |  FROM documents, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(term)),
         |dfreq AS (SELECT term, count(*) AS df FROM pairs GROUP BY term),
         |posts AS (SELECT term, array_to_string(list_sort(list(doc_id)), ' ') AS postings
         |          FROM pairs GROUP BY term)
         |SELECT d.term, d.df, CASE WHEN d.df <= 400 THEN p.postings END AS postings
         |FROM dfreq d LEFT JOIN posts p ON d.term = p.term""".stripMargin.replace("\n", " "))((s, dir) =>
      TextOps.invertedIndex(docs(s, dir), maxPostings = 400)),

    // ---- per-doc distinctive terms (tf-idf-shaped, integer-exact rank:
    //      tf desc, df asc, term asc) ----
    Query("q_top_terms",
      "WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), " +
        "x -> x <> '')) AS term FROM documents WHERE doc_id IS NOT NULL), " +
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2), " +
        "df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, row_number() OVER " +
        "(PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk " +
        "FROM tf JOIN df USING (term)) " +
        "SELECT doc_id, term, tf, df, CAST(rnk AS INTEGER) AS rnk FROM r " +
        "WHERE rnk <= 5 ORDER BY doc_id, rnk")((s, dir) =>
      graft.ops.Terms.topTermsPerDoc(fanOut(s, docs(s, dir)), k = 5)
        .orderBy(col("doc_id"), col("rnk")))
  )
}
