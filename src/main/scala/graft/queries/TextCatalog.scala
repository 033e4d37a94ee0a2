package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.text.{Dedup, TextFunctions}

import graft.QueryDsl._

/** Catalog family, text sub-family: tokenization, normalization,
  * quality signals and filters, language ID, retrieval and keyword
  * scoring, and text classification. COVERAGE.md text-processing rows.
  * Registered in [[graft.Queries]]. */
private[graft] object TextCatalog {

  /** Token counting over documents (text analysis). */
  val q24_tokens = Q(
    "q24_tokens",
    (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
          col("doc_id").cast("long").as("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
            CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
            CAST(n_chars AS BIGINT) AS n_chars
            FROM documents ORDER BY doc_id"""))

  /** Quality-score features: stopword ratio (text analysis). */
  val q25_quality = Q(
    "q25_quality",
    (s, dir) => {
      val d = t(s, dir, "documents")
      d.withColumn("toks", TextFunctions.tokens(lower(col("text"))))
        .select(
          col("doc_id").cast("long").as("doc_id"),
          round(TextFunctions.stopwordRatioFromTokens(col("toks")), 4).as("stopword_ratio"))
        .orderBy("doc_id")
    },
    Some {
      val words = TextFunctions.englishStopwords.map(w => s"'$w'").mkString(", ")
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
          ROUND(CASE WHEN len(toks) = 0 THEN 0.0
            ELSE CAST(len(list_filter(toks, t -> list_contains([$words], t))) AS DOUBLE) / len(toks) END, 4) AS stopword_ratio
          FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> len(x) > 0) AS toks
                FROM documents) ORDER BY doc_id"""
    })

  /** Language-ID heuristic: stopword-profile argmax (rows-only check — the
    * fold-based argmax is replicated in SQL generated from the same
    * profiles). */
  val q30_lang = Q(
    "q30_lang",
    (s, dir) => {
      val d = t(s, dir, "documents")
      d.withColumn("toks", array_distinct(TextFunctions.tokens(lower(col("text")))))
        .select(TextFunctions.languageIdFromTokens(col("toks")).as("lang_pred"))
        .groupBy("lang_pred")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("lang_pred")
    },
    Some(
      s"""SELECT $langArgmaxSql AS lang_pred, CAST(COUNT(*) AS BIGINT) AS n FROM (
          SELECT ${langScoresSql("toks")} FROM (
            SELECT list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> len(x) > 0)) AS toks
            FROM documents))
          GROUP BY 1 ORDER BY 1"""))

  /** Quality features: punctuation ratio + mean word length (text analysis). */
  val q40_quality_features = Q(
    "q40_quality_features",
    (s, dir) => {
      val d = t(s, dir, "documents")
      d.withColumn("toks", TextFunctions.tokens(col("text")))
        .select(
          col("doc_id").cast("long").as("doc_id"),
          round(TextFunctions.punctuationRatio(col("text")), 4).as("punct_ratio"),
          round(TextFunctions.meanWordLengthFromTokens(col("toks")), 4).as("mean_word_len"))
        .orderBy("doc_id")
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
            ROUND(CASE WHEN len(text) = 0 THEN 0.0
              ELSE CAST(len(text) - len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / len(text) END, 4) AS punct_ratio,
            ROUND(CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END, 4) AS mean_word_len
            FROM (SELECT doc_id, text,
              list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS toks
              FROM documents) ORDER BY doc_id"""))

  /** Corpus vocabulary (training-data pipeline: tokenizer/vocab building):
    * top-50 lowercase whitespace tokens by total frequency with document
    * frequencies. One explode + one token-keyed groupBy with map-side
    * partials; the top-k sorts only the aggregated vocabulary. */
  val q77_vocab = Q(
    "q77_vocab",
    (s, dir) => {
      val d = t(s, dir, "documents")
      TextFunctions.termFrequencies(d, "doc_id", "text")
        .select(col("token"), col("tf").cast("long").as("tf"),
          col("doc_freq").cast("long").as("doc_freq"))
        .orderBy(col("tf").desc, col("token"))
        .limit(50)
    },
    Some("""SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
            FROM (SELECT doc_id,
                    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                       x -> len(x) > 0)) AS token
                  FROM documents)
            GROUP BY token ORDER BY tf DESC, token LIMIT 50"""))

  /** PII redaction audit (training-data pipeline): deterministic synthetic
    * emails/phone strings are appended per doc_id (the synthetic corpus has
    * none), redacted map-side with shared regex patterns, and audited per
    * source. Pure regexp_replace/extract_all column work — no shuffle
    * before the final small per-source aggregate. */
  val q79_redact = Q(
    "q79_redact",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val withPii = d.withColumn("text2", concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"), lpad(col("doc_id").cast("string"), 4, "0")))
          .otherwise(lit(""))))
      val emailP = TextFunctions.piiPatterns(0)._1
      val phoneP = TextFunctions.piiPatterns(1)._1
      withPii
        .withColumn("redacted", TextFunctions.redact(col("text2")))
        .withColumn("email_hits", TextFunctions.patternHits(col("text2"), emailP))
        .withColumn("phone_hits", TextFunctions.patternHits(col("text2"), phoneP))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).cast("long").as("docs"),
          sum(when(col("redacted") =!= col("text2"), 1L).otherwise(0L)).cast("long").as("docs_redacted"),
          sum(col("email_hits")).cast("long").as("emails"),
          sum(col("phone_hits")).cast("long").as("phones"),
          sum(length(col("text2")) - length(col("redacted"))).cast("long").as("chars_removed"))
        .orderBy("source")
    },
    Some {
      // DuckDB regular strings don't process backslash escapes, so the
      // Scala pattern (single backslash before '.') interpolates verbatim
      val emailP = TextFunctions.piiPatterns(0)._1
      val phoneP = TextFunctions.piiPatterns(1)._1
      s"""WITH withpii AS (
            SELECT source, text
              || (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END)
              || (CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') ELSE '' END) AS text2
            FROM documents),
          red AS (
            SELECT source, text2,
              regexp_replace(regexp_replace(text2, '$emailP', '<EMAIL>', 'g'), '$phoneP', '<PHONE>', 'g') AS redacted,
              len(regexp_extract_all(text2, '$emailP')) AS email_hits,
              len(regexp_extract_all(text2, '$phoneP')) AS phone_hits
            FROM withpii)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
            CAST(SUM(CASE WHEN redacted <> text2 THEN 1 ELSE 0 END) AS BIGINT) AS docs_redacted,
            CAST(SUM(email_hits) AS BIGINT) AS emails,
            CAST(SUM(phone_hits) AS BIGINT) AS phones,
            CAST(SUM(len(text2) - len(redacted)) AS BIGINT) AS chars_removed
          FROM red GROUP BY source ORDER BY source"""
    })

  /** Gopher-style repetition quality signals (Rae et al. 2021): duplicate
    * line fraction, duplicate-line char fraction, top word-2-gram char
    * fraction. Corpus: 4 six-token lines per doc, with line 1 REPEATED on
    * even doc_ids — so the dup fractions split the corpus in two and the
    * oracle replays the whole computation (line counts + gram counts with
    * the max-(count, gram) tie-break) relationally. Fractions are integer
    * ratios divided in double on both engines — bit-equal, no rounding. */
  val q83_repetition = Q(
    "q83_repetition",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      def ln(from: Int, len: Int) = array_join(slice(col("toks"), from, len), " ")
      val corpus = d.select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat_ws("\n", ln(1, 6), ln(7, 6), ln(1, 6), ln(13, 6)))
          .otherwise(concat_ws("\n", ln(1, 6), ln(7, 6), ln(13, 6), ln(19, 6)))
          .as("text"))
      TextFunctions.repetitionStats(corpus, "doc_id", "text", ngram = 2)
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id::BIGINT AS doc_id,
                CASE WHEN doc_id % 2 = 0
                     THEN array_to_string([l1, l2, l1, l4], chr(10))
                     ELSE array_to_string([l1, l2, l4, l5], chr(10)) END AS text
              FROM (
                SELECT doc_id,
                  array_to_string(toks[1:6], ' ') AS l1,
                  array_to_string(toks[7:12], ' ') AS l2,
                  array_to_string(toks[13:18], ' ') AS l4,
                  array_to_string(toks[19:24], ' ') AS l5
                FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents))),
            lines AS (
              SELECT doc_id, line FROM (
                SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM corpus)
              WHERE len(line) > 0),
            per_line AS (
              SELECT doc_id, line, COUNT(*) AS cnt, len(line)::BIGINT AS chars
              FROM lines GROUP BY doc_id, line),
            line_stats AS (
              SELECT doc_id,
                CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt) AS dup_line_frac,
                CAST(SUM(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END) AS DOUBLE)
                  / SUM(cnt * chars) AS dup_line_char_frac
              FROM per_line GROUP BY doc_id),
            normed AS (
              SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
              FROM corpus),
            toked AS (
              SELECT doc_id, len(norm)::BIGINT AS nlen,
                list_filter(string_split(norm, ' '), t -> len(t) > 0) AS toks
              FROM normed),
            grams AS (
              SELECT doc_id, nlen, unnest(
                CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(len(toks) - 1), i -> toks[i + 1] || ' ' || toks[i + 2]) END
              ) AS gram
              FROM toked WHERE len(toks) > 0),
            gram_counts AS (
              SELECT doc_id, gram, nlen, COUNT(*) AS cnt
              FROM grams GROUP BY doc_id, gram, nlen),
            top_gram AS (
              SELECT doc_id,
                CAST(cnt * len(gram) AS DOUBLE) / GREATEST(nlen, 1) AS top_ngram_char_frac
              FROM (
                SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
                FROM gram_counts)
              WHERE rn = 1)
            SELECT c.doc_id,
              COALESCE(l.dup_line_frac, 0.0) AS dup_line_frac,
              COALESCE(l.dup_line_char_frac, 0.0) AS dup_line_char_frac,
              COALESCE(t.top_ngram_char_frac, 0.0) AS top_ngram_char_frac
            FROM corpus c
            LEFT JOIN line_stats l ON l.doc_id = c.doc_id
            LEFT JOIN top_gram t ON t.doc_id = c.doc_id
            ORDER BY c.doc_id"""))

  /** Gopher rule-based quality filter over a structured corpus: three lines
    * per doc built from the document's tokens, with a `###` symbol token
    * injected on doc_id%7, a bullet prefix on %3, and a trailing ellipsis
    * token on %5 — so every rule (word count, mean word length, symbol
    * ratio, bullet/ellipsis line fractions, alpha fraction, stopword hits)
    * splits the corpus and the oracle replays the whole rule set
    * relationally. All fractions are single int/int divisions in double —
    * bit-equal across engines, no rounding. */
  val q84_gopher_filter = Q(
    "q84_gopher_filter",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      def ln(from: Int, len: Int) = array_join(slice(col("toks"), from, len), " ")
      val corpus = d.select(
        col("doc_id"),
        concat_ws("\n",
          when(col("doc_id") % 7 === 0, concat(ln(1, 6), lit(" ###"))).otherwise(ln(1, 6)),
          when(col("doc_id") % 3 === 0, concat(lit("- "), ln(7, 6))).otherwise(ln(7, 6)),
          when(col("doc_id") % 5 === 0, concat(ln(13, 6), lit(" ..."))).otherwise(ln(13, 6)))
          .as("text"))
      TextFunctions.gopherQualityFlags(
        corpus, "doc_id", "text",
        minWords = 12L, maxWords = 100000L,
        minMeanWordLen = 3.6, maxMeanWordLen = 10.0,
        maxSymbolWordRatio = 0.15,
        maxBulletLineFrac = 0.4, maxEllipsisLineFrac = 0.4,
        minAlphaWordFrac = 0.9, minStopwordHits = 1L)
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id::BIGINT AS doc_id,
                array_to_string([
                  CASE WHEN doc_id % 7 = 0 THEN l1 || ' ###' ELSE l1 END,
                  CASE WHEN doc_id % 3 = 0 THEN '- ' || l2 ELSE l2 END,
                  CASE WHEN doc_id % 5 = 0 THEN l3 || ' ...' ELSE l3 END], chr(10)) AS text
              FROM (
                SELECT doc_id,
                  -- DuckDB: array_to_string of an out-of-bounds slice is NULL
                  -- (Spark's array_join of an empty slice is '') — coalesce
                  -- EVERY line so the bullet/ellipsis decoration matches
                  -- Spark on documents of any length
                  COALESCE(array_to_string(toks[1:6], ' '), '') AS l1,
                  COALESCE(array_to_string(toks[7:12], ' '), '') AS l2,
                  COALESCE(array_to_string(toks[13:18], ' '), '') AS l3
                FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents))),
            arrays AS (
              SELECT doc_id, text,
                list_filter(regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0) AS toks,
                list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS lns
              FROM corpus),
            counts AS (
              SELECT doc_id,
                len(toks)::BIGINT AS wc,
                len(lns)::BIGINT AS nl,
                length(regexp_replace(text, '\s+', '', 'g'))::BIGINT AS sum_len,
                (length(text) - length(regexp_replace(text, '#', '', 'g')))::BIGINT AS hash_cnt,
                len(regexp_extract_all(text, '\.\.\.'))::BIGINT AS ell_cnt,
                len(list_filter(lns, l -> starts_with(l, '- ') OR starts_with(l, '* ')
                                          OR starts_with(l, '•')))::BIGINT AS bullet_lines,
                len(list_filter(lns, l -> ends_with(l, '...')))::BIGINT AS ell_lines,
                len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))::BIGINT AS alpha_words,
                len(list_filter(['the','be','to','of','and','that','have','with'],
                    s -> list_contains(list_transform(toks, t -> lower(t)), s)))::BIGINT AS stop_hits
              FROM arrays),
            metrics AS (
              SELECT doc_id,
                wc AS word_count,
                CASE WHEN wc = 0 THEN 0.0 ELSE sum_len::DOUBLE / wc END AS mean_word_len,
                CASE WHEN wc = 0 THEN 0.0 ELSE (hash_cnt + ell_cnt)::DOUBLE / wc END AS symbol_word_ratio,
                CASE WHEN nl = 0 THEN 0.0 ELSE bullet_lines::DOUBLE / nl END AS bullet_line_frac,
                CASE WHEN nl = 0 THEN 0.0 ELSE ell_lines::DOUBLE / nl END AS ellipsis_line_frac,
                CASE WHEN wc = 0 THEN 0.0 ELSE alpha_words::DOUBLE / wc END AS alpha_word_frac,
                stop_hits AS stopword_hits
              FROM counts)
            SELECT doc_id, word_count, mean_word_len, symbol_word_ratio,
              bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stopword_hits,
              CAST(word_count >= 12 AND word_count <= 100000
                AND mean_word_len >= 3.6 AND mean_word_len <= 10.0
                AND symbol_word_ratio <= 0.15
                AND bullet_line_frac <= 0.4 AND ellipsis_line_frac <= 0.4
                AND alpha_word_frac >= 0.9 AND stopword_hits >= 1 AS BIGINT) AS keep
            FROM metrics
            ORDER BY doc_id"""))

  /** BM25 ranked scoring of the documents corpus against a 3-term query.
    * Exact-integer tf/dl/df, avgdl = exact long sum divided once, and the
    * score is a fixed-order expression sum over terms — both engines
    * evaluate the same floating-point tree, so ROUND(,4) is cosmetic, not
    * a tolerance. */
  val q86_bm25 = Q(
    "q86_bm25",
    (s, dir) => {
      TextFunctions.bm25Scores(
        t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text")),
        "doc_id", "text", terms = Seq("spark", "table", "the"))
        .select(
          col("doc_id"), col("tf1"), col("tf2"), col("tf3"),
          round(col("bm25"), 4).as("bm25"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
              SELECT doc_id::BIGINT AS doc_id,
                list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> len(t) > 0) AS toks
              FROM documents),
            m AS (
              SELECT doc_id, len(toks)::BIGINT AS dl,
                len(list_filter(toks, t -> t = 'spark'))::BIGINT AS tf1,
                len(list_filter(toks, t -> t = 'table'))::BIGINT AS tf2,
                len(list_filter(toks, t -> t = 'the'))::BIGINT AS tf3
              FROM d),
            stats AS (
              SELECT COUNT(*)::BIGINT AS n, SUM(dl)::BIGINT AS suml,
                SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
                SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2,
                SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)::BIGINT AS df3
              FROM m)
            SELECT doc_id, tf1, tf2, tf3,
              ROUND(
                ln(1.0 + (CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
                  * (CAST(tf1 AS DOUBLE) * 2.2)
                  / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(suml AS DOUBLE) / n)))
                + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
                  * (CAST(tf2 AS DOUBLE) * 2.2)
                  / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(suml AS DOUBLE) / n)))
                + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df3 AS DOUBLE) + 0.5) / (CAST(df3 AS DOUBLE) + 0.5))
                  * (CAST(tf3 AS DOUBLE) * 2.2)
                  / (CAST(tf3 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(suml AS DOUBLE) / n)))
              , 4) AS bm25
            FROM m, stats ORDER BY doc_id"""))

  /** Character-trigram LM surprisal scoring (training-data pipeline op,
    * CCNet-style): train add-one-smoothed trigram counts on a trusted
    * slice (even doc_ids), score every document by integer
    * floor-log₂ surprisal. The per-gram surprisal is pure 64-bit integer
    * arithmetic (`length(bin(q)) − 1`) — bit-exact across engines, unlike
    * a float ln(p) — so the oracle replays it hash-exactly. */
  val q90_lm_score = Q(
    "q90_lm_score",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val lm = TextFunctions.trainCharLm(d.filter(col("doc_id") % 2 === 0), "text")
      TextFunctions.lmSurprisalScores(d, "doc_id", "text", lm)
        .orderBy("doc_id")
    },
    Some("""WITH norm AS (
              SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
              FROM documents),
            doc_grams AS (
              SELECT n.doc_id, substr(n.nt, CAST(u.i AS INTEGER), 3) AS gram
              FROM norm n, UNNEST(range(1, len(n.nt) - 1)) AS u(i)),
            model AS (
              SELECT gram, COUNT(*) AS cnt FROM doc_grams WHERE doc_id % 2 = 0 GROUP BY 1),
            stats AS (
              SELECT CAST(COALESCE(SUM(cnt), 0) + COUNT(*) AS BIGINT) AS numer FROM model),
            scored AS (
              SELECT dg.doc_id,
                     COUNT(*) AS n_grams,
                     SUM(length(bin((SELECT numer FROM stats) // (COALESCE(m.cnt, 0) + 1))) - 1) AS surprisal
              FROM doc_grams dg LEFT JOIN model m USING (gram)
              GROUP BY 1)
            SELECT CAST(n.doc_id AS BIGINT) AS doc_id,
                   CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(COALESCE(s.surprisal, 0) AS BIGINT) AS surprisal,
                   CASE WHEN COALESCE(s.n_grams, 0) > 0
                        THEN CAST(s.surprisal AS DOUBLE) / s.n_grams END AS avg_surprisal
            FROM norm n LEFT JOIN scored s USING (doc_id)
            ORDER BY doc_id"""))

  /** GPT-style sequence packing (training-data pipeline op): per-source
    * document streams cut into fixed 256-token training sequences, documents
    * spanning boundaries — the pretraining data layout. Output is the
    * per-sequence manifest (docs contributing, slots filled); all integer
    * arithmetic, hash-exact. */
  val q92_seq_pack = Q(
    "q92_seq_pack",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tok", TextFunctions.tokenCount(col("text")).cast("long"))
      val packed = graft.text.Sharding
        .packTrainingSequences(d, "doc_id", "n_tok", seqLen = 256L, partitionCols = Seq("source"))
      graft.text.Sharding.sequenceManifest(packed, "n_tok", 256L, Seq("source"))
        .select(
          col("source"), col("seq").cast("long").as("seq"),
          col("n_docs").cast("long").as("n_docs"), col("n_tokens").cast("long").as("n_tokens"))
        .orderBy("source", "seq")
    },
    Some("""WITH toks AS (
              SELECT source, doc_id,
                     len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS tok
              FROM documents),
            cum AS (
              SELECT source, tok,
                     SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS c
              FROM toks),
            spans AS (
              SELECT source, tok, c - tok AS s,
                     CAST((c - tok) // 256 AS BIGINT) AS first_seq,
                     CAST(CASE WHEN tok > 0 THEN (c - 1) // 256 ELSE (c - tok) // 256 END AS BIGINT) AS last_seq
              FROM cum),
            fanout AS (
              SELECT source, tok, s, u.seq AS seq
              FROM spans, UNNEST(range(first_seq, last_seq + 1)) AS u(seq))
            SELECT source, CAST(seq AS BIGINT) AS seq,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(LEAST(s + tok, (seq + 1) * 256) - GREATEST(s, seq * 256)) AS BIGINT) AS n_tokens
            FROM fanout GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Unicode NFC normalization (training-data pipeline op): the corpus is
    * ASCII, so decomposed accents (e + U+0301) are injected deterministically
    * into every 5th document by BOTH engines, then each normalizes its own
    * injection — Spark via the native codegen expression, DuckDB via
    * `nfc_normalize` — and reports codepoint counts. Composition shrinks
    * exactly one codepoint per injected mark, so `len_raw − len_nfc =
    * n_comp` row-by-row; any normalizer divergence breaks the hash. */
  val q93_unicode_norm = Q(
    "q93_unicode_norm",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val raw = when(col("doc_id") % 5 === 0, regexp_replace(col("text"), "e", "é"))
        .otherwise(col("text"))
      val norm = TextFunctions.unicodeNormalize(col("raw"))
      d.select(col("doc_id").cast("long").as("doc_id"), raw.as("raw"))
        .withColumn("norm", norm)
        .select(
          col("doc_id"),
          length(col("raw")).cast("long").as("len_raw"),
          length(col("norm")).cast("long").as("len_nfc"),
          (length(col("norm")) - length(regexp_replace(col("norm"), "\u00e9", "")))
            .cast("long").as("n_comp"))
        .orderBy("doc_id")
    },
    Some("""WITH raw AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN replace(text, 'e', 'e' || chr(769))
                          ELSE text END AS r
              FROM documents),
            norm AS (SELECT doc_id, r, nfc_normalize(r) AS n FROM raw)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(length(r) AS BIGINT) AS len_raw,
                   CAST(length(n) AS BIGINT) AS len_nfc,
                   CAST(length(n) - length(replace(n, chr(233), '')) AS BIGINT) AS n_comp
            FROM norm ORDER BY doc_id"""))

  /** Distributed BPE tokenizer training (training-data pipeline op): 8 merge
    * rules learned from the corpus via the vocabulary-table formulation —
    * one corpus shuffle, then cheap per-round aggregations with the merge
    * rule applied map-side as a codegen reference object. */
  val q94_bpe_train = Q(
    "q94_bpe_train",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Bpe.trainMerges(d, "text", numMerges = 8)
        .select(
          col("rank").cast("long").as("rank"), col("l"), col("r"),
          col("cnt").cast("long").as("cnt"))
        .orderBy("rank")
    },
    Some(bpeOracleSql(8)))

  /** BPE encoding with the learned merges (training-data pipeline op): the
    * 8 rules from q94 applied corpus-wide as a pure map-side projection
    * (chained codegen merge nodes inside a per-word lambda), then the token
    * histogram. The oracle re-derives the same merges AND the final symbol
    * table in SQL and takes the histogram from the word table — identical
    * numbers through a completely different factoring (per-doc encode vs
    * weighted word-table fanout). */
  val q97_bpe_encode = Q(
    "q97_bpe_encode",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val merges = graft.text.Bpe.trainMerges(d, "text", numMerges = 8)
        .orderBy("rank")
        .collect()
        .map(r => (r.getString(1), r.getString(2)))
        .toSeq
      graft.text.Bpe.encode(d, "text", merges)
        // house rule: explode(array_compact(attribute)), never the bare
        // expensive projected attribute (q78 pushdown-duplication trap)
        .select(explode(array_compact(col("bpe_tokens"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).cast("long").as("cnt"))
        .orderBy("token")
    },
    Some(s"""WITH ${bpeRoundsSql(8)}
             SELECT u.tok AS token, CAST(SUM(cnt) AS BIGINT) AS cnt
             FROM w8, UNNEST(w8.syms) AS u(tok) GROUP BY 1 ORDER BY 1"""))

  /** Inverted index with capped posting lists (retrieval-infrastructure
    * op): token → doc_freq + first-10 postings in id order. The cap is
    * enforced by a window BEFORE any list materializes — stopword tokens
    * never build corpus-sized arrays. */
  val q101_inverted_index = Q(
    "q101_inverted_index",
    (s, dir) => {
      val d = t(s, dir, "documents")
      TextFunctions.invertedIndex(d, "doc_id", "text", maxPostings = 10)
        .select(col("token"), col("doc_freq").cast("long").as("doc_freq"), col("postings"))
        .orderBy("token")
    },
    Some("""WITH toks AS (
              SELECT DISTINCT doc_id, u.token AS token
              FROM (SELECT doc_id,
                           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS tk
                    FROM documents) t, UNNEST(t.tk) AS u(token)),
            ranked AS (
              SELECT doc_id, token,
                     ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn,
                     COUNT(*) OVER (PARTITION BY token) AS doc_freq
              FROM toks)
            SELECT token, CAST(doc_freq AS BIGINT) AS doc_freq,
                   string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
            FROM ranked WHERE rn <= 10 GROUP BY token, doc_freq ORDER BY token"""))

  /** Document chunking into overlapping token windows (RAG / long-context
    * preprocessing): chunk size 8, overlap 3 — so chunk starts step by 5
    * and consecutive chunks share 3 tokens. Output keeps the chunk text
    * itself plus its (start, length) span, so the oracle replays the exact
    * slicing arithmetic relationally (range + list slice in DuckDB). */
  val q148_chunking = Q(
    "q148_chunking",
    (s, dir) => {
      graft.text.Chunking
        .chunkDocuments(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", chunkTokens = 8, overlapTokens = 3)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("chunk_id"), col("token_start"), col("n_tokens"), col("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\s+'),
                                 x -> len(x) > 0) AS tk
              FROM documents WHERE doc_id < 300),
            starts AS (
              SELECT doc_id, tk,
                     unnest(range(0, greatest(len(tk) - 3 - 1, 0) + 1, 5)) AS st,
                     generate_subscripts(range(0, greatest(len(tk) - 3 - 1, 0) + 1, 5), 1) - 1 AS cid
              FROM toks WHERE len(tk) > 0)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(cid AS BIGINT) AS chunk_id,
                   CAST(st AS BIGINT) AS token_start,
                   CAST(len(tk[st+1 : st+8]) AS BIGINT) AS n_tokens,
                   array_to_string(tk[st+1 : st+8], ' ') AS chunk_text
            FROM starts ORDER BY doc_id, chunk_id"""))

  /** Inverted-index top-k TF-IDF retrieval: unlike q86 (BM25 scores for
    * every document), this is the RETRIEVAL operator — postings pruned to
    * the query terms immediately after the explode, fixed-point integer
    * idf (floor-log2, bit-stable), and the k best documents via
    * TakeOrderedAndProject (per-partition heaps; only k rows cross the
    * final exchange). 'dup' is the one rare term in the synthetic vocab
    * (df 25/500 vs ~380/500), so the idf spread is real. */
  val q151_tfidf_topk = Q(
    "q151_tfidf_topk",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
      graft.text.Search.searchTopK(d, "doc_id", "text",
        terms = Seq("dup", "key", "fast"), k = 200, idfScale = 1024L)
    },
    Some("""WITH d AS (
              SELECT doc_id::BIGINT AS id,
                list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS toks
              FROM documents),
            posts AS (
              SELECT id, u.term AS term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM d, UNNEST(d.toks) AS u(term)
              WHERE u.term IN ('dup', 'key', 'fast') GROUP BY 1, 2),
            stats AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM posts GROUP BY 1),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d)
            SELECT id AS doc_id,
                   CAST(SUM(tf * (length(bin((n_docs * 1024) // df_t)) - 1)) AS BIGINT) AS score
            FROM posts JOIN stats USING (term), n
            GROUP BY id, n_docs
            ORDER BY score DESC, doc_id ASC LIMIT 200"""))

  /** Bigram collocation mining (word2phrase): integer PMI-ish score
    * (c12*T) div (c1*c2) in exact BIGINT, long-tail pruned at minCount
    * BEFORE the vocabulary joins, top-k fully tie-broken. */
  val q152_collocations = Q(
    "q152_collocations",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("text"))
      graft.text.Search.collocations(d, "text", minCount = 5L, k = 50)
    },
    Some("""WITH d AS (
              SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS toks
              FROM documents),
            uni AS (
              SELECT u.w AS w, CAST(COUNT(*) AS BIGINT) AS c
              FROM d, UNNEST(d.toks) AS u(w) GROUP BY 1),
            bi AS (
              SELECT toks[i] AS w1, toks[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c12
              FROM d, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
              GROUP BY 1, 2 HAVING COUNT(*) >= 5),
            total AS (SELECT CAST(SUM(c) AS BIGINT) AS t_tokens FROM uni)
            SELECT w1, w2, c12,
                   CAST((c12 * t_tokens) // (u1.c * u2.c) AS BIGINT) AS score
            FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w, total
            ORDER BY score DESC, c12 DESC, w1 ASC, w2 ASC LIMIT 50"""))

  /** HTML boilerplate stripping: documents wrapped in deterministic HTML
    * (style/script blocks with `<`-bearing code, attributes, entities,
    * `&nbsp;` separators on every 7th doc, an entity-laden div on every
    * 3rd), stripped by the chained-regex operator. The oracle derives each
    * CLEANED string independently from the raw text (never replaying the
    * regexes) and compares md5 — an end-to-end mapping check. */
  val q160_html_strip = Q(
    "q160_html_strip",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val html = d.withColumn("html", concat(
        lit("<html><head><style>p { color: red; }</style></head><body>"),
        lit("<script type=\"text/javascript\">var x = 1 < 2;</script>"),
        lit("<p class=\"main\">"),
        when(col("doc_id") % 7 === 0, regexp_replace(col("text"), " ", "&nbsp;"))
          .otherwise(col("text")),
        lit("</p>"),
        when(col("doc_id") % 3 === 0,
          lit("<div>&quot;quoted&quot; &amp;amp; more</div>")).otherwise(lit("")),
        lit("</body></html>")))
      html
        .withColumn("clean", TextFunctions.stripHtml(col("html")))
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          length(col("clean")).cast("long").as("clean_len"))
        .orderBy("doc_id")
    },
    Some("""WITH expected AS (
              SELECT doc_id::BIGINT AS doc_id,
                trim(regexp_replace(text, '\s+', ' ', 'g'))
                  || (CASE WHEN doc_id % 3 = 0 THEN ' "quoted" &amp; more' ELSE '' END)
                  AS clean
              FROM documents)
            SELECT doc_id, md5(clean) AS clean_md5,
                   CAST(length(clean) AS BIGINT) AS clean_len
            FROM expected ORDER BY doc_id"""))

  /** Link-graph extraction from HTML: hrefs pulled from constructed pages
    * (mixed quote styles, messy case/www/ports/tracking params),
    * canonicalized, reduced to host-level in-degree + distinct-URL counts
    * — the crawl-frontier statistics pass. The oracle derives hosts and
    * canonical urls independently from the doc_id arithmetic. */
  val q161_link_extract = Q(
    "q161_link_extract",
    (s, dir) => {
      import graft.text.UrlOps
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val html = d.select(col("doc_id"), concat(
        lit("<p>"), col("text"), lit("</p><a href=\"HTTP://WWW.Site"),
        (col("doc_id") % 40).cast("string"),
        lit(".COM/Page/"), (col("doc_id") % 25).cast("string"),
        lit("?utm_source=x\">link</a>"),
        when(col("doc_id") % 2 === 0, concat(
          lit("<a class='x' href='https://Other"), (col("doc_id") % 10).cast("string"),
          lit(".org/a/'>o</a>"))).otherwise(lit(""))).as("html"))
      // materialize the extracted array, THEN explode(array_compact(...)):
      // the explode-trap rule — pushdown must not inline the regex twice
      html
        .select(col("doc_id"), UrlOps.extractLinks(col("html")).as("links"))
        .select(explode(array_compact(col("links"))).as("url"))
        .select(UrlOps.canonicalize(col("url")).as("canon"))
        .select(UrlOps.host(col("canon")).as("host"), col("canon"))
        .groupBy(col("host"))
        .agg(
          count(lit(1)).cast("long").as("n_links"),
          count_distinct(col("canon")).cast("long").as("n_urls"))
        .orderBy("host")
    },
    Some("""WITH links AS (
              SELECT 'site' || CAST(doc_id % 40 AS VARCHAR) || '.com' AS host,
                     'http://site' || CAST(doc_id % 40 AS VARCHAR) || '.com/Page/'
                       || CAST(doc_id % 25 AS VARCHAR) AS canon
              FROM documents
              UNION ALL
              SELECT 'other' || CAST(doc_id % 10 AS VARCHAR) || '.org',
                     'https://other' || CAST(doc_id % 10 AS VARCHAR) || '.org/a'
              FROM documents WHERE doc_id % 2 = 0)
            SELECT host, CAST(COUNT(*) AS BIGINT) AS n_links,
                   CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_urls
            FROM links GROUP BY 1 ORDER BY 1"""))

  /** Code-switching detection: every third document gets a French-stopword
    * sentence appended — invisible to the document-level argmax (q30,
    * English dominates globally) but caught by segment-level language ID
    * over 12-token windows. The oracle replays the same per-segment
    * stopword fold from the same profiles, generated like q30's. */
  val q166_code_switch = Q(
    "q166_code_switch",
    (s, dir) => {
      val french = " le la de et les des un est dans que le la"
      val d = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("doc_id"), col("source"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, french).otherwise("")).as("text2"))
      val stats = TextFunctions.codeSwitchStats(d, "doc_id", "text2", segTokens = 12)
      stats
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("is_code_switched"), 1L).otherwise(0L)).cast("long").as("n_switched"),
          sum(col("n_segments")).cast("long").as("n_segments"))
        .orderBy("source")
    },
    Some(s"""WITH d AS (
            SELECT doc_id::BIGINT AS doc_id, source,
              text || (CASE WHEN doc_id % 3 = 0 THEN ' le la de et les des un est dans que le la' ELSE '' END) AS text2
            FROM documents),
          t AS (
            SELECT doc_id, source,
              list_filter(regexp_split_to_array(trim(lower(text2)), '\\s+'), x -> len(x) > 0) AS toks
            FROM d),
          seg AS (
            SELECT doc_id, source, list_distinct(toks[(i*12+1):(i*12+12)]) AS sd
            FROM t, UNNEST(range((len(toks) + 11) // 12)) AS u(i)),
          lang AS (SELECT doc_id, source, $langArgmaxSql AS lang
                   FROM (SELECT doc_id, source, ${langScoresSql("sd")} FROM seg)),
          agg AS (
            SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_seg,
              COUNT(DISTINCT CASE WHEN lang <> 'und' THEN lang END) AS n_langs
            FROM lang GROUP BY 1, 2)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN n_langs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_switched,
                 CAST(SUM(n_seg) AS BIGINT) AS n_segments
          FROM agg GROUP BY 1 ORDER BY 1"""))

  /** Chat-template flattening: synthesized 3-turn JSON conversations
    * (user/assistant/user over token slices) rendered to training text
    * with turn stats — the fine-tuning prep step before sequence packing.
    * The oracle derives the EXPECTED rendered strings independently from
    * the token arithmetic (never parsing JSON). */
  val q167_chat_flatten = Q(
    "q167_chat_flatten",
    (s, dir) => {
      import graft.functions.SemiStructured
      val d = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
      val toks = split(trim(col("text")), "\\s+")
      def seg(from: Int) = array_join(slice(toks, from, 8), " ")
      val convo = d.withColumn("convo_json", to_json(array(
        struct(lit("user").as("role"), seg(1).as("content")),
        struct(lit("assistant").as("role"), seg(9).as("content")),
        struct(lit("user").as("role"), seg(17).as("content")))))
      SemiStructured.flattenChat(convo, "convo_json")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(length(col("chat_text"))).cast("long").as("chars"),
          sum(col("n_turns")).cast("long").as("turns"),
          sum(col("n_user_turns")).cast("long").as("user_turns"),
          count_distinct(col("chat_text")).cast("long").as("distinct_chats"))
        .orderBy("source")
    },
    Some("""WITH d AS (
              SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents),
            r AS (
              SELECT source,
                -- a slice starting past the end is NULL in DuckDB (Spark:
                -- empty) — coalesce each segment to ''
                '### user:' || chr(10) || COALESCE(array_to_string(toks[1:8], ' '), '')
                || chr(10) || '### assistant:' || chr(10) || COALESCE(array_to_string(toks[9:16], ' '), '')
                || chr(10) || '### user:' || chr(10) || COALESCE(array_to_string(toks[17:24], ' '), '')
                AS chat_text
              FROM d)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(length(chat_text)) AS BIGINT) AS chars,
                   CAST(COUNT(*) * 3 AS BIGINT) AS turns,
                   CAST(COUNT(*) * 2 AS BIGINT) AS user_turns,
                   CAST(COUNT(DISTINCT chat_text) AS BIGINT) AS distinct_chats
            FROM r GROUP BY 1 ORDER BY 1"""))

  /** Corpus n-gram novelty (boilerplate/template detector): per doc, the
    * fraction of its distinct 3-grams appearing in NO other document, as
    * integer ppm. Spark counts document frequency over 8-byte hashed grams
    * with a COUNT window on the gram key (one shuffle, no join); the
    * oracle replays with raw gram STRINGS as keys — identical grouping
    * absent a 64-bit collision (the q87 convention). Per-source rollup
    * keeps the output compact while pinning every doc's score (sums over
    * exact integers). */
  val q173_novelty = Q(
    "q173_novelty",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"),
        col("source"), col("text"))
      Dedup.corpusNoveltyScores(d, "doc_id", "text", shingleSize = 3)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("total_grams")).cast("long").as("grams"),
          sum(col("unique_grams")).cast("long").as("unique_grams"),
          sum(col("novelty_ppm")).cast("long").as("ppm_sum"),
          min(col("novelty_ppm")).cast("long").as("ppm_min"))
        .orderBy("source")
    },
    Some {
      import graft.tools.OracleSql._
      s"""WITH d AS (
            SELECT doc_id::BIGINT AS doc_id, source,
                   list_filter(regexp_split_to_array(${normalizeSql("text")}, '\\s+'),
                               x -> len(x) > 0) AS toks
            FROM documents),
          sh AS (
            SELECT doc_id, source,
                   list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+2], ' ')) END) AS grams
            FROM d),
          ex AS (SELECT doc_id, source, unnest(grams) AS g FROM sh),
          dfc AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY 1),
          scored AS (
            SELECT e.doc_id, e.source, COUNT(*) AS total_grams,
                   SUM(CASE WHEN c.df = 1 THEN 1 ELSE 0 END) AS unique_grams
            FROM ex e JOIN dfc c USING (g) GROUP BY 1, 2)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(total_grams) AS BIGINT) AS grams,
                 CAST(SUM(unique_grams) AS BIGINT) AS unique_grams,
                 CAST(SUM((1000000 * unique_grams) // total_grams) AS BIGINT) AS ppm_sum,
                 CAST(MIN((1000000 * unique_grams) // total_grams) AS BIGINT) AS ppm_min
          FROM scored GROUP BY 1 ORDER BY 1"""
    })

  /** Two-stage domain quality gate (RefinedWeb/CCNet shape): domains are
    * admitted on aggregate evidence (≥ 10 docs AND 2×median(n_chars) ≥
    * 500), then docs within admitted domains must clear their own
    * domain's median. med2 = 2×median keeps the even-count interpolated
    * median integer-exact on both engines. */
  val q174_domain_gate = Q(
    "q174_domain_gate",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Sampling.domainMedianGate(d, "source", "n_chars", minDocs = 10L, minMedian2 = 500L)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).cast("long").as("n_kept"),
          max(col("n_docs")).cast("long").as("n_docs"),
          max(col("med2")).cast("long").as("med2"),
          sum(col("n_chars")).cast("long").as("kept_chars"))
        .orderBy("source")
    },
    Some("""WITH stats AS (
              SELECT source, COUNT(*) AS n_docs,
                     CAST(2 * median(n_chars) AS BIGINT) AS med2
              FROM documents GROUP BY 1),
            ok AS (SELECT * FROM stats WHERE n_docs >= 10 AND med2 >= 500)
            SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(MAX(o.n_docs) AS BIGINT) AS n_docs,
                   CAST(MAX(o.med2) AS BIGINT) AS med2,
                   CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
            FROM documents d JOIN ok o USING (source)
            WHERE 2 * d.n_chars >= o.med2
            GROUP BY 1 ORDER BY 1"""))

  /** Vocabulary coverage / OOV audit: the corpus's top-200 tokens (total
    * (tf, token) order — deterministic) as vocabulary, every doc scored for
    * OOV fraction, rolled up per language — the tokenizer-coverage report
    * before committing to a vocab size. */
  val q176_oov = Q(
    "q176_oov",
    (s, dir) => {
      val d = t(s, dir, "documents")
      TextFunctions.oovStats(d, "doc_id", "text", vocabSize = 200)
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("total_tokens")).cast("long").as("tokens"),
          sum(col("oov_tokens")).cast("long").as("oov_tokens"),
          sum(col("oov_ppm")).cast("long").as("ppm_sum"),
          max(col("oov_ppm")).cast("long").as("ppm_max"))
        .orderBy("lang")
    },
    Some("""WITH toks AS (
              SELECT doc_id, lang,
                     unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                        x -> len(x) > 0)) AS token
              FROM documents),
            vocab AS (
              SELECT token FROM (
                SELECT token, COUNT(*) AS tf FROM toks GROUP BY 1)
              ORDER BY tf DESC, token LIMIT 200),
            perdoc AS (
              SELECT t.doc_id, t.lang, COUNT(*) AS total_tokens,
                     SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS oov_tokens
              FROM toks t LEFT JOIN vocab v USING (token)
              GROUP BY 1, 2)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(total_tokens) AS BIGINT) AS tokens,
                   CAST(SUM(oov_tokens) AS BIGINT) AS oov_tokens,
                   CAST(SUM((1000000 * oov_tokens) // total_tokens) AS BIGINT) AS ppm_sum,
                   CAST(MAX((1000000 * oov_tokens) // total_tokens) AS BIGINT) AS ppm_max
            FROM perdoc GROUP BY 1 ORDER BY 1"""))

  /** Tokenizer fertility by language: BPE-ish pieces per whitespace word
    * (a language at 3× fertility pays 3× sequence length for the same
    * text). The piece count is replayed in DuckDB WITHOUT lookaround
    * (RE2 has none): pieces = maximal alnum runs + non-alnum non-space
    * chars — provably equal to the boundary-split count. */
  val q178_fertility = Q(
    "q178_fertility",
    (s, dir) => {
      TextFunctions.fertilityCounts(t(s, dir, "documents"), "text")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_words")).cast("long").as("words"),
          sum(col("n_pieces")).cast("long").as("pieces"))
        .withColumn("fertility_ppm", expr("(1000000 * pieces) div words"))
        .orderBy("lang")
    },
    Some("""WITH c AS (
              SELECT lang,
                     len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                     x -> len(x) > 0)) AS n_words,
                     len(regexp_extract_all(text, '[A-Za-z0-9]+'))
                     + len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_pieces
              FROM documents)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_words) AS BIGINT) AS words,
                   CAST(SUM(n_pieces) AS BIGINT) AS pieces,
                   CAST((1000000 * SUM(n_pieces)) // SUM(n_words) AS BIGINT) AS fertility_ppm
            FROM c GROUP BY 1 ORDER BY 1"""))

  /** Per-document keyword extraction: top-3 tokens by integer TF·IDF
    * (floor-log2 idf, the q151 spelling), selected through the CUSTOM
    * top-k-per-group physical operator — the bounded-heap plan composing
    * in a real text pipeline (no sort, one exchange over ≤ 3 rows per doc
    * per input partition). */
  val q181_keywords = Q(
    "q181_keywords",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val toks = d.select(col("doc_id"),
        explode(TextFunctions.tokens(lower(col("text")))).as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df_t"))
      val n = d.agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .join(dfT, Seq("token"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          col("tf") * expr("CAST(length(bin((n_docs * 1024) div df_t)) - 1 AS BIGINT)"))
      graft.operators.TopK.perGroup(
          scored, Seq("doc_id"), Seq(("score", false), ("token", true)), k = 3)
        .select(col("doc_id"), col("token"),
          col("tf").cast("long").as("tf"), col("score").cast("long").as("score"))
        .orderBy("doc_id", "token")
    },
    Some("""WITH d AS (
              SELECT doc_id::BIGINT AS doc_id,
                     list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                 x -> len(x) > 0) AS toks
              FROM documents),
            tf AS (
              SELECT doc_id, u.token AS token, CAST(COUNT(*) AS BIGINT) AS tf
              FROM d, UNNEST(d.toks) AS u(token) GROUP BY 1, 2),
            dft AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d),
            scored AS (
              SELECT doc_id, token, tf,
                     tf * (length(bin((n_docs * 1024) // df_t)) - 1) AS score
              FROM tf JOIN dft USING (token), n)
            SELECT doc_id, token, tf, CAST(score AS BIGINT) AS score
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, token ASC) AS rn
                  FROM scored)
            WHERE rn <= 3
            ORDER BY doc_id, token"""))

  /** Integer char-entropy quality feature: floor-log2 entropy bits over
    * [a-z0-9] — near 0 for degenerate filler, large for diverse text —
    * computed WITHOUT exploding characters (36 unrolled replace-count
    * terms, map-side at scan speed). Rolled up per source. */
  val q186_char_entropy = Q(
    "q186_char_entropy",
    (s, dir) => {
      TextFunctions.charEntropyBits(t(s, dir, "documents"), "text")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("char_total")).cast("long").as("chars"),
          sum(col("entropy_bits")).cast("long").as("entropy_bits"),
          min(col("entropy_bits")).cast("long").as("min_entropy"))
        .orderBy("source")
    },
    Some {
      val chars = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
      val lst = chars.map(c => s"'$c'").mkString(", ")
      s"""WITH c AS (SELECT source, lower(text) AS norm FROM documents),
          k AS (SELECT source,
                       list_transform([$lst],
                         ch -> CAST(length(norm) - length(replace(norm, ch, '')) AS BIGINT)) AS cnts
                FROM c),
          t AS (SELECT source, cnts, list_sum(cnts) AS tot FROM k),
          e AS (SELECT source, tot,
                       CASE WHEN tot > 0 THEN list_sum(list_transform(cnts,
                         x -> CASE WHEN x > 0 THEN x * (length(bin(tot // x)) - 1) ELSE 0 END))
                       ELSE 0 END AS ent
                FROM t)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(tot) AS BIGINT) AS chars,
                 CAST(SUM(ent) AS BIGINT) AS entropy_bits,
                 CAST(MIN(ent) AS BIGINT) AS min_entropy
          FROM e GROUP BY 1 ORDER BY 1"""
    })

  /** Domain blocklist gate (crawl hygiene): hosts synthesized from doc_id
    * arithmetic, matched against a blocklist with SUBDOMAIN semantics
    * (suffix explode + broadcast join; the most specific entry wins).
    * The oracle derives every verdict from the id arithmetic alone. */
  val q187_blocklist = Q(
    "q187_blocklist",
    (s, dir) => {
      import graft.text.UrlOps
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("host",
          when(col("doc_id") % 5 === 0,
            concat(lit("a"), (col("doc_id") % 3).cast("string"), lit(".bad.org")))
            .otherwise(concat(lit("www.site"), (col("doc_id") % 40).cast("string"), lit(".com"))))
      val blocklist = s.createDataFrame(
        Seq(Tuple1("site3.com"), Tuple1("site17.com"), Tuple1("bad.org"), Tuple1("a1.bad.org")))
        .toDF("entry")
      UrlOps.matchBlocklist(d, "doc_id", "host", blocklist)
        .groupBy(coalesce(col("blocked_by"), lit("allowed")).as("verdict"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
        .orderBy("verdict")
    },
    Some("""WITH v AS (
              SELECT CASE
                       -- a1.bad.org (most specific) beats bad.org
                       WHEN doc_id % 5 = 0 AND doc_id % 3 = 1 THEN 'a1.bad.org'
                       WHEN doc_id % 5 = 0 THEN 'bad.org'
                       WHEN doc_id % 40 = 3 THEN 'site3.com'
                       WHEN doc_id % 40 = 17 THEN 'site17.com'
                       ELSE 'allowed' END AS verdict
              FROM documents)
            SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM v GROUP BY 1 ORDER BY 1"""))

  /** Model-based quality gate via the hashing trick: every document scored
    * by a hashed-feature linear classifier — ONE codegen expression
    * ([[graft.plans.HashedLinearScore]]), so the whole corpus is scored
    * map-side at scan speed, the shape a learned quality filter must have
    * at 100 TB. Weights are the deterministic integer ramp (b mod 7) − 3
    * over 4096 buckets, so per-source pass/score aggregates are exact
    * BIGINTs; the oracle replays tokenize→xxhash64→bucket→ramp→sum in SQL. */
  val q205_hash_classifier = Q(
    "q205_hash_classifier",
    (s, dir) => {
      import graft.text.TextFunctions
      import org.apache.spark.sql.graft.ExprColumn
      val d = t(s, dir, "documents")
        .withColumn("toks", TextFunctions.tokens(TextFunctions.normalize(col("text"))))
        .withColumn("score",
          ExprColumn(graft.plans.HashedLinearScore(ExprColumn.expr(col("toks")), 4096)))
      d.groupBy(col("source"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          count(col("score")).cast("long").as("n_scored"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).cast("long").as("n_pass"),
          coalesce(sum(col("score")), lit(0L)).cast("long").as("sum_score"))
        .orderBy("source")
    },
    Some {
      import graft.tools.OracleSql._
      val base = s"SELECT doc_id, source, " +
        s"list_filter(string_split(${normalizeSql("text")}, ' '), t -> len(t) > 0) AS toks " +
        "FROM documents"
      val tk = s"SELECT doc_id, unnest(toks) AS tok FROM ($base)"
      val hashed = xxhash64Stages(tk, "tok", "hv", pfx = "__q205")
      s"""WITH base AS ($base),
            hashed AS ($hashed),
            sc AS (SELECT doc_id,
                          CAST(SUM(((((hv % 4096) + 4096) % 4096) % 7) - 3) AS BIGINT) AS score
                   FROM hashed GROUP BY 1)
          SELECT b.source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(sc.score) AS BIGINT) AS n_scored,
                 CAST(SUM(CASE WHEN sc.score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                 CAST(COALESCE(SUM(sc.score), 0) AS BIGINT) AS sum_score
          FROM base b LEFT JOIN sc ON b.doc_id = sc.doc_id
          GROUP BY 1 ORDER BY 1"""
    })

  /** Corpus Zipf-law audit: global word-frequency ranks bucketed by
    * floor-log2(rank) with per-bucket counts and frequency mass — the
    * vocabulary-shape report behind tokenizer and filtering decisions.
    * One word-count aggregate (map-side combine over the corpus), then a
    * single global sort of the VOCABULARY (≪ corpus; the only global
    * stage touches distinct words, never documents). Integer-only via the
    * floor-log2 `length(bin(rank)) − 1` spelling, bit-stable across
    * engines. */
  val q207_zipf = Q(
    "q207_zipf",
    (s, dir) => {
      import graft.text.TextFunctions
      import org.apache.spark.sql.expressions.Window
      val words = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("w"))
      val freq = words.groupBy(col("w")).agg(count(lit(1)).as("f"))
      freq
        .withColumn("rank", row_number().over(Window.orderBy(col("f").desc, col("w"))))
        .withColumn("bucket", expr("length(bin(rank)) - 1").cast("long"))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).cast("long").as("n_words"),
          sum(col("f")).cast("long").as("freq_mass"),
          max(col("f")).cast("long").as("max_f"),
          min(col("f")).cast("long").as("min_f"))
        .orderBy("bucket")
    },
    Some {
      import graft.tools.OracleSql._
      s"""WITH toks AS (SELECT unnest(list_filter(string_split(${normalizeSql("text")}, ' '),
                                      t -> len(t) > 0)) AS w
                        FROM documents),
            f AS (SELECT w, COUNT(*) AS f FROM toks GROUP BY 1),
            r AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS rank FROM f)
          SELECT CAST(length(bin(rank)) - 1 AS BIGINT) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_words,
                 CAST(SUM(f) AS BIGINT) AS freq_mass,
                 CAST(MAX(f) AS BIGINT) AS max_f,
                 CAST(MIN(f) AS BIGINT) AS min_f
          FROM r GROUP BY 1 ORDER BY 1"""
    })

  /** TextTiling-style topic segmentation (Hearst CL'97, integerized —
    * [[graft.text.TextFunctions.topicBoundaries]]): per document, w=10
    * token blocks, adjacent-block multiset-overlap similarity per gap,
    * boundary = strict local minimum below the per-doc median (med2
    * integer-median gate). Every 6th document gets a 40-token second
    * topic appended (disjoint vocabulary), planting a deep valley at the
    * junction the detector must find. Oracle replays the full block/gap/
    * median arithmetic in SQL — token equality only, no hashing needed. */
  val q229_topic_segments = Q(
    "q229_topic_segments",
    (s, dir) => {
      val topic2 = Seq.fill(8)("reactor turbine coolant valve inspection").mkString(" ")
      val corpus = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        when(col("doc_id") % 6 === 0, concat(col("text"), lit(" " + topic2)))
          .otherwise(col("text")).as("text"))
      TextFunctions.topicBoundaries(corpus, "doc_id", "text", w = 10)
        .select(col("doc_id"),
          col("n_gaps").cast("long").as("n_gaps"),
          col("n_boundaries").cast("long").as("n_boundaries"),
          col("deepest_gap").cast("long").as("deepest_gap"),
          col("min_sim").cast("long").as("min_sim"))
        .orderBy("doc_id")
    },
    Some {
      import graft.tools.OracleSql._
      val topic2 = Seq.fill(8)("reactor turbine coolant valve inspection").mkString(" ")
      s"""WITH corpus AS (
              SELECT doc_id::BIGINT AS doc_id,
                     CASE WHEN doc_id % 6 = 0 THEN text || ' $topic2' ELSE text END AS text
              FROM documents),
            d AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(${normalizeSql("text")}), '\\s+'),
                                 t -> len(t) > 0) AS toks
              FROM corpus),
            pos AS (
              SELECT doc_id, unnest(toks) AS tok,
                     generate_subscripts(toks, 1) - 1 AS p0, len(toks) AS L
              FROM d),
            blocked AS (
              SELECT doc_id, p0 // 10 AS blk, tok, L // 10 AS nblk
              FROM pos WHERE p0 < (L // 10) * 10),
            bc AS (
              SELECT doc_id, blk, tok, COUNT(*) AS c, MAX(nblk) AS nblk
              FROM blocked GROUP BY 1, 2, 3),
            sims AS (
              SELECT l.doc_id, r.blk AS g, SUM(LEAST(l.c, r.c)) AS sim
              FROM bc l JOIN bc r
                ON l.doc_id = r.doc_id AND l.tok = r.tok AND r.blk = l.blk + 1
              GROUP BY 1, 2),
            spine AS (
              SELECT doc_id, unnest(range(1, nblk)) AS g
              FROM (SELECT doc_id, MAX(nblk) AS nblk FROM bc GROUP BY 1)
              WHERE nblk >= 2),
            dense AS (
              SELECT s.doc_id, s.g, COALESCE(si.sim, 0) AS sim
              FROM spine s LEFT JOIN sims si ON si.doc_id = s.doc_id AND si.g = s.g),
            scored AS (
              SELECT doc_id, g, sim,
                     COUNT(*) OVER (PARTITION BY doc_id) AS m,
                     ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sim, g) AS rk,
                     COALESCE(LAG(sim) OVER (PARTITION BY doc_id ORDER BY g),
                              9223372036854775807) AS prv,
                     COALESCE(LEAD(sim) OVER (PARTITION BY doc_id ORDER BY g),
                              9223372036854775807) AS nxt
              FROM dense),
            med AS (
              SELECT doc_id,
                     MAX(CASE WHEN rk = (m + 1) // 2 THEN sim END) +
                       MAX(CASE WHEN rk = (m + 2) // 2 THEN sim END) AS med2
              FROM scored GROUP BY 1)
          SELECT s.doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_gaps,
                 CAST(SUM(CASE WHEN s.sim < s.prv AND s.sim < s.nxt
                                AND 2 * s.sim < md.med2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries,
                 CAST(MAX(CASE WHEN s.rk = 1 THEN s.g END) AS BIGINT) AS deepest_gap,
                 CAST(MIN(s.sim) AS BIGINT) AS min_sim
          FROM scored s JOIN med md ON md.doc_id = s.doc_id
          GROUP BY s.doc_id ORDER BY s.doc_id"""
    })

  /** Skip-gram training-pair generation (word2vec/SGNS data prep,
    * Mikolov '13): per document, (center, context) pairs within a ±2
    * token window plus one hash-drawn negative context per pair — the
    * deterministic stand-in for unigram negative sampling, keyed on
    * (doc, position, offset) so both engines draw the identical negative
    * (the q135/q169 integer-randomness convention). The report aggregates
    * per offset: pair volume, distinct centers, self-cooccurrence count,
    * and the negative-index checksum. One posexplode + 4 window LEADs/
    * LAGs; the only driver scalar is the vocabulary size (the negative
    * draw's modulus). */
  val q236_skipgram_pairs = Q(
    "q236_skipgram_pairs",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          posexplode(array_compact(TextFunctions.tokens(TextFunctions.normalize(col("text")))))
            .as(Seq("p", "tok")))
      // negatives are drawn as vocabulary INDICES — only the modulus (the
      // vocabulary size) is needed, a single bounded scalar
      val vocabSize = toks.select(col("tok")).distinct().count()
      val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val withCtx = toks
        .withColumn("m2", lag(col("tok"), 2).over(w))
        .withColumn("m1", lag(col("tok"), 1).over(w))
        .withColumn("p1", lead(col("tok"), 1).over(w))
        .withColumn("p2", lead(col("tok"), 2).over(w))
      val pairs = withCtx.select(col("doc_id"), col("p"), col("tok"),
        explode(array(
          struct(lit(-2L).as("off"), col("m2").as("ctx")),
          struct(lit(-1L).as("off"), col("m1").as("ctx")),
          struct(lit(1L).as("off"), col("p1").as("ctx")),
          struct(lit(2L).as("off"), col("p2").as("ctx")))).as("c"))
        .select(col("doc_id"), col("p"), col("tok"),
          col("c.off").as("off"), col("c.ctx").as("ctx"))
        .filter(col("ctx").isNotNull)
        .withColumn("neg_idx",
          pmod(xxhash64(col("doc_id") * 1048576L + col("p") * 8L + (col("off") + 4L)),
            lit(vocabSize)))
      pairs.groupBy(col("off"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          countDistinct(col("tok")).cast("long").as("distinct_centers"),
          sum(when(col("tok") === col("ctx"), 1L).otherwise(0L)).cast("long").as("self_pairs"),
          sum(col("neg_idx")).cast("long").as("neg_checksum"))
        .orderBy("off")
    },
    Some {
      import graft.tools.OracleSql._
      val toks =
        s"""SELECT doc_id::BIGINT AS doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) - 1 AS p
            FROM (SELECT doc_id,
                    list_filter(regexp_split_to_array(trim(${normalizeSql("text")}), '\\s+'),
                                t -> len(t) > 0) AS toks
                  FROM documents)"""
      val pairsRel =
        s"""SELECT doc_id, p, tok, off, ctx,
                   doc_id * 1048576 + p * 8 + (off + 4) AS negkey
            FROM (
              SELECT doc_id, p, tok, u.off,
                     CASE u.off
                       WHEN -2 THEN LAG(tok, 2) OVER w WHEN -1 THEN LAG(tok, 1) OVER w
                       WHEN 1 THEN LEAD(tok, 1) OVER w ELSE LEAD(tok, 2) OVER w END AS ctx
              FROM tk CROSS JOIN (SELECT unnest([-2, -1, 1, 2]) AS off) u
              WINDOW w AS (PARTITION BY doc_id, u.off ORDER BY p))
            WHERE ctx IS NOT NULL"""
      val hashed = xxhash64LongStages("SELECT * FROM pairs_rel", "negkey", "h", pfx = "__n")
      s"""WITH tk AS ($toks),
            vs AS (SELECT COUNT(DISTINCT tok)::BIGINT AS v FROM tk),
            pairs_rel AS ($pairsRel),
            hashed AS ($hashed),
            neg AS (SELECT hashed.*, ((h % (SELECT v FROM vs)) + (SELECT v FROM vs)) % (SELECT v FROM vs) AS neg_idx
                    FROM hashed)
          SELECT CAST(off AS BIGINT) AS off,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(COUNT(DISTINCT tok) AS BIGINT) AS distinct_centers,
                 CAST(SUM(CASE WHEN tok = ctx THEN 1 ELSE 0 END) AS BIGINT) AS self_pairs,
                 CAST(SUM(neg_idx) AS BIGINT) AS neg_checksum
          FROM neg GROUP BY 1 ORDER BY 1"""
    })

  /** Trainable integer Naive Bayes source classifier over hashed features
    * — the LEARNED counterpart of q205's fixed-ramp gate: multinomial NB
    * with the hashing trick (1024 buckets), an 80/20 hash split, and ALL
    * likelihood arithmetic in floor-log2 (`length(bin(x)) − 1` — the
    * bit-stable integer logarithm of q90/q178; real NB log-probs are libm
    * territory and flap across engines). Score(d, c) =
    * Σ_b cnt_b·flog2(n(c,b)+1) − T_d·flog2(N_c+1) + flog2(D_c+1), where
    * flog2 is the 1/16-resolution fixed-point log2 (16·msb + mantissa
    * nibble — exact in both engines; unit-step flog2 drowned the evidence
    * in quantization noise); prediction = argmax with (score desc, class)
    * tie order. The watermarked half of the test split classifies near-
    * perfectly, the unwatermarked half sits at the 1/C floor — overall
    * ≈ 51 % vs the 5 % random baseline. Scale shape:
    * the model is a ≤ classes×buckets count table (broadcast side), test
    * docs reduce to (doc, bucket, cnt) before any join, and the
    * doc×class spine is |test|×C rows. Output: per-class test accuracy. */
  val q237_naive_bayes = Q(
    "q237_naive_bayes",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // every even doc carries a class-pure watermark token — the planted
      // learnable signal (the synthetic sources are otherwise vocabulary-
      // indistinguishable and ANY classifier sits at the 1/C floor); the
      // model must still LEARN the association from the train split
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          when(col("doc_id") % 2 === 0,
            concat(col("text"),
              lit(" beacon"), col("source"), lit(" beacon"), col("source"),
              lit(" beacon"), col("source")))
            .otherwise(col("text")).as("text"))
        .withColumn("is_test", pmod(xxhash64(col("doc_id")), lit(5L)) === 0L)
      val toks = docs.select(col("doc_id"), col("source"), col("is_test"),
          explode(array_compact(TextFunctions.tokens(TextFunctions.normalize(col("text"))))).as("tok"))
        .withColumn("b", pmod(xxhash64(col("tok")), lit(1024L)))
        .localCheckpoint(true) // feeds model AND scoring
      // fixed-point log2 with 1/16 resolution: 16·msb + mantissa-nibble —
      // the flog2 idiom (bit-stable across engines) at the precision a
      // working classifier needs (unit-step flog2 quantization noise
      // across ~100 shared-vocabulary tokens swamps any single-token
      // evidence; at 1/16 steps the shared terms cancel and evidence wins)
      def flog2(c: Column): Column = {
        val msb = (length(bin(c)) - 1).cast("int")
        // (c·16) / 2^msb: division by a power of two is EXACT in doubles
        // for c·16 < 2^53, so floor() is the integer // both engines agree on
        val nibble = floor(c.cast("double") * 16d / pow(lit(2.0), msb.cast("double")))
        (lit(16L) * msb - 16L + nibble.cast("long")).cast("long")
      }
      val model = toks.filter(!col("is_test"))
        .groupBy(col("source").as("c"), col("b"))
        .agg(count(lit(1)).as("n"))
        .withColumn("term", flog2(col("n") + 1))
      val classStats = toks.filter(!col("is_test"))
        .groupBy(col("source").as("c"))
        .agg(count(lit(1)).as("ntok"))
        .join(docs.filter(!col("is_test")).groupBy(col("source").as("c"))
          .agg(count(lit(1)).as("ndoc")), Seq("c"))
        .select(col("c"), flog2(col("ntok") + 1).as("flog_ntok"),
          flog2(col("ndoc") + 1).as("flog_ndoc"))
      val testBuckets = toks.filter(col("is_test"))
        .groupBy(col("doc_id"), col("b"))
        .agg(count(lit(1)).as("cnt"))
      val part1 = testBuckets.join(model, Seq("b"))
        .groupBy(col("doc_id"), col("c"))
        .agg(sum(col("cnt") * col("term")).as("s1"))
      val testDocs = toks.filter(col("is_test"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("td"))
      val spine = testDocs.crossJoin(classStats)
      val scored = spine.join(part1, Seq("doc_id", "c"), "left")
        .withColumn("score",
          coalesce(col("s1"), lit(0L)) - col("td") * col("flog_ntok") + col("flog_ndoc"))
      val predicted = scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("c"))))
        .filter(col("rn") === 1)
      predicted.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_test"),
          sum(when(col("c") === col("source"), 1L).otherwise(0L)).cast("long").as("n_correct"))
        .orderBy("source")
    },
    Some {
      import graft.tools.OracleSql._
      val split = xxhash64LongStages(
        """SELECT doc_id::BIGINT AS doc_id, source,
                  CASE WHEN doc_id % 2 = 0
                       THEN text || repeat(' beacon' || source, 3)
                       ELSE text END AS text
           FROM documents""", "doc_id", "dh", pfx = "__d")
      val toks =
        s"""SELECT doc_id, source, is_test, unnest(toks) AS tok
            FROM (SELECT doc_id, source, is_test,
                    list_filter(regexp_split_to_array(trim(${normalizeSql("text")}), '\\s+'),
                                t -> len(t) > 0) AS toks
                  FROM docs)"""
      val hashedTok = xxhash64Stages("SELECT DISTINCT tok FROM tk0", "tok", "th", pfx = "__t")
      s"""WITH hashed_docs AS ($split),
            docs AS (SELECT doc_id, source, text,
                            ((dh % 5) + 5) % 5 = 0 AS is_test
                     FROM hashed_docs),
            tk0 AS ($toks),
            ht AS ($hashedTok),
            tk AS (SELECT tk0.doc_id, tk0.source, tk0.is_test,
                          ((ht.th % 1024) + 1024) % 1024 AS b
                   FROM tk0 JOIN ht USING (tok)),
            model AS (SELECT source AS c, b, COUNT(*) AS n,
                             (16 * (length(bin(COUNT(*) + 1)) - 1) - 16 + ((COUNT(*) + 1) * 16) // (1::BIGINT << (length(bin(COUNT(*) + 1)) - 1))) AS term
                      FROM tk WHERE NOT is_test GROUP BY 1, 2),
            cstats AS (SELECT t.c, (16 * (length(bin(t.ntok + 1)) - 1) - 16 + ((t.ntok + 1) * 16) // (1::BIGINT << (length(bin(t.ntok + 1)) - 1))) AS flog_ntok,
                              (16 * (length(bin(d.ndoc + 1)) - 1) - 16 + ((d.ndoc + 1) * 16) // (1::BIGINT << (length(bin(d.ndoc + 1)) - 1))) AS flog_ndoc
                       FROM (SELECT source AS c, COUNT(*) AS ntok FROM tk
                             WHERE NOT is_test GROUP BY 1) t
                       JOIN (SELECT source AS c, COUNT(*) AS ndoc FROM docs
                             WHERE NOT is_test GROUP BY 1) d USING (c)),
            tb AS (SELECT doc_id, b, COUNT(*) AS cnt FROM tk WHERE is_test GROUP BY 1, 2),
            p1 AS (SELECT tb.doc_id, model.c, SUM(tb.cnt * model.term) AS s1
                   FROM tb JOIN model USING (b) GROUP BY 1, 2),
            td AS (SELECT doc_id, source, COUNT(*) AS td FROM tk WHERE is_test GROUP BY 1, 2),
            scored AS (SELECT td.doc_id, td.source, cs.c,
                              COALESCE(p1.s1, 0) - td.td * cs.flog_ntok + cs.flog_ndoc AS score
                       FROM td CROSS JOIN cstats cs
                       LEFT JOIN p1 ON p1.doc_id = td.doc_id AND p1.c = cs.c),
            pred AS (SELECT * FROM (
                       SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, c) AS rn
                       FROM scored) WHERE rn = 1)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_test,
                 CAST(SUM(CASE WHEN c = source THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
          FROM pred GROUP BY 1 ORDER BY 1"""
    })

  /** Positional proximity search ([[graft.text.Search.proximityMinSpan]]
    * — the position-aware rung above the bag-of-words retrievers: TF-IDF
    * (q24-family) and BM25 score "hash join" and "join … 500 tokens …
    * hash" identically; the proximity ranker does not): documents
    * containing both "hash" and "join" ranked by minimum token distance.
    * Min-span via the sorted-union adjacency property — one doc-keyed lag
    * window instead of the quadratic occurrence pair join; a sound
    * `contains` superset prefilter keeps the tokenizer off non-candidate
    * docs. Oracle replays tokenization, the lag window, and the
    * (span, id) top-k. */
  val q296_proximity_search = Q(
    "q296_proximity_search",
    (s, dir) => {
      graft.text.Search.proximityMinSpan(
        t(s, dir, "documents"), "doc_id", "text", "hash", "join", k = 20)
        .select(col("id").cast("long").as("doc_id"), col("n_a"), col("n_b"), col("min_span"))
    },
    Some {
      import graft.tools.OracleSql._
      val ws = """'\s+'"""
      s"""WITH cand AS (
            SELECT doc_id, text FROM documents
            WHERE contains(lower(text), 'hash') AND contains(lower(text), 'join')),
          toks AS (
            SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) - 1 AS p
            FROM (SELECT doc_id,
                    list_filter(regexp_split_to_array(${normalizeSql("text")}, $ws),
                                x -> len(x) > 0) AS toks
                  FROM cand)),
          occ AS (SELECT doc_id, p, t FROM toks WHERE t IN ('hash', 'join')),
          lagged AS (
            SELECT doc_id, p, t, LAG(p) OVER w AS pp, LAG(t) OVER w AS pt
            FROM occ WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
          agg AS (
            SELECT doc_id,
                   SUM(CASE WHEN t = 'hash' THEN 1 ELSE 0 END)::BIGINT AS n_a,
                   SUM(CASE WHEN t = 'join' THEN 1 ELSE 0 END)::BIGINT AS n_b,
                   MIN(CASE WHEN pt IS NOT NULL AND pt <> t THEN p - pp END)::BIGINT AS min_span
            FROM lagged GROUP BY 1)
          SELECT doc_id::BIGINT AS doc_id, n_a, n_b, min_span
          FROM agg WHERE n_a > 0 AND n_b > 0
          ORDER BY min_span, doc_id LIMIT 20"""
    })

  /** TextRank keyword extraction — text × graph COMPOSITION, no new
    * operator: adjacent-token co-occurrence edges (count ≥ 3 prune) over
    * the normalized document corpus feed the integer fixed-point
    * PageRank ([[graft.operators.Graph.pageRankFixedPoint]], q119's
    * bit-stable arithmetic), word ids are dense ranks over the surviving
    * vocabulary (a census-sized window), top-15 keywords by (rank, word).
    * The oracle replays tokenization, pair census, id assignment, and
    * the 5-round integer chain. */
  val q336_textrank = Q(
    "q336_textrank",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          split(graft.text.TextFunctions.normalize(col("text")), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
      val pairs = toks
        .select(explode(expr(
          "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS a, ws[i + 1] AS b))"))
          .as("p"))
        .select(col("p.a"), col("p.b"))
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 3)
        .localCheckpoint(true)
      val vocab = pairs.select(col("a").as("w")).unionByName(pairs.select(col("b").as("w")))
        .distinct()
        .withColumn("id", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("w"))).cast("long"))
        .localCheckpoint(true)
      val ida = vocab.select(col("w").as("a"), col("id").as("src"))
      val idb = vocab.select(col("w").as("b"), col("id").as("dst"))
      val edges = pairs.join(ida, Seq("a")).join(idb, Seq("b")).select(col("src"), col("dst"))
      val sym = edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      graft.operators.Graph.pageRankFixedPoint(sym, iterations = 5)
        .join(vocab.select(col("id").as("node"), col("w")), Seq("node"))
        .select(col("w").as("word"), col("rank").cast("long").as("rank"))
        .orderBy(col("rank").desc, col("word"))
        .limit(15)
    },
    Some {
      val iters = (1 to 5).map { i =>
        val prev = s"r${i - 1}"
        s"""r$i AS (
              SELECT nodes.node,
                     (SELECT (1000000000::BIGINT * 15) // (100 * n) FROM consts)
                     + (85 * COALESCE(sm.s, 0)) // 100 AS rank
              FROM nodes LEFT JOIN (
                SELECT ed.dst AS node, SUM($prev.rank // ed.outdeg) AS s
                FROM ed JOIN $prev ON ed.src = $prev.node GROUP BY 1) sm USING (node))"""
      }.mkString(",\n          ")
      s"""WITH tk AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array($normSql, $wsSql), x -> x <> '') AS ws
            FROM documents),
          pr0 AS (
            SELECT u.p.a AS a, u.p.b AS b
            FROM (SELECT list_transform(range(1, len(ws)), i ->
                    {'a': ws[i], 'b': ws[i + 1]}) AS prs
                  FROM tk WHERE len(ws) >= 2) t,
                 UNNEST(t.prs) AS u(p)),
          pairs AS (
            SELECT a, b, COUNT(*) AS c FROM pr0 WHERE a <> b
            GROUP BY 1, 2 HAVING COUNT(*) >= 3),
          vocab AS (
            SELECT w, ROW_NUMBER() OVER (ORDER BY w) AS id
            FROM (SELECT DISTINCT a AS w FROM pairs
                  UNION SELECT DISTINCT b FROM pairs)),
          e0 AS (
            SELECT va.id AS src, vb.id AS dst
            FROM pairs JOIN vocab va ON pairs.a = va.w
                       JOIN vocab vb ON pairs.b = vb.w),
          e AS (SELECT DISTINCT src, dst FROM
                  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
          nodes AS (
            SELECT DISTINCT node
            FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          consts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
          deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
          ed AS (SELECT e.src, e.dst, d.outdeg FROM e JOIN deg d USING (src)),
          r0 AS (SELECT node, (SELECT 1000000000::BIGINT // n FROM consts) AS rank FROM nodes),
          $iters
          SELECT v.w AS word, CAST(r5.rank AS BIGINT) AS rank
          FROM r5 JOIN vocab v ON r5.node = v.id
          ORDER BY r5.rank DESC, v.w
          LIMIT 15"""
    })

  /** Paired text eval ([[graft.text.EvalText.ngramOverlapEval]] — ROUGE-2
    * recall / BLEU-2 clipped precision / brevity over candidate =
    * 200-char prefix vs reference = 300-char prefix of each document, per
    * language; the clip is a per-document (id, gram) census join, exact
    * ppm, no libm). */
  val q376_text_eval = Q(
    "q376_text_eval",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("lang"), col("doc_id"),
        substring(col("text"), 1, 200).as("cand"),
        substring(col("text"), 1, 300).as("ref"))
      graft.text.EvalText.ngramOverlapEval(d, "doc_id", "cand", "ref", 2, Seq("lang"))
        .orderBy("lang")
    },
    Some("""WITH d AS (
              SELECT lang, doc_id,
                     substr(text, 1, 200) AS cand, substr(text, 1, 300) AS ref
              FROM documents),
            ct AS (SELECT lang, doc_id, string_split(cand, ' ') AS t FROM d),
            rt AS (SELECT lang, doc_id, string_split(ref, ' ') AS t FROM d),
            cg AS (
              SELECT lang, doc_id, g, COUNT(*) AS cc FROM (
                SELECT lang, doc_id,
                       unnest([t[j] || ' ' || t[j + 1] FOR j IN range(1, len(t))]) AS g
                FROM ct) GROUP BY 1, 2, 3),
            rg AS (
              SELECT lang, doc_id, g, COUNT(*) AS rc FROM (
                SELECT lang, doc_id,
                       unnest([t[j] || ' ' || t[j + 1] FOR j IN range(1, len(t))]) AS g
                FROM rt) GROUP BY 1, 2, 3),
            clip AS (
              SELECT COALESCE(cg.lang, rg.lang) AS lang,
                     SUM(COALESCE(cc, 0)) AS cand_grams,
                     SUM(COALESCE(rc, 0)) AS ref_grams,
                     SUM(LEAST(COALESCE(cc, 0), COALESCE(rc, 0))) AS matched
              FROM cg FULL OUTER JOIN rg
                ON cg.lang = rg.lang AND cg.doc_id = rg.doc_id AND cg.g = rg.g
              GROUP BY 1),
            lens AS (
              SELECT lang, COUNT(*) AS n_docs,
                     SUM(len(string_split(cand, ' '))) AS ctok,
                     SUM(len(string_split(ref, ' '))) AS rtok
              FROM d GROUP BY 1)
            SELECT lens.lang, n_docs::BIGINT AS n_docs,
                   COALESCE(cand_grams, 0)::BIGINT AS cand_grams,
                   COALESCE(ref_grams, 0)::BIGINT AS ref_grams,
                   COALESCE(matched, 0)::BIGINT AS matched_grams,
                   CAST((COALESCE(matched, 0) * 1000000)
                     // NULLIF(COALESCE(ref_grams, 0), 0) AS BIGINT)
                     AS rouge_recall_ppm,
                   CAST((COALESCE(matched, 0) * 1000000)
                     // NULLIF(COALESCE(cand_grams, 0), 0) AS BIGINT)
                     AS bleu_precision_ppm,
                   CAST((ctok * 1000000) // NULLIF(rtok, 0) AS BIGINT) AS brevity_ppm
            FROM lens LEFT JOIN clip ON lens.lang = clip.lang
            ORDER BY 1"""))

  /** Model-based quality gate driven from SQL TEXT (the q188 route): the
    * r14 verdict noted `hashed_linear_score` was Column-API-only, so a
    * spark.sql user could not reach the model gate — it (plus
    * `nearest_centroid_idx` / `hyperplane_buckets`) is now SQL-registered
    * via GraftExtensions. The gate is spelled as CONDITIONAL AGGREGATION
    * over one scored projection, not filter-then-aggregate: inside one
    * aggregate operator codegen subexpression-elimination computes the
    * score once per row, while a WHERE on the projected score would be
    * pushed below the projection and evaluate the scorer twice (the q78
    * lesson, applied to the SQL surface). Scores are exact BIGINTs (the
    * integer-ramp weight table), so sums hash-match. */
  val q384_sql_model_gate = Q(
    "q384_sql_model_gate",
    (s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_q384_docs")
      s.sql("""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN score >= 0 THEN score END) AS BIGINT) AS kept_score
        FROM (
          SELECT lang,
                 hashed_linear_score(
                   filter(split(trim(lower(text)), '\\s+'), t -> length(t) > 0), 64) AS score
          FROM graft_q384_docs)
        GROUP BY lang ORDER BY lang""")
    },
    Some {
      val hashed = graft.tools.OracleSql.xxhash64Stages(
        "SELECT doc_id, tok AS src FROM toks", "src", "h", pfx = "__m")
      s"""WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                      x -> len(x) > 0)) AS tok
            FROM documents),
          hashed AS ($hashed),
          scores AS (
            SELECT doc_id, SUM((((h % 64) + 64) % 64) % 7 - 3) AS score
            FROM hashed GROUP BY 1),
          perdoc AS (
            SELECT d.lang, s.score
            FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id)
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(SUM(CASE WHEN score >= 0 THEN score END) AS BIGINT) AS kept_score
          FROM perdoc GROUP BY 1 ORDER BY 1"""
    })

  /** Vocabulary richness ([[graft.text.TextFunctions.vocabularyRichness]]
    * — bias-corrected Chao1 lower bound + Good–Turing unseen mass over
    * the per-language token census; the "is more crawl worth it" report,
    * exact ppm rationals of the frequency-of-frequencies). */
  val q393_vocab_richness = Q(
    "q393_vocab_richness",
    (s, dir) => {
      graft.text.TextFunctions
        .vocabularyRichness(t(s, dir, "documents"), "text", Seq("lang"))
        .orderBy("lang")
    },
    Some("""WITH toks AS (
              SELECT lang,
                     unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                        x -> len(x) > 0)) AS tok
              FROM documents),
            cen AS (SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
            agg AS (
              SELECT lang, SUM(c) AS n_tokens, COUNT(*) AS vocab,
                     SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
                     SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
              FROM cen GROUP BY 1)
            SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(vocab AS BIGINT) AS vocab,
                   CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
                   CAST(vocab * 1000000 +
                     (CAST(f1 AS HUGEINT) * (f1 - 1) * 1000000) // (2 * (f2 + 1))
                     AS BIGINT) AS chao1_ppm,
                   CAST((f1 * 1000000) // n_tokens AS BIGINT) AS unseen_mass_ppm
            FROM agg ORDER BY 1"""))

  val all: Seq[Q] = Seq(
    q24_tokens, q25_quality, q30_lang, q40_quality_features, q77_vocab, q79_redact, q83_repetition,
    q84_gopher_filter, q86_bm25, q90_lm_score, q92_seq_pack, q93_unicode_norm, q94_bpe_train,
    q97_bpe_encode, q101_inverted_index, q148_chunking, q151_tfidf_topk, q152_collocations,
    q160_html_strip, q161_link_extract, q166_code_switch, q167_chat_flatten, q173_novelty,
    q174_domain_gate, q176_oov, q178_fertility, q181_keywords, q186_char_entropy, q187_blocklist,
    q205_hash_classifier, q207_zipf, q229_topic_segments, q236_skipgram_pairs, q237_naive_bayes,
    q296_proximity_search, q336_textrank, q376_text_eval, q384_sql_model_gate, q393_vocab_richness)
}
