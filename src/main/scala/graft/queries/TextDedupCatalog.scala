package graft

import org.apache.spark.sql.functions._

import graft.text.{Dedup, TextFunctions}

import graft.QueryDsl._

/** Catalog family, text sub-family: deduplication and record linkage —
  * exact, MinHash/SimHash/b-bit near-dup, line/span/containment dedup,
  * fingerprints, incremental and registry-backed dedup, blocking and
  * entity resolution. COVERAGE.md dedup and linkage rows. Registered in
  * [[graft.Queries]]. */
private[graft] object TextDedupCatalog {

  /** Exact deduplication by normalized-content hash; corpus augmented with
    * exact copies so the dedup has something to find. */
  val q26_dedup_exact = Q(
    "q26_dedup_exact",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = d.withColumn("doc_id", col("doc_id") + 1000000L)
      val corpus = d.unionByName(copies)
      corpus
        .select(col("doc_id"), md5(TextFunctions.normalize(col("text"))).as("fp"))
        .groupBy("fp")
        .agg(min(col("doc_id")).cast("long").as("keep_id"), count(lit(1)).cast("long").as("n_dups"))
        .orderBy("keep_id")
    },
    Some("""SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp,
            CAST(MIN(doc_id) AS BIGINT) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups
            FROM (SELECT doc_id, text FROM documents
                  UNION ALL SELECT doc_id + 1000000, text FROM documents)
            GROUP BY 1 ORDER BY keep_id"""))

  /** MinHash+LSH near-dup detection, exact-Jaccard verified; corpus
    * augmented with last-word-dropped copies (Jaccard ≈ (m-1)/m ≥ 0.9, LSH
    * detection probability ≈ 1 at 16 bands × 4 rows). */
  val q29_dedup_minhash = Q(
    "q29_dedup_minhash",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val clipped = d.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), lit(1), size(split(trim(col("text")), "\\s+")) - 1), " ")
          .as("text"))
      val corpus = d.unionByName(clipped)
      Dedup
        .minhashNearDuplicates(corpus, "doc_id", "text", bands = 16, rowsPerBand = 4, shingleSize = 3, threshold = 0.8)
        .select(
          col("id1").cast("long").as("id1"),
          col("id2").cast("long").as("id2"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id1", "id2")
    },
    Some(raw"""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                array_to_string(toks[1:len(toks)-1], ' ')
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
            sh AS (
              ${shingleSetsSql("corpus")}),
            sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
            ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS ic
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT id1, id2, CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) AS jaccard
              FROM inter JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2)
            SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
              ROUND(jaccard, 4) AS jaccard
            FROM pairs WHERE jaccard >= 0.8 ORDER BY id1, id2"""))

  /** DuckDB replay of the 64-bit token SimHash over `corpus`'s
    * (doc_id, text): CTEs `hashed`, `bits` and `sig(doc_id, sigu)` — each
    * normalized token's xxhash64, voted bit by bit. */
  private def simhashSigSql(corpus: String): String = {
    import graft.tools.OracleSql._
    val toks =
      s"""SELECT doc_id, tok FROM (
              SELECT doc_id, unnest(string_split(${normalizeSql("text")}, ' ')) AS tok
              FROM ($corpus)) WHERE len(tok) > 0"""
    val hashed = xxhash64Stages(toks, "tok", "th", pfx = "__t")
    val bitsums = (0 until 64)
      .map(j => s"SUM(CASE WHEN (hu >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val sigexpr = (0 until 64)
      .map(j => s"CASE WHEN b$j > 0 THEN ${java.lang.Long.toUnsignedString(1L << j)}::HUGEINT ELSE 0::HUGEINT END")
      .mkString(" + ")
    s"""hashed AS (
            SELECT doc_id, CASE WHEN th < 0 THEN CAST(th::HUGEINT + 18446744073709551616::HUGEINT AS UBIGINT)
                                ELSE CAST(th AS UBIGINT) END AS hu
            FROM ($hashed)),
          bits AS (SELECT doc_id, $bitsums FROM hashed GROUP BY doc_id),
          sig AS (SELECT doc_id, CAST(($sigexpr) AS UBIGINT) AS sigu FROM bits)"""
  }

  /** SimHash near-dup pairs. The oracle replicates the engine-internal
    * xxhash64 bit-for-bit in pure DuckDB SQL (`tools.OracleSql`) and
    * replays the whole pipeline independently: per-token hash → 64 bit
    * votes → signature → rotate-and-block buckets → Hamming verify. */
  val q31_dedup_simhash = Q(
    "q31_dedup_simhash",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val clipped = d.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), lit(1), size(split(trim(col("text")), "\\s+")) - 1), " ")
          .as("text"))
      val corpus = d.unionByName(clipped)
      Dedup
        .simhashNearDuplicates(corpus, "doc_id", "text", maxDistance = 3)
        .select(
          col("id1").cast("long").as("id1"),
          col("id2").cast("long").as("id2"),
          col("distance").cast("long").as("distance"))
        .orderBy("id1", "id2")
    },
    Some {
      val corpus =
        s"""SELECT doc_id::BIGINT AS doc_id, text FROM documents
            UNION ALL
            SELECT doc_id::BIGINT + 1000000 AS doc_id,
                   array_to_string(rt[1:len(rt)-1], ' ') AS text
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS rt FROM documents)"""
      s"""WITH ${simhashSigSql(corpus)},
          buckets AS (
            SELECT doc_id, sigu, bb.b AS blk, (sigu >> (16 * bb.b)) & 65535 AS key
            FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) bb(b))
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                 CAST(bit_count(xor(a.sigu, b.sigu)) AS BIGINT) AS distance
          FROM buckets a JOIN buckets b ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sigu, b.sigu)) <= 3
          ORDER BY id1, id2"""
    })

  /** Document fingerprinting with an order-sensitive rolling hash: shows
    * reordered text fingerprints differently while the exact-normalized
    * fingerprint would not. Both hashes are oracle-checked: the DuckDB SQL
    * replays xxhash64 bit-for-bit (`tools.OracleSql`) for the content
    * fingerprint and per-token hashes, and rebuilds the positional
    * 31^i-weighted modular sum with a recursive power table. */
  val q34_fingerprint = Q(
    "q34_fingerprint",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // fingerprint rides along as a group key so one explode+groupBy pass
      // computes both hashes (rollingHashByDoc = the codegen'd form)
      val base = d.select(
        col("doc_id").cast("long").as("doc_id"),
        col("text"),
        TextFunctions.fingerprint(col("text")).as("content_fp"))
      TextFunctions
        .rollingHashByDoc(base, Seq("doc_id", "content_fp"), "text", "rolling_fp")
        .orderBy("doc_id")
    },
    Some {
      import graft.tools.OracleSql._
      val base = s"SELECT doc_id::BIGINT AS doc_id, ${normalizeSql("text")} AS norm FROM documents"
      val fp = xxhash64Stages(base, "norm", "content_fp", pfx = "__f")
      val toks =
        s"""SELECT doc_id, tok, p FROM (
              SELECT doc_id, unnest(string_split(norm, ' ')) AS tok,
                     generate_subscripts(string_split(norm, ' '), 1) AS p
              FROM fpc) WHERE len(tok) > 0"""
      // hash DISTINCT tokens, join back (vocab << token stream — the
      // staged XXH64 expression is the oracle's dominant cost)
      val hashedD = xxhash64Stages("SELECT DISTINCT tok FROM tk", "tok", "th", pfx = "__t")
      s"""WITH RECURSIVE fpc AS ($fp),
          tk AS ($toks),
          hd AS ($hashedD),
          hashed AS (SELECT tk.doc_id, tk.p, hd.th FROM tk JOIN hd USING (tok)),
          pw(i, v) AS (
            SELECT 1, 1::BIGINT
            UNION ALL
            SELECT i + 1, (v * 31) % 2147483647 FROM pw
            WHERE i < (SELECT coalesce(max(p), 1) FROM hashed)),
          rolled AS (
            SELECT h.doc_id,
                   CAST(SUM((((h.th % 2147483647) + 2147483647) % 2147483647) * pw.v % 2147483647) % 2147483647 AS BIGINT) AS rolling_fp
            FROM hashed h JOIN pw ON pw.i = h.p
            GROUP BY h.doc_id)
          SELECT f.doc_id, f.content_fp, coalesce(r.rolling_fp, 0) AS rolling_fp
          FROM fpc f LEFT JOIN rolled r ON r.doc_id = f.doc_id
          ORDER BY f.doc_id"""
    })

  /** Near-dup CLUSTERING (training-data pipeline op): LSH pairs are not a
    * dedup decision — near-duplication is transitive in practice, so the
    * pipeline needs connected components over the verified pairs and one
    * representative per component. Corpus: each doc plus two clipped
    * variants (chains full≈minus1≈minus2). Output: cluster-size histogram.
    * Oracle: exact-Jaccard pairs via inverted-index join (as q29) + a
    * recursive CTE computing min-reachable-id components — fully
    * independent of the LSH path. */
  val q69_dedup_clusters = Q(
    "q69_dedup_clusters",
    (s, dir) => {
      val corpus = clippedNearDupCorpus(s, dir)
      val pairs = Dedup
        .minhashNearDuplicates(corpus, "doc_id", "text", bands = 16, rowsPerBand = 4, shingleSize = 3, threshold = 0.8)
      Dedup.duplicateClusters(pairs)
        .groupBy(col("root")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize").cast("long").as("cluster_size"))
        .agg(count(lit(1)).cast("long").as("n_clusters"))
        .orderBy("cluster_size")
    },
    Some(s"""WITH RECURSIVE $nearDupComponentsCte,
            sizes AS (SELECT root, COUNT(*) AS csize FROM roots GROUP BY root)
            SELECT CAST(csize AS BIGINT) AS cluster_size,
                   CAST(COUNT(*) AS BIGINT) AS n_clusters
            FROM sizes GROUP BY 1 ORDER BY 1"""))

  /** Benchmark decontamination (training-data pipeline): flag corpus
    * documents sharing word 8-grams with a benchmark set — here the
    * benchmark is the 12-token prefix of every 97th document, so the
    * contaminated set is known and the overlap counts are exact. The
    * benchmark n-gram set broadcasts; the corpus never shuffles raw
    * n-grams. */
  val q78_decontaminate = Q(
    "q78_decontaminate",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val benchmark = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 12), " ").as("text"))
      Dedup.ngramOverlap(d, benchmark, "doc_id", "text", n = 8, minHits = 1L)
        .select(col("doc_id"), col("n_hits").cast("long").as("n_hits"))
        .orderBy("doc_id")
    },
    Some("""WITH bench AS (
              SELECT array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:12], ' ') AS text
              FROM documents WHERE doc_id % 97 = 0),
            norm_c AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), x -> len(x) > 0) AS toks
              FROM documents),
            norm_b AS (
              SELECT list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), x -> len(x) > 0) AS toks
              FROM bench),
            cg AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(toks) <= 8 THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' ')) END)) AS ng
              FROM norm_c),
            bg AS (
              SELECT DISTINCT unnest(list_distinct(
                CASE WHEN len(toks) <= 8 THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' ')) END)) AS ng
              FROM norm_b)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM cg JOIN bg USING (ng)
            GROUP BY doc_id HAVING COUNT(*) >= 1
            ORDER BY doc_id"""))

  /** Cross-corpus line dedup (training-data pipeline, C4-style "remove
    * repeated lines"): documents are split into three 8-token lines; a
    * second copy of the corpus shares its first two lines with the
    * original, so those lines must be kept only at their first (min id)
    * occurrence and the copies reassemble to just their distinct tail.
    * Intra-document repeats (empty lines in short docs) dedup too. */
  val q81_line_dedup = Q(
    "q81_line_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      def ln(from: Int, len: Int) = array_join(slice(col("toks"), from, len), " ")
      val orig = d.select(col("doc_id"),
        concat_ws("\n", ln(1, 8), ln(9, 8), ln(17, 8)).as("text"))
      val copy = d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws("\n", ln(1, 8), ln(9, 8), ln(17, 7)).as("text"))
      Dedup.dropRepeatedLines(orig.unionByName(copy), "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""WITH src AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
            corpus AS (
              -- coalesce: DuckDB yields NULL (not []) for fully out-of-range
              -- list slices, where Spark's slice gives an empty array
              SELECT doc_id,
                     coalesce(array_to_string(toks[1:8], ' '), '') || chr(10)
                       || coalesce(array_to_string(toks[9:16], ' '), '') || chr(10)
                       || coalesce(array_to_string(toks[17:24], ' '), '') AS text
              FROM src
              UNION ALL
              SELECT doc_id + 1000000,
                     coalesce(array_to_string(toks[1:8], ' '), '') || chr(10)
                       || coalesce(array_to_string(toks[9:16], ' '), '') || chr(10)
                       || coalesce(array_to_string(toks[17:23], ' '), '') AS text
              FROM src),
            ex AS (
              SELECT doc_id, i - 1 AS pos, parts[i] AS line
              FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM corpus),
                   UNNEST(range(1, len(parts) + 1)) AS r(i)),
            keep AS (
              SELECT doc_id, pos, line,
                     ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
              FROM ex)
            SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
            FROM keep WHERE rn = 1
            GROUP BY doc_id ORDER BY doc_id"""))

  /** Quality-aware near-dup resolution (training-data pipeline): like q69's
    * cluster construction, but each component keeps its highest-scoring
    * member (score = token count, so the untruncated original beats its
    * clipped copies; ties → min id) instead of the min-id one. The oracle
    * recomputes components with a recursive CTE — independent of the LSH
    * path — and replays the argmax. */
  val q82_dedup_keep_best = Q(
    "q82_dedup_keep_best",
    (s, dir) => {
      val corpus = clippedNearDupCorpus(s, dir)
        .withColumn("score", size(split(trim(col("text")), "\\s+")).cast("long"))
      val pairs = Dedup
        .minhashNearDuplicates(corpus, "doc_id", "text", bands = 16, rowsPerBand = 4, shingleSize = 3, threshold = 0.8)
      Dedup.dropNearDuplicatesKeepBest(corpus, pairs, "doc_id", "score")
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $nearDupComponentsCte,
            scored AS (
              SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS score FROM corpus),
            ranked AS (
              SELECT r.id, ROW_NUMBER() OVER (
                PARTITION BY r.root ORDER BY s.score DESC, r.id ASC) AS rn
              FROM roots r JOIN scored s ON r.id = s.doc_id),
            losers AS (SELECT id FROM ranked WHERE rn > 1)
            SELECT doc_id FROM corpus
            WHERE doc_id NOT IN (SELECT id FROM losers)
            ORDER BY doc_id"""))

  /** Exact-substring duplicate-span removal over a corpus where every
    * fourth document is prefixed with the SAME 10-token boilerplate
    * sentence — those documents share the prefix's three 8-token windows
    * (boundary windows mix in natural tokens and stay unique), plus
    * whatever window repeats the small-vocabulary corpus produces
    * naturally. The oracle replays the whole pipeline with raw window
    * STRINGS as keys (Spark groups their xxhash64 — identical flagging
    * absent a 64-bit collision). */
  val q87_span_dedup = Q(
    "q87_span_dedup",
    (s, dir) => {
      val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val corpus = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        when(col("doc_id") % 4 === 0, concat(lit(boiler + " "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.removeDuplicateSpans(corpus, "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id::BIGINT AS doc_id,
                CASE WHEN doc_id % 4 = 0
                     THEN 'alpha beta gamma delta epsilon zeta eta theta iota kappa ' || text
                     ELSE text END AS text
              FROM documents),
            d AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0) AS toks
              FROM corpus),
            wins AS (
              SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+8], ' ') AS gram
              FROM d, unnest(range(GREATEST(len(toks) - 7, 0))) AS u(i)),
            dups AS (SELECT gram FROM wins GROUP BY gram HAVING COUNT(*) > 1),
            flagged AS (SELECT w.doc_id, w.pos FROM wins w JOIN dups USING (gram)),
            covered AS (
              SELECT DISTINCT doc_id, pos + j AS cpos
              FROM flagged, unnest(range(8)) AS v(j)),
            toksp AS (
              SELECT doc_id, j AS pos, toks[j+1] AS tok
              FROM d, unnest(range(len(toks))) AS w(j)),
            kept AS (
              SELECT t.doc_id, t.pos, t.tok FROM toksp t
              LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.cpos = t.pos
              WHERE c.doc_id IS NULL),
            rebuilt AS (
              SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS cleaned_text
              FROM kept GROUP BY doc_id),
            counts AS (
              SELECT doc_id, COUNT(*)::BIGINT AS n_dup_windows FROM flagged GROUP BY doc_id)
            SELECT d.doc_id,
              COALESCE(c.n_dup_windows, 0)::BIGINT AS n_dup_windows,
              COALESCE(r.cleaned_text, '') AS cleaned_text
            FROM d
            LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
            LEFT JOIN counts c ON c.doc_id = d.doc_id
            ORDER BY d.doc_id"""))

  /** Incremental ingest dedup: a batch of last-word-clipped copies of every
    * fifth document (jaccard ≈ (m−1)/m ≥ 0.8) screened against the full
    * corpus. The oracle is the complete CROSS-SIDE pair ground truth —
    * new×new and existing×existing pairs must not appear, which is exactly
    * the operator's contract — spelled as an inverted-index join (shared
    * shingle → COUNT = intersection) rather than a CROSS JOIN of
    * list_intersects: identical output, near-linear instead of the
    * 425 s-at-sf0.1 quadratic form (the q29/q69 rewrite, r8). */
  val q88_dedup_incremental = Q(
    "q88_dedup_incremental",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val incoming = d.filter(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 2000000L).as("doc_id"),
        array_join(
          slice(split(trim(col("text")), "\\s+"), lit(1),
            size(split(trim(col("text")), "\\s+")) - 1), " ").as("text"))
      Dedup.minhashNearDuplicatesAgainst(
        incoming, d, "doc_id", "text",
        bands = 16, rowsPerBand = 4, shingleSize = 3, threshold = 0.8)
        .select(
          col("new_id").cast("long").as("new_id"),
          col("existing_id").cast("long").as("existing_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("new_id", "existing_id")
    },
    Some(raw"""WITH newdocs AS (
              SELECT doc_id + 2000000 AS doc_id,
                array_to_string(toks[1:len(toks)-1], ' ') AS text
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
              WHERE doc_id % 5 = 0),
            sh_of AS (
              ${shingleSetsSql("newdocs")}),
            sh_ex AS (
              ${shingleSetsSql("documents")}),
            nsz AS (SELECT doc_id, len(shingles) AS sz FROM sh_of),
            esz AS (SELECT doc_id, len(shingles) AS sz FROM sh_ex),
            nex AS (SELECT doc_id, unnest(shingles) AS s FROM sh_of),
            eex AS (SELECT doc_id, unnest(shingles) AS s FROM sh_ex),
            inter AS (
              SELECT n.doc_id AS new_id, e.doc_id AS existing_id, COUNT(*) AS ic
              FROM nex n JOIN eex e ON n.s = e.s
              GROUP BY 1, 2),
            pairs AS (
              SELECT new_id, existing_id,
                CAST(ic AS DOUBLE) / (ns.sz + es.sz - ic) AS jaccard
              FROM inter
              JOIN nsz ns ON ns.doc_id = new_id
              JOIN esz es ON es.doc_id = existing_id)
            SELECT CAST(new_id AS BIGINT) AS new_id,
              CAST(existing_id AS BIGINT) AS existing_id,
              ROUND(jaccard, 4) AS jaccard
            FROM pairs WHERE jaccard >= 0.8 ORDER BY new_id, existing_id"""))

  /** Bloom-filter ingest screen (training-data pipeline op): the existing
    * corpus is summarized once into a fixed-size bit array (zero-shuffle
    * typed-imperative aggregate), the batch is filtered map-side by the
    * codegen probe, and only the surviving candidates drive the exact
    * verification joins (both broadcast). Output semantics are EXACT — the
    * Bloom filter is a prefilter, never the answer — so the oracle is a
    * plain normalized-text anti-membership replay. */
  val q89_bloom_screen = Q(
    "q89_bloom_screen",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("doc_id"), col("text"),
        col("n_chars").cast("long").as("n_chars"))
      // batch: %3==0 rows re-ingest the EXACT text (duplicates — must drop);
      // %3==1 rows carry a unique suffix (novel — must survive)
      val batch = d.filter(col("doc_id") % 3 <= 1).select(
        (col("doc_id") + 3000000L).as("doc_id"),
        when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" novel "), col("doc_id").cast("string"))).as("text"),
        col("n_chars"))
      Dedup.bloomScreen(batch, d, "doc_id", "text")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""WITH batch AS (
              SELECT doc_id + 3000000 AS doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN text
                          ELSE text || ' novel ' || CAST(doc_id AS VARCHAR) END AS text,
                     n_chars
              FROM documents WHERE doc_id % 3 <= 1),
            ex AS (
              SELECT DISTINCT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
              FROM documents)
            SELECT CAST(b.doc_id AS BIGINT) AS doc_id, CAST(b.n_chars AS BIGINT) AS n_chars
            FROM batch b
            WHERE trim(regexp_replace(regexp_replace(lower(b.text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))
                  NOT IN (SELECT nt FROM ex)
            ORDER BY doc_id"""))

  /** Blocked edit-distance near-duplicate pairs (record-linkage classic):
    * candidates only from equal (brand, name-length) blocks, each verified
    * with codegen'd levenshtein <= 1. The oracle is DuckDB's NATIVE
    * levenshtein — an independent implementation of the same metric. */
  val q115_edit_pairs = Q(
    "q115_edit_pairs",
    (s, dir) => {
      val p = t(s, dir, "part").withColumn("len", length(col("p_name")))
      Dedup
        .editDistanceNearDuplicates(p, "p_partkey", "p_name", Seq("p_brand", "len"), maxDistance = 1)
        .select(
          col("id1").cast("long").as("id1"),
          col("id2").cast("long").as("id2"),
          col("distance").cast("long").as("distance"))
        .orderBy("id1", "id2")
    },
    Some("""SELECT CAST(a.p_partkey AS BIGINT) AS id1, CAST(b.p_partkey AS BIGINT) AS id2,
                   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
            FROM part a JOIN part b
              ON a.p_brand = b.p_brand AND length(a.p_name) = length(b.p_name)
                 AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 1
            ORDER BY id1, id2"""))

  /** Leakage-safe train/test split (training-data pipeline op): near-dup
    * CLUSTERS place wholly in one split — membership (the component root)
    * decides placement, so a doc and its near-copy can never straddle the
    * eval boundary (Lee et al. 2022's contamination guard). The oracle
    * replays components via the shared recursive CTE and the same
    * root-keyed hash split; per-split doc/group counts pin both the
    * clustering and the assignment. */
  val q120_leakage_split = Q(
    "q120_leakage_split",
    (s, dir) => {
      val corpus = clippedNearDupCorpus(s, dir)
      val pairs = Dedup
        .minhashNearDuplicates(corpus, "doc_id", "text", bands = 16, rowsPerBand = 4, shingleSize = 3, threshold = 0.8)
      graft.text.Sampling
        .leakageSafeSplit(
          corpus, "doc_id", pairs, Seq("train" -> 0.8, "test" -> 0.2),
          seed = "lk", uniform = knuthUniform, repColumn = Some("rep"))
        .groupBy(col("split"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("rep")).cast("long").as("n_groups"))
        .orderBy("split")
    },
    Some(s"""WITH RECURSIVE $nearDupComponentsCte,
            reps AS (
              SELECT c.doc_id, COALESCE(r.root, c.doc_id) AS rep
              FROM corpus c LEFT JOIN roots r ON c.doc_id = r.id),
            sp AS (
              SELECT doc_id, rep,
                     CASE WHEN ${knuthUniformSql("rep", "lk")} < 0.8 THEN 'train'
                          WHEN ${knuthUniformSql("rep", "lk")} < 1.0 THEN 'test' END AS split
              FROM reps)
            SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_groups
            FROM sp GROUP BY 1 ORDER BY 1"""))

  /** All-pairs lexical cosine similarity (training-data pipeline op): the
    * inverted-index APSS join over integer 3-gram TF vectors — pure
    * integer arithmetic end to end (dot, norms, and the cos >= 4/5
    * threshold by cross-multiplication), so the operator is bit-exact and
    * the oracle replays it with raw gram strings as keys (Spark shuffles
    * 8-byte xxhash64 keys — the q87 trade). */
  val q128_cosine_pairs = Q(
    "q128_cosine_pairs",
    (s, dir) => {
      graft.text.ApssJoin
        .cosinePairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, minCosNum = 4L, minCosDen = 5L, dfCap = 1000L)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                 x -> len(x) > 0) AS tk
              FROM documents),
            grams AS (
              SELECT doc_id,
                     CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
                          ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                                FOR i IN range(1, len(tk) - 1)] END AS gl
              FROM toks),
            g AS (SELECT doc_id, u.gram FROM grams, UNNEST(grams.gl) AS u(gram)),
            tf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM g GROUP BY 1, 2),
            dfc AS (SELECT gram FROM (SELECT gram, COUNT(*) AS c FROM tf GROUP BY 1)
                    WHERE c <= 1000),
            v AS (SELECT tf.* FROM tf JOIN dfc USING (gram)),
            norms AS (SELECT doc_id, SUM(tf * tf) AS norm2 FROM v GROUP BY 1),
            dots AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.tf * b.tf) AS dot
              FROM v a JOIN v b ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
                   CAST(na.norm2 AS BIGINT) AS norm2_a,
                   CAST(nb.norm2 AS BIGINT) AS norm2_b
            FROM dots
            JOIN norms na ON na.doc_id = id_a
            JOIN norms nb ON nb.doc_id = id_b
            WHERE 25 * dot * dot >= 16 * na.norm2 * nb.norm2
            ORDER BY id_a, id_b"""))

  /** b-bit minhash (Li & König 2010): 16-hash signatures compressed to the
    * low 8 bits each (8× smaller dedup artifacts), pairwise Jaccard
    * estimated from b-bit agreement with the 2^-b collision debias. The
    * oracle replays the ENTIRE pipeline value-exactly in DuckDB — shingles,
    * xxhash64 (tools.OracleSql), the k universal-hash mins, the b-bit mask,
    * and the dyadic-rational estimate. */
  val q139_bbit_minhash = Q(
    "q139_bbit_minhash",
    (s, dir) => {
      import graft.text.Dedup
      val d = t(s, dir, "documents").filter(col("doc_id") < 60)
      val sh = Dedup.shingleSets(d, "doc_id", "text", 3)
      val sigs = Dedup.minhashSignaturesFromShingles(sh, "doc_id", 16)
      val bsigs = Dedup.bbitCompress(sigs, "doc_id", 16, 8).cache()
      val ids = bsigs.select(col("doc_id"))
      val pairs = ids.as("x").join(ids.as("y"), col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      val out = Dedup.bbitEstimate(bsigs, pairs, "doc_id", 16, 8)
        .select(col("id1").cast("long"), col("id2").cast("long"),
          col("matches"), col("jaccard_est"))
        .orderBy("id1", "id2")
      // localCheckpoint (not cache): cuts lineage so bsigs can unpersist,
      // without leaking a cached frame into the long-lived bench JVM
      val materialized = out.localCheckpoint(true)
      bsigs.unpersist()
      materialized
    },
    Some {
      import graft.tools.OracleSql._
      val base = s"SELECT CAST(doc_id AS BIGINT) AS doc_id, ${normalizeSql("text")} AS norm " +
        "FROM documents WHERE doc_id < 60"
      val shingles =
        s"""SELECT doc_id, unnest(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
              ELSE list_transform(range(len(toks) - 2),
                     p -> toks[p+1] || ' ' || toks[p+2] || ' ' || toks[p+3]) END) AS sh
            FROM (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS toks
                  FROM ($base))"""
      val dist = s"SELECT DISTINCT doc_id, sh FROM ($shingles)"
      val hashed = xxhash64Stages(dist, "sh", "hv", pfx = "__b")
      val coefs = graft.text.Dedup.minhashCoefs(16).zipWithIndex
        .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
      s"""WITH hashed AS ($hashed),
            coefs(i, a, b) AS (VALUES $coefs),
            mins AS (SELECT doc_id, i,
                            MIN((CAST(a AS BIGINT) * (((hv % 2147483647) + 2147483647) % 2147483647)
                                 + b) % 2147483647) AS h
                     FROM hashed CROSS JOIN coefs GROUP BY 1, 2),
            bb AS (SELECT doc_id, i, h % 256 AS bv FROM mins),
            pm AS (SELECT x.doc_id AS id1, y.doc_id AS id2,
                          CAST(SUM(CASE WHEN x.bv = y.bv THEN 1 ELSE 0 END) AS BIGINT) AS matches
                   FROM bb x JOIN bb y ON x.i = y.i AND x.doc_id < y.doc_id
                   GROUP BY 1, 2)
          SELECT id1, id2, matches,
                 (matches / 16.0 - 0.00390625) / 0.99609375 AS jaccard_est
          FROM pm ORDER BY id1, id2"""
    })

  /** Corpus-level source similarity matrix (mixing-decision input): pairwise
    * Jaccard between six sources' united shingle sets, BOTH ways — corpus
    * minhash signatures (map-side-partial mins: a 100 TB source folds to 16
    * longs) and the exact distinct-shingle intersection audit. The oracle
    * replays signatures value-exactly (tools.OracleSql XXH64 + universal
    * mins) and the exact sets independently. */
  val q143_source_similarity = Q(
    "q143_source_similarity",
    (s, dir) => {
      val srcs = (0 to 5).map(i => s"src$i")
      val d = t(s, dir, "documents").filter(col("source").isin(srcs: _*))
      graft.text.Dedup.corpusSimilarity(d, "source", "text", 16, 3)
        .orderBy("g1", "g2")
    },
    Some {
      import graft.tools.OracleSql._
      val base = s"SELECT source, ${normalizeSql("text")} AS norm FROM documents " +
        "WHERE source IN ('src0','src1','src2','src3','src4','src5')"
      val shingles =
        s"""SELECT source, unnest(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
              ELSE list_transform(range(len(toks) - 2),
                     p -> toks[p+1] || ' ' || toks[p+2] || ' ' || toks[p+3]) END) AS sh
            FROM (SELECT source, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS toks
                  FROM ($base))"""
      val dist = s"SELECT DISTINCT source, sh FROM ($shingles)"
      val hashed = xxhash64Stages(dist, "sh", "hv", pfx = "__c")
      val coefs = graft.text.Dedup.minhashCoefs(16).zipWithIndex
        .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
      s"""WITH hashed AS ($hashed),
            coefs(i, a, b) AS (VALUES $coefs),
            mins AS (SELECT source, i,
                            MIN((CAST(a AS BIGINT) * (((hv % 2147483647) + 2147483647) % 2147483647)
                                 + b) % 2147483647) AS h
                     FROM hashed CROSS JOIN coefs GROUP BY 1, 2),
            sigpairs AS (SELECT x.source AS g1, y.source AS g2,
                                CAST(SUM(CASE WHEN x.h = y.h THEN 1 ELSE 0 END) AS BIGINT) AS matches
                         FROM mins x JOIN mins y ON x.i = y.i AND x.source < y.source
                         GROUP BY 1, 2),
            sets AS (SELECT DISTINCT source, sh FROM ($shingles)),
            sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM sets GROUP BY 1),
            inter AS (SELECT x.source AS g1, y.source AS g2, CAST(COUNT(*) AS BIGINT) AS inter
                      FROM sets x JOIN sets y ON x.sh = y.sh AND x.source < y.source
                      GROUP BY 1, 2)
          SELECT p.g1, p.g2, p.matches, p.matches / 16.0 AS jaccard_est,
                 COALESCE(i.inter, 0) AS inter,
                 s1.sz + s2.sz - COALESCE(i.inter, 0) AS uni,
                 COALESCE(i.inter, 0) / CAST(s1.sz + s2.sz - COALESCE(i.inter, 0) AS DOUBLE) AS jaccard
          FROM sigpairs p
          LEFT JOIN inter i ON i.g1 = p.g1 AND i.g2 = p.g2
          JOIN sizes s1 ON s1.source = p.g1
          JOIN sizes s2 ON s2.source = p.g2
          ORDER BY p.g1, p.g2"""
    })

  /** URL canonicalization + first-fetch dedup (crawl-frontier op). URLs are
    * synthesized deterministically from doc_id with every messiness class
    * the canonicalizer handles: mixed-case scheme/host, default ports,
    * `www.` prefixes, trailing slashes, tracking params, unsorted params,
    * fragments. The oracle derives each CANONICAL form independently from
    * the doc_id arithmetic (never replaying the regex pipeline), so it
    * checks the end-to-end mapping, not the implementation. */
  val q150_url_dedup = Q(
    "q150_url_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
      val withUrl = d.withColumn("url", concat(
        when(col("doc_id") % 2 === 0, "HTTP").otherwise("https"),
        lit("://WWW.Site"), (col("doc_id") % 40).cast("string"), lit(".COM"),
        when(col("doc_id") % 4 < 2,
          when(col("doc_id") % 2 === 0, ":80").otherwise(":443")).otherwise(""),
        lit("/Page/"), (col("doc_id") % 25).cast("string"),
        when(col("doc_id") % 5 === 0, "/").otherwise(""),
        when(col("doc_id") % 3 === 0, "?utm_source=feed&b=2&a=1")
          .when(col("doc_id") % 3 === 1, "?a=1&b=2").otherwise(""),
        when(col("doc_id") % 7 === 0, "#frag").otherwise("")))
      // ONE canonicalize pass + ONE aggregation produces both the keeper
      // and the variant count (the ~10-regex chain must not run twice;
      // dedupByCanonicalUrl itself is row-level and spec-covered)
      withUrl
        .withColumn("canonical_url", graft.text.UrlOps.canonicalize(col("url")))
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).cast("long").as("n_variants"))
        .filter(col("n_variants") >= 2)
        .select(col("canonical_url"), col("keeper"), col("n_variants"))
        .orderBy("canonical_url")
    },
    Some("""WITH canon AS (
              SELECT doc_id::BIGINT AS doc_id,
                (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
                || '://site' || CAST(doc_id % 40 AS VARCHAR) || '.com'
                || '/Page/' || CAST(doc_id % 25 AS VARCHAR)
                || (CASE WHEN doc_id % 3 IN (0, 1) THEN '?a=1&b=2' ELSE '' END)
                AS canonical_url
              FROM documents)
            SELECT canonical_url,
                   CAST(MIN(doc_id) AS BIGINT) AS keeper,
                   CAST(COUNT(*) AS BIGINT) AS n_variants
            FROM canon GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1"""))

  /** Containment (asymmetric-Jaccard) dedup: every fourth document gets a
    * 12-token snippet child — full containment (1.0) in the parent while
    * symmetric Jaccard is ~0.1, exactly the pair minhash LSH structurally
    * misses (q29's operator cannot see these; this one exists for them).
    * df-capped inverted-index intersection; the oracle replays shingling,
    * cap, and both direction ratios (exact-int / exact-int division —
    * IEEE-deterministic, no rounding needed). */
  val q155_containment = Q(
    "q155_containment",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val snippets = d.filter(col("doc_id") % 4 === 0).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), 1, 12), " ").as("text"))
      val corpus = d.unionByName(snippets)
      Dedup.containmentPairs(corpus, "doc_id", "text",
          shingleSize = 3, threshold = 0.9, dfCap = 1000)
        .select(col("id1"), col("id2"), col("c1_in_2"), col("c2_in_1"), col("containment"))
        .orderBy("id1", "id2")
    },
    Some(raw"""WITH corpus AS (
              SELECT doc_id::BIGINT AS doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, array_to_string(toks[1:12], ' ')
              FROM (SELECT doc_id::BIGINT AS doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
              WHERE doc_id % 4 = 0),
            sh AS (
              ${shingleSetsSql("corpus")}),
            ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            df AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 1000),
            cex AS (SELECT doc_id, s FROM ex JOIN df USING (s)),
            sz AS (SELECT doc_id, COUNT(*) AS n FROM cex GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS ic
              FROM cex a JOIN cex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id1, id2,
                   CAST(ic AS DOUBLE) / s1.n AS c1_in_2,
                   CAST(ic AS DOUBLE) / s2.n AS c2_in_1,
                   greatest(CAST(ic AS DOUBLE) / s1.n, CAST(ic AS DOUBLE) / s2.n) AS containment
            FROM inter
            JOIN sz s1 ON s1.doc_id = id1
            JOIN sz s2 ON s2.doc_id = id2
            WHERE greatest(CAST(ic AS DOUBLE) / s1.n, CAST(ic AS DOUBLE) / s2.n) >= 0.9
            ORDER BY id1, id2"""))

  /** Sketch-fidelity audit (the meta-check every sketch deployment owes
    * itself): for EVERY doc pair in an 80-doc slice, the 64-hash minhash
    * Jaccard estimate (matching signature components / 64) against the
    * exact shingle Jaccard, error-histogrammed in 10k-ppm buckets — the
    * empirical accuracy report that justifies the band/row choices used
    * by the whole dedup family. Integer end-to-end; the oracle replays
    * hashing, all 64 universal-hash mins, and the exact intersections. */
  val q200_sketch_fidelity = Q(
    "q200_sketch_fidelity",
    (s, dir) => {
      import graft.text.Dedup
      val d = t(s, dir, "documents").filter(col("doc_id") < 80)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val sh = Dedup.hashedShingleSets(d, "doc_id", "text", 3).localCheckpoint(true)
      val sigs = Dedup.minhashSignaturesFromShingles(sh, "doc_id", 64)
      val a = sigs.select(sigs.columns.map(c => col(c).as(s"a_$c")): _*)
      val b = sigs.select(sigs.columns.map(c => col(c).as(s"b_$c")): _*)
      val matches = (0 until 64)
        .map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val est = a.join(b, col("a_doc_id") < col("b_doc_id"))
        .select(col("a_doc_id").as("id1"), col("b_doc_id").as("id2"),
          matches.as("matches"))
      val sizes = sh.select(col("doc_id"), size(col("sh")).cast("long").as("sz"))
      val inter = sh
        .select(col("doc_id"), explode(array_compact(col("sh"))).as("g"))
        .as("x")
        .join(sh.select(col("doc_id"), explode(array_compact(col("sh"))).as("g")).as("y"),
          col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
        .agg(count(lit(1)).as("inter"))
      est
        .join(inter, Seq("id1", "id2"), "left")
        .join(sizes.select(col("doc_id").as("id1"), col("sz").as("s1")), Seq("id1"))
        .join(sizes.select(col("doc_id").as("id2"), col("sz").as("s2")), Seq("id2"))
        .withColumn("iv", coalesce(col("inter"), lit(0L)))
        .withColumn("est_ppm", expr("(1000000 * matches) div 64"))
        .withColumn("ex_ppm", expr("(1000000 * iv) div (s1 + s2 - iv)"))
        .withColumn("bucket", expr("abs(est_ppm - ex_ppm) div 10000"))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).cast("long").as("n_pairs"),
          sum(col("matches")).cast("long").as("sum_matches"),
          sum(col("iv")).cast("long").as("sum_inter"))
        .orderBy("bucket")
    },
    Some {
      import graft.tools.OracleSql._
      val base = s"SELECT CAST(doc_id AS BIGINT) AS doc_id, ${normalizeSql("text")} AS norm " +
        "FROM documents WHERE doc_id < 80"
      val shingles =
        s"""SELECT doc_id, unnest(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
              ELSE list_transform(range(len(toks) - 2),
                     p -> toks[p+1] || ' ' || toks[p+2] || ' ' || toks[p+3]) END) AS sh
            FROM (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS toks
                  FROM ($base))"""
      val dist = s"SELECT DISTINCT doc_id, sh FROM ($shingles)"
      val hashed = xxhash64Stages(dist, "sh", "hv", pfx = "__b")
      val coefs = graft.text.Dedup.minhashCoefs(64).zipWithIndex
        .map { case ((av, bv), i) => s"($i, $av, $bv)" }.mkString(", ")
      s"""WITH hashed AS MATERIALIZED ($hashed),
            coefs(i, a, b) AS (VALUES $coefs),
            mins AS MATERIALIZED (
              SELECT doc_id, i,
                     MIN((CAST(a AS BIGINT) * (((hv % 2147483647) + 2147483647) % 2147483647)
                          + b) % 2147483647) AS h
              FROM hashed CROSS JOIN coefs GROUP BY 1, 2),
            est AS (
              SELECT x.doc_id AS id1, y.doc_id AS id2,
                     CAST(SUM(CASE WHEN x.h = y.h THEN 1 ELSE 0 END) AS BIGINT) AS matches
              FROM mins x JOIN mins y ON x.i = y.i AND x.doc_id < y.doc_id
              GROUP BY 1, 2),
            sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
                      FROM ($dist) GROUP BY 1),
            inter AS (
              SELECT x.doc_id AS id1, y.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS iv
              FROM ($dist) x JOIN ($dist) y
                ON x.sh = y.sh AND x.doc_id < y.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT e.id1, e.id2, e.matches, COALESCE(i.iv, 0) AS iv, sa.sz AS s1, sb.sz AS s2
              FROM est e
              LEFT JOIN inter i ON i.id1 = e.id1 AND i.id2 = e.id2
              JOIN sizes sa ON sa.doc_id = e.id1
              JOIN sizes sb ON sb.doc_id = e.id2),
            scored AS (
              SELECT matches, iv,
                     ABS((1000000 * matches) // 64 - (1000000 * iv) // (s1 + s2 - iv)) // 10000 AS bucket
              FROM pairs)
            SELECT CAST(bucket AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(matches) AS BIGINT) AS sum_matches,
                   CAST(SUM(iv) AS BIGINT) AS sum_inter
            FROM scored GROUP BY 1 ORDER BY 1"""
    })

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    * SIGMOD'03 — the MOSS local fingerprinting algorithm) driving a
    * near-duplicate pair report: n=4-token Rabin–Karp window hashes
    * (map-side [[graft.plans.WindowHash64]]) → rightmost-min selection over
    * w=4-hash windows (map-side [[graft.plans.WinnowSelect]] deque, O(L)
    * per doc) → inverted-index pair join on shared fingerprints. The corpus
    * plants a prefix-padded clone of every 7th document; winnowing's
    * guarantee (any shared ≥ w+n−1-token run shares a fingerprint) makes
    * each clone pair share nearly all selected prints while only ~2/(w+1)
    * of window hashes are ever kept — the local-fingerprint density bound.
    * The oracle replays token XXH64 → the 2⁶⁴-wrapping polynomial window
    * hash (B-power constants via [[graft.tools.OracleSql.mulConstSql]]) →
    * per-window rightmost-argmin → the same pair join, value-exactly. */
  val q213_winnowing = Q(
    "q213_winnowing",
    (s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val clones = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("intro preamble "), col("text")).as("text"))
      val corpus = base.unionByName(clones)
      Dedup.winnowingNearDuplicates(corpus, "doc_id", "text", n = 4, w = 4, minShared = 3)
        .select(
          col("id1").cast("long").as("id1"),
          col("id2").cast("long").as("id2"),
          col("shared").cast("long").as("shared"),
          col("n_fp1").cast("long").as("n_fp1"),
          col("n_fp2").cast("long").as("n_fp2"))
        .orderBy("id1", "id2")
    },
    Some {
      import graft.tools.OracleSql._
      val B = BigInt("9E3779B97F4A7C15", 16)
      val M = BigInt(2).pow(64)
      val b2 = (B * B).mod(M)
      val b3 = (B * B * B).mod(M)
      val corpus =
        """SELECT doc_id::BIGINT AS doc_id, text FROM documents
           UNION ALL
           SELECT doc_id::BIGINT + 3000000, 'intro preamble ' || text FROM documents
           WHERE doc_id % 7 = 0"""
      val toked =
        s"""SELECT doc_id,
              list_filter(regexp_split_to_array(trim(${normalizeSql("text")}), '\\s+'),
                          t -> len(t) > 0) AS toks
            FROM ($corpus)"""
      val tk =
        s"""SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS p
            FROM ($toked)"""
      val hd = xxhash64Stages("SELECT DISTINCT tok FROM tk", "tok", "th", pfx = "__w")
      val wu = addModSql(
        addModSql(
          addModSql(mulConstSql("u0", b3), mulConstSql("u1", b2)),
          mulConstSql("u2", B)),
        "u3")
      s"""WITH tk AS ($tk),
            hd AS ($hd),
            hu AS (SELECT tk.doc_id, tk.p, ${unsignedOf("hd.th")} AS u
                   FROM tk JOIN hd USING (tok)),
            w4 AS (SELECT doc_id, p AS i, u AS u0,
                          LEAD(u, 1) OVER (PARTITION BY doc_id ORDER BY p) AS u1,
                          LEAD(u, 2) OVER (PARTITION BY doc_id ORDER BY p) AS u2,
                          LEAD(u, 3) OVER (PARTITION BY doc_id ORDER BY p) AS u3,
                          COUNT(*) OVER (PARTITION BY doc_id) AS mtok
                   FROM hu),
            hw AS (SELECT doc_id, i, mtok - 3 AS m, $wu AS wu
                   FROM w4 WHERE u3 IS NOT NULL),
            hs AS (SELECT doc_id, i, m,
                          CASE WHEN wu >= 9223372036854775808
                               THEN CAST(wu::HUGEINT - 18446744073709551616::HUGEINT AS BIGINT)
                               ELSE CAST(wu AS BIGINT) END AS h
                   FROM hw),
            exp AS (SELECT doc_id, i, h, i - off AS j
                    FROM hs, unnest(range(4)) AS o(off)
                    WHERE i - off >= 1 AND i - off <= GREATEST(1, m - 3)),
            picks AS (SELECT doc_id, i, h FROM (
                        SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY doc_id, j ORDER BY h ASC, i DESC) AS rn
                        FROM exp) WHERE rn = 1),
            fps AS (SELECT DISTINCT doc_id, h FROM picks),
            sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY 1),
            pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
                      FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
                      GROUP BY 1, 2 HAVING COUNT(*) >= 3)
          SELECT p.id1, p.id2, CAST(p.shared AS BIGINT) AS shared,
                 CAST(s1.n_fp AS BIGINT) AS n_fp1, CAST(s2.n_fp AS BIGINT) AS n_fp2
          FROM pairs p
          JOIN sizes s1 ON s1.doc_id = p.id1
          JOIN sizes s2 ON s2.doc_id = p.id2
          ORDER BY p.id1, p.id2"""
    })

  /** Sorted-neighborhood record-linkage blocking (Hernandez & Stolfo
    * SIGMOD'95 merge/purge): documents keyed by their 40-char normalized
    * prefix, blocked on the first character, sorted within block, and
    * compared only against their 2 sort-successors
    * ([[graft.text.Dedup.sortedNeighborhoodPairs]] — one window shuffle,
    * LEAD-carried neighbor keys, codegen levenshtein verify; candidate
    * volume (window−1)·N, linear). The corpus plants a suffix-padded clone
    * of every 9th document — identical prefix keys sort adjacent, the
    * pattern blocking-by-sort exists to catch. Oracle = ROW_NUMBER rank
    * replay + rank-distance join + DuckDB's native levenshtein. */
  val q216_sorted_neighborhood = Q(
    "q216_sorted_neighborhood",
    (s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val clones = base.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          concat(col("text"), lit(" trailing audit suffix")).as("text"))
      val keyed = base.unionByName(clones)
        .select(col("doc_id"),
          substring(TextFunctions.normalize(col("text")), 1, 40).as("key"))
        .withColumn("block", substring(col("key"), 1, 1))
      Dedup.sortedNeighborhoodPairs(keyed, "doc_id", "key", "block", window = 3, maxDist = 8)
        .select(col("id1").cast("long").as("id1"), col("id2").cast("long").as("id2"),
          col("dist"))
        .orderBy("id1", "id2")
    },
    Some {
      import graft.tools.OracleSql._
      s"""WITH corpus AS (
              SELECT doc_id::BIGINT AS doc_id, text FROM documents
              UNION ALL
              SELECT doc_id::BIGINT + 4000000, text || ' trailing audit suffix'
              FROM documents WHERE doc_id % 9 = 0),
            keyed AS (
              SELECT doc_id, substr(${normalizeSql("text")}, 1, 40) AS key FROM corpus),
            kb AS (SELECT doc_id, key, substr(key, 1, 1) AS block FROM keyed),
            rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY block ORDER BY key, doc_id) AS rn
                   FROM kb)
          SELECT a.doc_id AS id1, b.doc_id AS id2,
                 CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
          FROM rk a JOIN rk b
            ON a.block = b.block AND b.rn - a.rn BETWEEN 1 AND 2
          WHERE levenshtein(a.key, b.key) <= 8
          ORDER BY id1, id2"""
    })

  /** Corpus growth / novelty curve by ingest day: distinct 3-gram hashes
    * attributed to their FIRST-seen day (one min-aggregate over hashed
    * grams — no join back, no re-scan), with per-day new-gram counts and
    * the cumulative vocabulary curve — the dataset-accounting artifact
    * behind "is more crawl still adding content?". Ingest day is the
    * deterministic doc_id mod 7. Gram hashing rides the map-side
    * [[graft.plans.XxHash64Array]] expression; only (hash, day) pairs
    * shuffle. */
  val q240_growth_curve = Q(
    "q240_growth_curve",
    (s, dir) => {
      import org.apache.spark.sql.graft.ExprColumn
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
        .select((col("doc_id") % 7).cast("long").as("day"),
          TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("toks"))
        .filter(size(col("toks")) >= 3)
      val grams = d.select(col("day"),
        explode(ExprColumn(graft.plans.WindowHash64(ExprColumn.expr(col("toks")), 3))).as("g"))
      val firstSeen = grams.groupBy(col("g")).agg(min(col("day")).as("first_day"))
      val daily = firstSeen.groupBy(col("first_day").as("day"))
        .agg(count(lit(1)).as("new_grams"))
      daily
        .withColumn("cumulative",
          sum(col("new_grams")).over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("day"), col("new_grams").cast("long").as("new_grams"),
          col("cumulative").cast("long").as("cumulative"))
        .orderBy("day")
    },
    Some {
      import graft.tools.OracleSql._
      val B = BigInt("9E3779B97F4A7C15", 16)
      val M = BigInt(2).pow(64)
      val b2 = (B * B).mod(M)
      val toked =
        s"""SELECT doc_id::BIGINT AS doc_id, doc_id % 7 AS day,
                   list_filter(regexp_split_to_array(trim(${normalizeSql("text")}), '\\s+'),
                               t -> len(t) > 0) AS toks
            FROM documents"""
      val tk =
        s"""SELECT doc_id, day, unnest(toks) AS tok, generate_subscripts(toks, 1) AS p
            FROM ($toked) WHERE len(toks) >= 3"""
      val hd = xxhash64Stages("SELECT DISTINCT tok FROM tk", "tok", "th", pfx = "__g")
      val wu = addModSql(addModSql(mulConstSql("u0", b2), mulConstSql("u1", B)), "u2")
      s"""WITH tk AS ($tk),
            hd AS ($hd),
            hu AS (SELECT tk.doc_id, tk.day, tk.p, ${unsignedOf("hd.th")} AS u
                   FROM tk JOIN hd USING (tok)),
            w3 AS (SELECT doc_id, day, p, u AS u0,
                          LEAD(u, 1) OVER (PARTITION BY doc_id ORDER BY p) AS u1,
                          LEAD(u, 2) OVER (PARTITION BY doc_id ORDER BY p) AS u2
                   FROM hu),
            hw AS (SELECT day, $wu AS gu FROM w3 WHERE u2 IS NOT NULL),
            hs AS (SELECT day,
                          CASE WHEN gu >= 9223372036854775808
                               THEN CAST(gu::HUGEINT - 18446744073709551616::HUGEINT AS BIGINT)
                               ELSE CAST(gu AS BIGINT) END AS g
                   FROM hw),
            fs AS (SELECT g, MIN(day) AS day FROM hs GROUP BY 1),
            daily AS (SELECT day, COUNT(*) AS new_grams FROM fs GROUP BY 1)
          SELECT CAST(day AS BIGINT) AS day,
                 CAST(new_grams AS BIGINT) AS new_grams,
                 CAST(SUM(new_grams) OVER (ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative
          FROM daily ORDER BY day"""
    })

  /** Multi-probe LSH over simhash bands (Lv et al. VLDB'07, the
    * table-count/recall trade): beside the exact 16-bit band-bucket join
    * (q31's scheme — which MISSES any pair whose signatures differ in
    * every band), probe depth 1 also joins each band key against its 16
    * one-bit-flip neighbors, rescuing pairs with a band at Hamming
    * distance exactly 1 — more recall from the SAME four tables, the
    * alternative to doubling band count. Candidates verified exactly
    * (bit_count(xor) ≤ 6); the report pins candidate and verified pair
    * counts per probe depth, so the recall gain is a VALUE, not a claim.
    * Integer end-to-end; the oracle replays signature → bands → flips →
    * verify (the q31 machinery plus the probe expansion). */
  val q252_multiprobe_lsh = Q(
    "q252_multiprobe_lsh",
    (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val clipped = d.filter(col("doc_id") % 4 === 0).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), lit(1),
          size(split(trim(col("text")), "\\s+")) - 3), " ").as("text"))
      val corpus = d.unionByName(clipped)
      val sigs = Dedup.simhash(corpus, "doc_id", "text").localCheckpoint(true)
      val bands = sigs.select(col("doc_id"), col("simhash"),
          explode(sequence(lit(0), lit(3))).as("blk"))
        .withColumn("key", expr("shiftrightunsigned(simhash, blk * 16) & 65535"))
        .localCheckpoint(true)
      // j = -1 is the exact probe; j in 0..15 flips one bit of the band key
      val probes = bands.select(col("doc_id"), col("simhash"), col("blk"), col("key"),
          explode(array((-1 to 15).map(lit): _*)).as("j"))
        .withColumn("pkey",
          when(col("j") === -1, col("key"))
            .otherwise(expr("key ^ shiftleft(1L, j)")))
      val out = Seq(0, 1).map { depth =>
        val b =
          if (depth == 0) bands.select(col("blk"), col("key").as("pkey"),
            col("doc_id").as("id2"), col("simhash").as("s2"))
          else probes.select(col("blk"), col("pkey"),
            col("doc_id").as("id2"), col("simhash").as("s2"))
        val cands = bands.select(col("blk"), col("key").as("pkey"),
            col("doc_id").as("id1"), col("simhash").as("s1"))
          .join(b, Seq("blk", "pkey"))
          .filter(col("id1") < col("id2"))
          .select(col("id1"), col("id2"), col("s1"), col("s2"))
          .distinct()
          .localCheckpoint(true)
        val nc = cands.count()
        val nv = cands.filter(bit_count(col("s1").bitwiseXOR(col("s2"))) <= 6).count()
        (depth.toLong, nc, nv)
      }
      import s.implicits._
      out.toDF("probe_depth", "n_candidate_pairs", "n_verified_pairs")
        .orderBy("probe_depth")
    },
    Some {
      val corpus =
        s"""SELECT doc_id::BIGINT AS doc_id, text FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id::BIGINT + 1000000,
                   array_to_string(rt[1:len(rt)-3], ' ')
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS rt
                  FROM documents WHERE doc_id % 2 = 0) WHERE doc_id % 4 = 0"""
      s"""WITH ${simhashSigSql(corpus)},
          bands AS MATERIALIZED (
            SELECT doc_id, sigu, bb.b AS blk, (sigu >> (16 * bb.b)) & 65535 AS key
            FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) bb(b)),
          probes AS (
            SELECT doc_id, sigu, blk, key AS pkey FROM bands
            UNION ALL
            SELECT doc_id, sigu, blk, xor(key, 1::UBIGINT << j.range) AS pkey
            FROM bands CROSS JOIN range(16) j),
          c0 AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sigu AS s1, b.sigu AS s2
                 FROM bands a JOIN bands b
                   ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id),
          c1 AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sigu AS s1, b.sigu AS s2
                 FROM bands a JOIN probes b
                   ON a.blk = b.blk AND a.key = b.pkey AND a.doc_id < b.doc_id)
          SELECT 0::BIGINT AS probe_depth,
                 (SELECT COUNT(*) FROM c0)::BIGINT AS n_candidate_pairs,
                 (SELECT COUNT(*) FROM c0 WHERE bit_count(xor(s1, s2)) <= 6)::BIGINT AS n_verified_pairs
          UNION ALL
          SELECT 1, (SELECT COUNT(*) FROM c1),
                 (SELECT COUNT(*) FROM c1 WHERE bit_count(xor(s1, s2)) <= 6)
          ORDER BY probe_depth"""
    })

  /** Fellegi–Sunter probabilistic record linkage
    * ([[graft.operators.Linkage.fellegiSunterScores]] — the DECISION MODEL
    * layered on the repo's candidate generators, beside the purely
    * distance-based blocked/sorted-neighborhood dedup): a dirty-duplicates
    * corpus is derived from part (every 3rd row gets a copy with
    * deterministic field perturbations — name suffix at k%6, size bump at
    * k%9, type suffix at k%12, price bump at k%15), candidates come from
    * the LINEAR sorted-neighborhood generator (name sort within brand
    * blocks, window 4), and each pair's per-field agreement vector is
    * scored with integer fixed-point log-odds: m fixed at 15/16, u
    * estimated from the candidate population itself (one global partial
    * aggregate, broadcast back), score = Σ γ_j·wa_j + (1−γ_j)·wd_j in
    * 1/16-bit units. Decisions at ≥4 bits (link) / ≥0 (possible) are
    * cross-tabbed against planted ground truth (copy id = orig + 10M).
    * Oracle replays the whole chain — window pairing, smoothed u counts,
    * fixed-point log₂ — in exact integer SQL. */
  val q288_record_linkage = Q(
    "q288_record_linkage",
    (s, dir) => {
      val base = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("id"),
        col("p_name").as("nm"), col("p_type").as("ty"),
        col("p_size").cast("long").as("sz"), col("p_retailprice").as("pr"),
        col("p_brand").as("blk"))
      val copies = base.filter(col("id") % 3 === 0).select(
        (col("id") + 10000000L).as("id"),
        when(col("id") % 6 === 0, concat(col("nm"), lit(" x"))).otherwise(col("nm")).as("nm"),
        when(col("id") % 12 === 0, concat(col("ty"), lit(" alt"))).otherwise(col("ty")).as("ty"),
        when(col("id") % 9 === 0, col("sz") + 1L).otherwise(col("sz")).as("sz"),
        when(col("id") % 15 === 0, col("pr") + 1.0d).otherwise(col("pr")).as("pr"),
        col("blk"))
      val corpus = base.unionByName(copies).localCheckpoint(true) // pairs join back twice
      val pairs = graft.text.Dedup
        .sortedNeighborhoodPairs(corpus.select(col("id"), col("nm"), col("blk")),
          "id", "nm", "blk", window = 4, maxDist = 1000)
        .join(corpus.select(col("id").as("id1"), col("nm").as("nm1"), col("ty").as("ty1"),
          col("sz").as("sz1"), col("pr").as("pr1")), Seq("id1"))
        .join(corpus.select(col("id").as("id2"), col("nm").as("nm2"), col("ty").as("ty2"),
          col("sz").as("sz2"), col("pr").as("pr2")), Seq("id2"))
        .select(col("id1"), col("id2"),
          (col("nm1") === col("nm2")).as("g_nm"),
          (col("ty1") === col("ty2")).as("g_ty"),
          (col("sz1") === col("sz2")).as("g_sz"),
          (col("pr1") === col("pr2")).as("g_pr"))
      graft.operators.Linkage
        .fellegiSunterScores(pairs, Seq("g_nm", "g_ty", "g_sz", "g_pr"))
        .withColumn("decision",
          when(col("score") >= 64L, "1_link")
            .when(col("score") >= 0L, "2_possible").otherwise("3_non_link"))
        .withColumn("is_dup",
          greatest(col("id1"), col("id2")) - least(col("id1"), col("id2")) === 10000000L)
        .groupBy("decision", "is_dup")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("score")).cast("long").as("sum_score"))
        .orderBy("decision", "is_dup")
    },
    Some {
      def f(x: String): String =
        s"(16 * (length(bin($x)) - 1) - 16 + (($x) * 16) // (1::BIGINT << (length(bin($x)) - 1)))"
      val fieldSql = Seq("nm", "ty", "sz", "pr")
        .map { j =>
          s"""CASE WHEN g_$j THEN ${f(s"15 * (C + 2)")} - ${f(s"16 * (A_$j + 1)")}
                   ELSE ${f(s"1 * (C + 2)")} - ${f(s"16 * (C - A_$j + 1)")} END"""
        }.mkString(" + ")
      s"""WITH base AS (
            SELECT p_partkey::BIGINT AS id, p_name AS nm, p_type AS ty,
                   p_size::BIGINT AS sz, p_retailprice AS pr, p_brand AS blk
            FROM part),
          corpus AS (
            SELECT * FROM base
            UNION ALL
            SELECT id + 10000000,
                   CASE WHEN id % 6 = 0 THEN nm || ' x' ELSE nm END,
                   CASE WHEN id % 12 = 0 THEN ty || ' alt' ELSE ty END,
                   CASE WHEN id % 9 = 0 THEN sz + 1 ELSE sz END,
                   CASE WHEN id % 15 = 0 THEN pr + 1.0 ELSE pr END,
                   blk
            FROM base WHERE id % 3 = 0),
          ordered AS (
            SELECT *, row_number() OVER (PARTITION BY blk ORDER BY nm, id) AS rn
            FROM corpus),
          pairs AS (
            SELECT a.id AS id1, b.id AS id2,
                   a.nm = b.nm AS g_nm, a.ty = b.ty AS g_ty,
                   a.sz = b.sz AS g_sz, a.pr = b.pr AS g_pr
            FROM ordered a JOIN ordered b
              ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3),
          stats AS (
            SELECT COUNT(*)::BIGINT AS C,
                   SUM(CASE WHEN g_nm THEN 1 ELSE 0 END)::BIGINT AS A_nm,
                   SUM(CASE WHEN g_ty THEN 1 ELSE 0 END)::BIGINT AS A_ty,
                   SUM(CASE WHEN g_sz THEN 1 ELSE 0 END)::BIGINT AS A_sz,
                   SUM(CASE WHEN g_pr THEN 1 ELSE 0 END)::BIGINT AS A_pr
            FROM pairs),
          scored AS (
            SELECT id1, id2, ($fieldSql)::BIGINT AS score
            FROM pairs CROSS JOIN stats)
          SELECT CASE WHEN score >= 64 THEN '1_link'
                      WHEN score >= 0 THEN '2_possible' ELSE '3_non_link' END AS decision,
                 greatest(id1, id2) - least(id1, id2) = 10000000 AS is_dup,
                 COUNT(*)::BIGINT AS n_pairs, SUM(score)::BIGINT AS sum_score
          FROM scored GROUP BY 1, 2 ORDER BY 1, 2"""
    })

  /** Golden-record survivorship ([[graft.operators.Linkage.goldenRecords]]
    * — the MERGE step of entity resolution, after q288's scoring and the
    * CC clustering ops: per cluster and field the survivor is the most
    * frequent non-null value, ties to the SMALLEST value so outcomes are
    * total-order deterministic). Dirty-duplicate part corpus (q288's
    * perturbations), clusters from the planted arithmetic: every
    * perturbed field heals back to the original (tie of 1-1 → smaller
    * value = the unperturbed one, since suffixes sort after their prefix
    * and sz+1 after sz). Output pins cluster counts, the survivor size
    * checksum, and per-field healed-cluster counts; oracle derives all
    * from the perturbation arithmetic. */
  val q299_golden_record = Q(
    "q299_golden_record",
    (s, dir) => {
      val base = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("id"),
        col("p_name").as("nm"), col("p_type").as("ty"),
        col("p_size").cast("long").as("sz"))
      val copies = base.filter(col("id") % 3 === 0).select(
        (col("id") + 10000000L).as("id"),
        when(col("id") % 6 === 0, concat(col("nm"), lit(" x"))).otherwise(col("nm")).as("nm"),
        when(col("id") % 12 === 0, concat(col("ty"), lit(" alt"))).otherwise(col("ty")).as("ty"),
        when(col("id") % 9 === 0, col("sz") + 1L).otherwise(col("sz")).as("sz"))
      val members = base.unionByName(copies)
        .withColumn("cluster", col("id") % 10000000L)
        .localCheckpoint(true) // survivorship votes + the healed audit
      val golden = graft.operators.Linkage
        .goldenRecords(members, "cluster", Seq("nm", "ty", "sz"))
      val audit = members
        .join(golden.select(col("cluster"), col("nm").as("s_nm"),
          col("ty").as("s_ty"), col("sz").as("s_sz")), Seq("cluster"))
        .groupBy("cluster")
        .agg(max(when(col("nm") =!= col("s_nm"), 1L).otherwise(0L)).as("h_nm"),
          max(when(col("ty") =!= col("s_ty"), 1L).otherwise(0L)).as("h_ty"),
          max(when(col("sz") =!= col("s_sz"), 1L).otherwise(0L)).as("h_sz"))
      golden.join(audit, Seq("cluster"))
        .agg(count(lit(1)).cast("long").as("n_clusters"),
          sum(when(col("n_members") === 2L, 1L).otherwise(0L)).cast("long").as("n_pairs"),
          sum(col("sz")).cast("long").as("sum_survivor_sz"),
          sum(col("h_nm")).cast("long").as("n_nm_healed"),
          sum(col("h_ty")).cast("long").as("n_ty_healed"),
          sum(col("h_sz")).cast("long").as("n_sz_healed"))
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS id,
                              CAST(p_size AS BIGINT) AS sz FROM part)
            SELECT (SELECT COUNT(*) FROM p)::BIGINT AS n_clusters,
                   (SELECT COUNT(*) FROM p WHERE id % 3 = 0)::BIGINT AS n_pairs,
                   (SELECT SUM(sz) FROM p)::BIGINT AS sum_survivor_sz,
                   (SELECT COUNT(*) FROM p WHERE id % 6 = 0)::BIGINT AS n_nm_healed,
                   (SELECT COUNT(*) FROM p WHERE id % 12 = 0)::BIGINT AS n_ty_healed,
                   (SELECT COUNT(*) FROM p WHERE id % 9 = 0)::BIGINT AS n_sz_healed"""))

  /** Edit-distance similarity join via ED-Join prefix filtering
    * ([[graft.text.Dedup.qgramEditJoin]] — the UNBLOCKED counterpart of
    * the blocked edit-distance dedup: no blocking key, no blocked-away
    * false negatives; each string's q·d+1 RAREST grams probe the full
    * positional gram index, so stopgram df² volume never materializes):
    * part names plus planted one-char typos (position from key
    * arithmetic), d = 1, q = 2. Output: per-distance pair census. Oracle
    * replays the full algorithm — grams, df order, prefix window,
    * asymmetric join, levenshtein verify; SOUNDNESS (no missed pair) is
    * the spec's brute-force job. */
  val q310_qgram_edit_join = Q(
    "q310_qgram_edit_join",
    (s, dir) => {
      // fixed slice (q69 convention): the synthetic name vocabulary repeats
      // heavily, so identical-name pair OUTPUT grows quadratically with the
      // corpus — the operator handles it, but the catalog query pins a
      // constant-size slice so bench cost measures the algorithm, not an
      // exploding output
      val names = t(s, dir, "part")
        .select(col("p_partkey").cast("long").as("id"), col("p_name").as("s"))
        .filter(col("id") < 4000)
      val typos = names.filter(col("id") % 4 === 0).select(
        (col("id") + 10000000L).as("id"),
        expr("concat(substring(s, 1, CAST(id % 10 AS INT)), 'q', " +
          "substring(s, CAST(id % 10 AS INT) + 2, 200))").as("s"))
      val corpus = names.unionByName(typos)
      graft.text.Dedup.qgramEditJoin(corpus, "id", "s", q = 2, maxDistance = 1)
        .groupBy("distance")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("id1")).cast("long").as("sum_id1"),
          sum(col("id2")).cast("long").as("sum_id2"))
        .select(col("distance").cast("long").as("distance"),
          col("n_pairs"), col("sum_id1"), col("sum_id2"))
        .orderBy("distance")
    },
    Some("""WITH names AS (
              SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS s FROM part
              WHERE p_partkey < 4000),
            corpus AS (
              SELECT * FROM names
              UNION ALL
              SELECT id + 10000000,
                     concat(substring(s, 1, CAST(id % 10 AS INT)), 'q',
                            substring(s, CAST(id % 10 AS INT) + 2, 200))
              FROM names WHERE id % 4 = 0),
            grams AS (
              SELECT c.id, length(c.s) AS len,
                     substr(c.s, CAST(u.i AS INT), 2) AS g, u.i AS p
              FROM corpus c, UNNEST(range(1, length(c.s))) AS u(i)),
            dfc AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY 1),
            pre AS (
              SELECT g, id, len, p FROM (
                SELECT gr.g, gr.id, gr.len, gr.p,
                       ROW_NUMBER() OVER (PARTITION BY gr.id
                         ORDER BY dfc.df, gr.g, gr.p) AS rk
                FROM grams gr JOIN dfc USING (g))
              WHERE rk <= 3),
            cand AS (
              SELECT DISTINCT LEAST(a.id, b.id) AS id1, GREATEST(a.id, b.id) AS id2
              FROM pre a JOIN grams b USING (g)
              WHERE a.id <> b.id AND abs(a.len - b.len) <= 1 AND abs(a.p - b.p) <= 1),
            ver AS (
              SELECT c.id1, c.id2, levenshtein(s1.s, s2.s) AS distance
              FROM cand c
              JOIN corpus s1 ON s1.id = c.id1
              JOIN corpus s2 ON s2.id = c.id2)
            SELECT distance::BIGINT AS distance, COUNT(*)::BIGINT AS n_pairs,
                   SUM(id1)::BIGINT AS sum_id1, SUM(id2)::BIGINT AS sum_id2
            FROM ver WHERE distance <= 1 GROUP BY 1 ORDER BY 1"""))

  /** Shared corpus registry for the artifact-lifecycle queries: the
    * documents table registered once per (JVM, sf) as `docs_corpus`
    * (validate = false — a text corpus, not a value fact table). */
  private def artifactRegistry(s: org.apache.spark.sql.SparkSession, dir: String) =
    memo(s, dir, "artifacts") {
      val reg = graft.registry.Registry(s, scratch("graft-registry-artifacts"))
      graft.registry.Registry.registerDataset(reg, "docs_corpus",
        t(s, dir, "documents").select(col("doc_id"), col("text")), validate = false)
      reg
    }

  /** Incremental ingest dedup with REGISTRY-RESOLVED corpus artifacts
    * ([[graft.registry.DerivedArtifacts.incrementalMinhashNearDuplicates]]):
    * the corpus's minhash shingles + LSH buckets are registered derived
    * datasets with content-hash provenance — built on first touch, pure
    * parquet reads on every later ingest, invalidated when the corpus
    * dataset changes (spec-pinned in DerivedArtifactsSpec). The batch
    * (last-word-dropped copies of every 7th document, the q29 fixture
    * family) pays only its own map-side pass; candidates join cross-side
    * only, so ingest cost scales with the batch, not the corpus. Oracle:
    * exact-Jaccard inverted-index join between batch and corpus shingle
    * sets (the q29 replay). */
  val q385_registry_incremental_dedup = Q(
    "q385_registry_incremental_dedup",
    (s, dir) => {
      val reg = artifactRegistry(s, dir)
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // batch-id namespace: the next power-of-ten-multiple above max
      // doc_id (metadata-scale scalar), never a fixed 1e6 — a synthesized
      // 5×+ corpus would collide batch ids with corpus ids (r15 ADVICE);
      // at the driver SFs max < 1e6 so the offset stays 1 000 000 and the
      // hash is unchanged
      val off = d.agg(max(col("doc_id"))).head().getLong(0) / 1000000L * 1000000L +
        1000000L
      val batch = d.filter(pmod(col("doc_id"), lit(7L)) === 0L)
        .select(
          (col("doc_id") + off).as("doc_id"),
          array_join(
            slice(split(trim(col("text")), "\\s+"), lit(1),
              size(split(trim(col("text")), "\\s+")) - 1), " ").as("text"))
      graft.registry.DerivedArtifacts
        .incrementalMinhashNearDuplicates(reg, "docs_corpus", batch)
        .select(
          col("new_id").cast("long").as("new_id"),
          col("existing_id").cast("long").as("existing_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("new_id", "existing_id")
    },
    Some(raw"""WITH off AS (
              SELECT (max(doc_id) // 1000000 + 1) * 1000000 AS o FROM documents),
            batch AS (
              SELECT doc_id + (SELECT o FROM off) AS doc_id,
                     array_to_string(toks[1:len(toks)-1], ' ') AS text
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                    FROM documents)
              WHERE doc_id % 7 = 0),
            sh_c AS (
              ${shingleSetsSql("documents")}),
            sh_b AS (
              ${shingleSetsSql("batch")}),
            size_c AS (SELECT doc_id, len(shingles) AS sz FROM sh_c),
            size_b AS (SELECT doc_id, len(shingles) AS sz FROM sh_b),
            ex_c AS (SELECT doc_id, unnest(shingles) AS s FROM sh_c),
            ex_b AS (SELECT doc_id, unnest(shingles) AS s FROM sh_b),
            inter AS (
              SELECT b.doc_id AS new_id, c.doc_id AS existing_id, COUNT(*) AS ic
              FROM ex_b b JOIN ex_c c ON b.s = c.s
              GROUP BY 1, 2),
            pairs AS (
              SELECT new_id, existing_id,
                     CAST(ic AS DOUBLE) / (sb.sz + sc.sz - ic) AS jaccard
              FROM inter
              JOIN size_b sb ON sb.doc_id = new_id
              JOIN size_c sc ON sc.doc_id = existing_id)
            SELECT CAST(new_id AS BIGINT) AS new_id,
                   CAST(existing_id AS BIGINT) AS existing_id,
                   ROUND(jaccard, 4) AS jaccard
            FROM pairs WHERE jaccard >= 0.8 ORDER BY new_id, existing_id"""))

  /** The MinHash-LSH dedup pipeline from PURE SQL TEXT (r15 VERDICT item
    * 7): `xxhash64_array` → `minhash_sig` → banded `hash()` buckets →
    * bucket self-join candidates → exact-Jaccard verify, every stage a
    * SQL expression over the q29 fixture family (every 7th document gets
    * a last-word-dropped +1e6-id copy). Spellings mirror
    * `Dedup.hashedShingleSets`/`minhashSignaturesFromShingles`/
    * `lshBucketsFromSignatures` exactly (Round16OpsSpec pins the SQL
    * route == the Column route); candidate generation is deterministic
    * (fixed hash family), so the exact-Jaccard oracle matches iff LSH
    * recalls every ≥0.8 pair — which this fixture's hash-verified runs
    * pin. Verification is per-pair array_intersect over the candidates
    * (the Column route's spelling); the inverted-index gram join is the
    * ORACLE-side trick only — see the in-query comment. */
  val q402_sql_lsh_dedup = Q(
    "q402_sql_lsh_dedup",
    (s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_q402_docs")
      // Stage MATERIALIZATION is load-bearing for a SQL-texted LSH
      // pipeline, because Spark INLINES every CTE reference into its
      // consumers:
      //   - `toks` inlined into the shingle transform LAMBDA re-runs the
      //     whole regex tokenizer per element (the HOF-lambda recompute
      //     trap, SQL-CTE form — measured ~100 s at sf0.1);
      //   - `sig` inlined into the 64 element_at band references
      //     recomputes the 64-hash MinHash once per reference (~45 s);
      //   - `sh`/`buckets` inlined into self-join sides double everything
      //     upstream.
      // And CACHE TABLE is NOT enough: on the bucket SELF-join, only one
      // side matched the cached plan — the other re-derived from the file
      // scan with the `size(sh) > 0` filter pushdown INLINING the whole
      // shingle pipeline into scan-level DataFilters (measured 54 s for a
      // Σd² = 121k join). localCheckpoint'd temp views are plan-identity-
      // proof: every reference reads the materialized RDD. ~2 s total.
      def mat(name: String, sel: String): Unit =
        s.sql(sel).localCheckpoint(eager = true).createOrReplaceTempView(name)
      mat("graft_q402_toks", """
        WITH corpus AS (
          SELECT doc_id, text FROM graft_q402_docs
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id,
                 array_join(slice(split(trim(text), '\\s+'), 1,
                   size(split(trim(text), '\\s+')) - 1), ' ') AS text
          FROM graft_q402_docs WHERE doc_id % 7 = 0)
        SELECT doc_id,
               filter(split(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' '), '\\s+', ' ')), '\\s+'),
                 t -> length(t) > 0) AS toks
        FROM corpus""")
      mat("graft_q402_sh", """
        SELECT doc_id, array_distinct(xxhash64_array(
          CASE WHEN size(toks) <= 3 THEN array(array_join(toks, ' '))
               ELSE transform(sequence(0, size(toks) - 3),
                      i -> concat_ws(' ', element_at(toks, i + 1),
                             element_at(toks, i + 2), element_at(toks, i + 3)))
          END)) AS sh
        FROM graft_q402_toks""")
      mat("graft_q402_sig", """
        SELECT doc_id, minhash_sig(sh, 64) AS sig
        FROM graft_q402_sh WHERE size(sh) > 0""")
      mat("graft_q402_buckets", """
        SELECT doc_id, b.band,
               CAST(hash(element_at(sig, b.band * 4 + 1), element_at(sig, b.band * 4 + 2),
                         element_at(sig, b.band * 4 + 3), element_at(sig, b.band * 4 + 4))
                    AS BIGINT) AS bucket
        FROM graft_q402_sig LATERAL VIEW explode(sequence(0, 15)) b AS band""")
      // verify = per-pair array_intersect over the CANDIDATE pairs — the
      // Column route's verifyJaccardOnShingles spelling. The exploded
      // inverted-index join belongs on the ORACLE side only: spelled in
      // Spark SQL, Catalyst may reorder the gram equi-join BEFORE the
      // candidate restriction and materialize the Σdf² all-pairs blowup
      // (measured: the first spelling ran 300+ s at sf0.1; this one ~2 s)
      val out = s.sql("""
        WITH cands AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM graft_q402_buckets a JOIN graft_q402_buckets b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        j AS (
          SELECT c.id1, c.id2,
                 size(array_intersect(s1.sh, s2.sh)) AS ic,
                 size(s1.sh) AS sz1, size(s2.sh) AS sz2
          FROM cands c
          JOIN graft_q402_sh s1 ON s1.doc_id = c.id1
          JOIN graft_q402_sh s2 ON s2.doc_id = c.id2)
        SELECT id1, id2,
               ROUND(CAST(ic AS DOUBLE) / (sz1 + sz2 - ic), 4) AS jaccard
        FROM j
        WHERE CAST(ic AS DOUBLE) / (sz1 + sz2 - ic) >= 0.8
        ORDER BY id1, id2""")
        // cut lineage so the result survives the stage-RDD unpersist below
        .localCheckpoint(true)
      for (v <- Seq("graft_q402_buckets", "graft_q402_sig", "graft_q402_sh",
        "graft_q402_toks", "graft_q402_docs"))
        s.sql(s"DROP VIEW IF EXISTS $v")
      out
    },
    Some(raw"""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     array_to_string(toks[1:len(toks)-1], ' ') AS text
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                    FROM documents)
              WHERE doc_id % 7 = 0),
            sh AS (
              ${shingleSetsSql("corpus")}),
            sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
            ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS ic
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT i.id1, i.id2,
                   ROUND(CAST(i.ic AS DOUBLE) / (s1.sz + s2.sz - i.ic), 4) AS jaccard
            FROM inter i
            JOIN sizes s1 ON s1.doc_id = i.id1
            JOIN sizes s2 ON s2.doc_id = i.id2
            WHERE CAST(i.ic AS DOUBLE) / (s1.sz + s2.sz - i.ic) >= 0.8
            ORDER BY id1, id2"""))

  val all: Seq[Q] = Seq(
    q26_dedup_exact, q29_dedup_minhash, q31_dedup_simhash, q34_fingerprint, q69_dedup_clusters,
    q78_decontaminate, q81_line_dedup, q82_dedup_keep_best, q87_span_dedup, q88_dedup_incremental,
    q89_bloom_screen, q115_edit_pairs, q120_leakage_split, q128_cosine_pairs, q139_bbit_minhash,
    q143_source_similarity, q150_url_dedup, q155_containment, q200_sketch_fidelity, q213_winnowing,
    q216_sorted_neighborhood, q240_growth_curve, q252_multiprobe_lsh, q288_record_linkage,
    q299_golden_record, q310_qgram_edit_join, q385_registry_incremental_dedup, q402_sql_lsh_dedup)
}
