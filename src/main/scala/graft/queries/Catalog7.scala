package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Constants._
import graft.operators.{Aggregation, DatasetExpr, DimensionFilter, MappingKernel, Reshape, SetOps}
import graft.functions.{Growth, Units}
import graft.time.{AnnualTime, TimeAdjustments}
import graft.text.{Dedup, TextFunctions}
import graft.ml.Similarity
import graft.multimodal.Multimodal

import graft.QueryDsl._

/** Catalog chunk q175-q203 (registration + docs in [[graft.Queries]]). */
private[graft] object Catalog7 {

  /** MMR diversified re-ranking (RAG retrieval QA): for 4 query vectors,
    * greedily select 4 of the top-8 cosine candidates maximizing
    * 7·rel − 3·max-sim-to-selected — the diversity re-rank that stops a
    * result list being five paraphrases of one passage. The greedy
    * trajectory (which id at which round) is the contract; the oracle
    * replays all 4 rounds as generated MATERIALIZED CTE stages over the
    * same two-term double expression (never a re-associated sum — q124's
    * ulp-exactness argument). */
  val q175_mmr = Q(
    "q175_mmr",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
      Similarity.mmrSelect(emb.filter(col("vec_id") < 4), emb, topN = 8, k = 4)
        .select(
          col("query_id").cast("long").as("query_id"),
          col("round").cast("long").as("sel_round"),
          col("neighbor_id").cast("long").as("neighbor_id"),
          round(col("relevance"), 4).as("relevance"),
          round(col("score"), 4).as("score"))
        .orderBy("query_id", "sel_round")
    },
    Some {
      val cos = (a: String, b: String) =>
        s"list_dot_product($a.v, $b.v) / (sqrt(list_dot_product($a.v, $a.v)) * sqrt(list_dot_product($b.v, $b.v)))"
      val rounds = (2 to 4).map { i =>
        val prev = s"acc${i - 1}"
        s"""ms$i AS (
              SELECT rm.query_id, rm.neighbor_id, rm.rel, MAX(p.sim) AS ms
              FROM cands rm
              JOIN p ON p.query_id = rm.query_id AND p.a = rm.neighbor_id
              JOIN $prev s ON s.query_id = p.query_id AND s.sel = p.b
              WHERE NOT EXISTS (SELECT 1 FROM $prev s2
                                WHERE s2.query_id = rm.query_id AND s2.sel = rm.neighbor_id)
              GROUP BY 1, 2, 3),
            acc$i AS MATERIALIZED (
              SELECT * FROM $prev
              UNION ALL
              SELECT query_id, neighbor_id AS sel, $i AS r, rel, score FROM (
                SELECT query_id, neighbor_id, rel, 7 * rel - 3 * ms AS score,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY 7 * rel - 3 * ms DESC, neighbor_id) AS rn
                FROM ms$i) WHERE rn = 1)"""
      }.mkString(",\n          ")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                     FROM embeddings),
          sc0 AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ${cos("q", "c")} AS rel
            FROM e q JOIN e c ON q.vec_id < 4 AND q.vec_id <> c.vec_id),
          cands AS MATERIALIZED (
            SELECT query_id, neighbor_id, rel FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY rel DESC, neighbor_id) AS rn
              FROM sc0) WHERE rn <= 8),
          p AS MATERIALIZED (
            SELECT c1.query_id, c1.neighbor_id AS a, c2.neighbor_id AS b,
                   ${cos("ea", "eb")} AS sim
            FROM cands c1
            JOIN cands c2 ON c1.query_id = c2.query_id AND c1.neighbor_id <> c2.neighbor_id
            JOIN e ea ON ea.vec_id = c1.neighbor_id
            JOIN e eb ON eb.vec_id = c2.neighbor_id),
          acc1 AS MATERIALIZED (
            SELECT query_id, neighbor_id AS sel, 1 AS r, rel, 7 * rel AS score FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY rel DESC, neighbor_id) AS rn
              FROM cands) WHERE rn = 1),
          $rounds
          SELECT CAST(query_id AS BIGINT) AS query_id, CAST(r AS BIGINT) AS sel_round,
                 CAST(sel AS BIGINT) AS neighbor_id,
                 ROUND(rel, 4) AS relevance, ROUND(score, 4) AS score
          FROM acc4 ORDER BY query_id, sel_round"""
    })

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

  /** Per-user temporal holdout split (leakage-safe for sequence models):
    * each user's LAST ceil(n/5) events by (ts, event_id) go to holdout.
    * Value sums are exact integer cents so the per-split rollup is
    * bit-stable. */
  val q177_temporal_split = Q(
    "q177_temporal_split",
    (s, dir) => {
      graft.text.Sampling
        .temporalHoldout(t(s, dir, "events"), "user_id", "ts", "event_id")
        .groupBy(col("split"))
        .agg(
          count(lit(1)).cast("long").as("n_events"),
          countDistinct(col("user_id")).cast("long").as("n_users"),
          sum(floor(col("value") * 100).cast("long")).cast("long").as("value_cents"))
        .orderBy("split")
    },
    Some("""WITH r AS (
              SELECT user_id, value,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rk,
                     COUNT(*) OVER (PARTITION BY user_id) AS n
              FROM events),
            sp AS (
              SELECT user_id, value,
                     CASE WHEN rk <= (n * 1 + 4) // 5 THEN 'holdout'
                          ELSE 'train' END AS split
              FROM r)
            SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM sp GROUP BY 1 ORDER BY 1"""))

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

  /** Custom PHYSICAL top-k-per-group operator (logical node → planner
    * strategy → bounded-heap exec, `plans.TopKPerGroup`): top-2 lineitems
    * by price per supplier, under a total order so the heap and the
    * oracle's row_number agree exactly. The plan carries NO sort and ONE
    * exchange of ≤ k rows per group per input partition — the map-side
    * combine for top-k that the window spelling cannot express
    * (TopKSpec pins the plan shape). */
  val q179_topk_operator = Q(
    "q179_topk_operator",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("suppkey"),
        col("l_orderkey").cast("long").as("orderkey"),
        col("l_linenumber").cast("long").as("linenumber"),
        col("l_extendedprice").as("price"))
      graft.operators.TopK.perGroup(
          li, Seq("suppkey"),
          Seq(("price", false), ("orderkey", true), ("linenumber", true)), k = 2)
        .orderBy("suppkey", "orderkey", "linenumber")
    },
    Some("""SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
                   CAST(l_orderkey AS BIGINT) AS orderkey,
                   CAST(l_linenumber AS BIGINT) AS linenumber,
                   l_extendedprice AS price
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_suppkey
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
                  FROM lineitem)
            WHERE rn <= 2
            ORDER BY suppkey, orderkey, linenumber"""))

  /** Synchronous label-propagation communities (graph breadth): 4 fixed
    * rounds over the co-supplier graph, every node adopting its
    * neighborhood's most frequent label (ties to the smaller) — the
    * deterministic LPA variant that replays level-by-level; the oracle
    * runs the same 4 rounds as generated MATERIALIZED stages. */
  val q180_label_prop = Q(
    "q180_label_prop",
    (s, dir) => {
      val os = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .distinct()
      val a = os.select(col("l_orderkey"), col("l_suppkey").as("sa"))
      val b = os.select(col("l_orderkey"), col("l_suppkey").as("sb"))
      val edges = a
        .join(b, Seq("l_orderkey"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 5)
        .select(col("sa").as("src"), col("sb").as("dst"))
      graft.operators.Graph.labelPropagation(edges, iterations = 4)
        .select(col("node").cast("long").as("node"), col("lbl").cast("long").as("community"))
        .orderBy("node")
    },
    Some {
      val rounds = (1 to 4).map { i =>
        val prev = s"l${i - 1}"
        s"""l$i AS MATERIALIZED (
              SELECT src AS node, lbl FROM (
                SELECT src, lbl,
                       ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, lbl ASC) AS rn
                FROM (SELECT e.src, p.lbl, COUNT(*) AS c
                      FROM e JOIN $prev p ON p.node = e.dst GROUP BY 1, 2))
              WHERE rn = 1)"""
      }.mkString(",\n          ")
      s"""WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
          e0 AS (SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, COUNT(*) AS w
                 FROM os a JOIN os b
                   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
                 GROUP BY 1, 2),
          und AS (SELECT sa AS src, sb AS dst FROM e0 WHERE w >= 5),
          e AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und)),
          l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
          $rounds
          SELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS community
          FROM l4 ORDER BY node"""
    })

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

  /** Last-touch attribution (marketing analytics): purchases credit the
    * latest preceding view/click within 7 days, one window pass, no
    * self-join of the event log; out-of-window or touchless purchases
    * report as unattributed. */
  val q182_attribution = Q(
    "q182_attribution",
    (s, dir) => {
      import graft.operators.EventAnalytics
      EventAnalytics.lastTouchAttribution(
          t(s, dir, "events"), "user_id", "event_type", "ts", "event_id",
          touchTypes = Seq("view", "click"), conversionType = "purchase", windowDays = 7)
        .select(col("channel"), col("n_conversions").cast("long").as("n_conversions"))
        .orderBy("channel")
    },
    Some("""WITH w AS (
              SELECT event_type, ts, epoch_us(ts) AS us,
                     LAST_VALUE(CASE WHEN event_type IN ('view','click')
                                     THEN epoch_us(ts) END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tts,
                     LAST_VALUE(CASE WHEN event_type IN ('view','click')
                                     THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tty
              FROM events),
            conv AS (
              SELECT CASE WHEN tts IS NOT NULL AND us - tts <= 7::BIGINT * 86400 * 1000000
                          THEN tty ELSE 'unattributed' END AS channel
              FROM w WHERE event_type = 'purchase')
            SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_conversions
            FROM conv GROUP BY 1 ORDER BY 1"""))

  /** Inter-arrival burstiness profile: per-user consecutive event gaps
    * bucketed by floor-log2 seconds (−1 = sub-second), counted per
    * event type of the later event — integer end-to-end. */
  val q183_interarrival = Q(
    "q183_interarrival",
    (s, dir) => {
      import graft.operators.EventAnalytics
      EventAnalytics.interArrivalProfile(
          t(s, dir, "events"), "user_id", "event_type", "ts", "event_id")
        .select(col("event_type"), col("bucket"),
          col("n_gaps").cast("long").as("n_gaps"))
        .orderBy("event_type", "bucket")
    },
    Some("""WITH g AS (
              SELECT event_type,
                     epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                            ORDER BY ts, event_id) AS gap
              FROM events),
            b AS (
              SELECT event_type,
                     CASE WHEN gap < 1000000 THEN -1
                          ELSE length(bin(gap // 1000000)) - 1 END AS bucket
              FROM g WHERE gap IS NOT NULL)
            SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_gaps
            FROM b GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Perceptual image hashing (multimodal dedup): 200 synthetic PNGs — 100
    * horizontal gradients (one aHash class by construction: blocks right
    * of center above the mean regardless of base brightness) and 100
    * solid grays (aHash 0) — really decoded by ImageIO and hashed into
    * 8-byte artifacts. The oracle derives BOTH expected hashes from
    * arithmetic (the gradient class = bytes 0xF0 at every position,
    * spelled 240·(2⁶⁴−1)/255 − 2⁶⁴ signed), never touching a codec. */
  val q184_image_phash = Q(
    "q184_image_phash",
    (s, dir) => {
      val media = Multimodal.syntheticImages(s, 200)
      Multimodal.imageAHashes(media)
        .groupBy(col("ahash"))
        .agg(count(lit(1)).cast("long").as("n"),
          countDistinct(col("id")).cast("long").as("n_ids"))
        .orderBy("ahash")
    },
    Some("""WITH g AS (
              SELECT i AS id,
                     CASE WHEN i % 2 = 0
                          -- gradient aHash: bit by*8+bx set iff bx >= 4 →
                          -- byte 0xF0 at each of the 8 byte positions =
                          -- 240 * (2^64-1)/255, converted to signed BIGINT
                          THEN CAST(240::HUGEINT * ((18446744073709551616::HUGEINT - 1) // 255)
                                    - 18446744073709551616::HUGEINT AS BIGINT)
                          ELSE 0 END AS ahash
              FROM range(200) t(i))
            SELECT ahash, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT id) AS BIGINT) AS n_ids
            FROM g GROUP BY 1 ORDER BY 1"""))

  /** Market-basket affinity (order-level lift): co-purchased part buckets
    * with exact integer lift ppm, support-pruned, top-30 fully
    * tie-broken — the basket generalization of q152's adjacency-only
    * collocations. Explicit-N repartition before the pair expansion. */
  val q185_basket_lift = Q(
    "q185_basket_lift",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").as("basket"),
        (col("l_partkey") % 200).cast("long").as("item"))
      graft.operators.Baskets.cooccurrenceLift(li, "basket", "item", minSupport = 5L)
        .select(
          col("item_a").cast("long").as("item_a"),
          col("item_b").cast("long").as("item_b"),
          col("c12").cast("long").as("c12"),
          col("lift_ppm").cast("long").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("item_a"), col("item_b"))
        .limit(30)
    },
    Some("""WITH items AS (
              SELECT DISTINCT l_orderkey AS b, CAST(l_partkey % 200 AS BIGINT) AS item
              FROM lineitem),
            n AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM items),
            singles AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY 1),
            pairs AS (
              SELECT x.item AS a, y.item AS bb, CAST(COUNT(*) AS BIGINT) AS c12
              FROM items x JOIN items y ON x.b = y.b AND x.item < y.item
              GROUP BY 1, 2 HAVING COUNT(*) >= 5)
            SELECT a AS item_a, bb AS item_b, c12,
                   CAST((c12 * nb * 1000000) // (s1.c * s2.c) AS BIGINT) AS lift_ppm
            FROM pairs JOIN singles s1 ON s1.item = a
                       JOIN singles s2 ON s2.item = bb, n
            ORDER BY lift_ppm DESC, item_a, item_b LIMIT 30"""))

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

  /** SQL-TEXT surface of the custom Catalyst expressions: the whole query
    * is one `spark.sql` string over a temp view, exercising `fvec_dot`
    * (registered via GraftExtensions' injectFunction) from SQL — the
    * extension path a SQL-only user takes; values match q27's
    * Column-API/native-expression route bit-for-bit. */
  val q188_sql_surface = Q(
    "q188_sql_surface",
    (s, dir) => {
      t(s, dir, "embeddings").createOrReplaceTempView("graft_q188_emb")
      s.sql("""
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               ROUND(fvec_dot(a.embedding, b.embedding) /
                     (SQRT(fvec_dot(a.embedding, a.embedding)) *
                      SQRT(fvec_dot(b.embedding, b.embedding))), 4) AS cos
        FROM graft_q188_emb a JOIN graft_q188_emb b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 20 AND b.vec_id < 20
        ORDER BY cos DESC, id1, id2 LIMIT 5""")
        .select(col("id1").cast("long").as("id1"), col("id2").cast("long").as("id2"), col("cos"))
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings WHERE vec_id < 20)
            SELECT CAST(a.vec_id AS BIGINT) AS id1, CAST(b.vec_id AS BIGINT) AS id2,
                   ROUND(list_dot_product(a.v, b.v) /
                         (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))), 4) AS cos
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            ORDER BY cos DESC, id1, id2 LIMIT 5"""))

  /** Time-travel read over SCD2 history (lakehouse pattern): the q131
    * history table queried AS OF two instants — an open-ended current
    * version (valid_to NULL) must satisfy any later as-of, a closed one
    * only instants inside [from, to). */
  val q189_time_travel = Q(
    "q189_time_travel",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tsu"), col("event_id"))
      val hist = graft.operators.History
        .scd2(ev, Seq("user_id"), "tsu", "event_type", tieBreak = Seq("event_id"))
        .localCheckpoint(true) // two as-of consumers
      def asOf(tag: String, tu: Long) = hist
        .filter(col("valid_from") <= tu && (col("valid_to").isNull || col("valid_to") > tu))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_users"))
        .withColumn("as_of", lit(tag))
      asOf("t1", 1704844800000000L) // 2024-01-10T00:00:00Z
        .unionByName(asOf("t2", 1706140800000000L)) // 2024-01-25T00:00:00Z
        .orderBy("as_of", "event_type")
    },
    Some("""WITH o AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
            f AS (SELECT *, CASE WHEN event_type IS NOT DISTINCT FROM
                                      LAG(event_type) OVER w THEN 0 ELSE 1 END AS chg
                  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
            i AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                                           ROWS UNBOUNDED PRECEDING) AS island FROM f),
            g AS (SELECT user_id, island, MIN(event_type) AS event_type,
                         MIN(tsu) AS valid_from FROM i GROUP BY 1, 2),
            h AS (SELECT user_id, event_type, valid_from,
                         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to
                  FROM g),
            t AS (SELECT 't1' AS as_of, 1704844800000000 AS tu
                  UNION ALL SELECT 't2', 1706140800000000)
            SELECT t.as_of, h.event_type, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM h JOIN t ON h.valid_from <= t.tu
                         AND (h.valid_to IS NULL OR h.valid_to > t.tu)
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Streaming idempotent upsert sink (exactly-once pattern): the events
    * file split into 4 source files, streamed one file per micro-batch
    * through an update-mode count into a batch-partitioned parquet
    * serving table (`batch=<id>` dirs, overwrite — a batch RETRY rewrites
    * its own directory instead of duplicating). The serving read resolves
    * each key to its latest batch; the oracle is the plain batch count —
    * equality across 4 incremental upserts is the exactly-once claim. */
  val q190_stream_upsert = Q(
    "q190_stream_upsert",
    (s, dir) => {
      val raw = s.read.parquet(s"$dir/events.parquet")
      val scratch = s.conf.get("spark.local.dir", "/tmp") +
        "/graft_q190_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.HadoopFs.delete(s, scratch)
      val srcDir = s"$scratch/src"
      raw.repartition(4, col("event_id")).write.parquet(srcDir)
      val stream = s.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val agg = stream.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val q = scopedStreamStart(s)(graft.streaming.StreamOps.idempotentUpsertCounts(
        agg, s"$scratch/serving", s"$scratch/ckpt"))
      q.awaitTermination()
      graft.streaming.StreamOps.readServingCounts(s, s"$scratch/serving", Seq("event_type"))
        .select(col("event_type"), col("n").cast("long").as("n"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** Rolling 7-day distinct users via HLL register merge: per-day register
    * tables (the persistable artifact) each contribute to 7 target days
    * through a bounded offset explode, max-merged per (day, register) —
    * the sliding-cardinality report that at 100 TB never rescans old
    * days and never shuffles raw user ids across windows (registers are
    * ≤ 256 rows/day regardless of volume). Exact rolling distinct
    * computed alongside as the honesty column; the oracle replays hash,
    * registers, shift-merge, and the ordered dyadic estimate fold. */
  val q191_rolling_distinct = Q(
    "q191_rolling_distinct",
    (s, dir) => {
      import graft.operators.Sketches
      val ev = t(s, dir, "events")
        .select(unix_date(to_date(col("ts"))).cast("long").as("day"), col("user_id"))
      val days = ev.select(col("day")).distinct().localCheckpoint(true)
      val regs = Sketches.hllRegisters(ev, Seq("day"), xxhash64(col("user_id")), p = 8)
      val rolled = regs
        .withColumn("off", explode(sequence(lit(0), lit(6))))
        .select((col("day") + col("off")).as("day"), col("j"), col("m"))
        .join(days, Seq("day"), "left_semi")
        .groupBy(col("day"), col("j"))
        .agg(max(col("m")).as("m"))
      val est = Sketches.hllEstimate(rolled, Seq("day"), p = 8)
      val exact = ev.distinct()
        .withColumn("off", explode(sequence(lit(0), lit(6))))
        .select((col("day") + col("off")).as("day"), col("user_id"))
        .join(days, Seq("day"), "left_semi")
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).cast("long").as("exact"))
      exact.join(est, Seq("day"))
        .select(col("day"), col("exact"), col("registers_used"), col("hll_est"))
        .orderBy("day")
    },
    Some {
      import graft.tools.OracleSql._
      val m = 256
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val scale = alpha * m.toDouble * m.toDouble
      val keys = """SELECT DISTINCT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
                           user_id AS k FROM events"""
      val hashed = xxhash64LongStages(s"($keys)", "k", "kh", pfx = "__h")
      s"""WITH hu AS (
            SELECT day,
                   CASE WHEN kh < 0 THEN kh::HUGEINT + 18446744073709551616::HUGEINT
                        ELSE kh::HUGEINT END AS u
            FROM ($hashed)),
          days AS (SELECT DISTINCT day FROM hu),
          jr AS (
            SELECT day, CAST(u % $m AS BIGINT) AS j,
                   CASE WHEN u // $m = 0 THEN 57
                        ELSE 57 - length(bin(CAST(u // $m AS BIGINT))) END AS rho
            FROM hu),
          shifted AS (
            SELECT jr.day + o.i AS day, j, rho
            FROM jr, (SELECT unnest(range(7)) AS i) o
            WHERE jr.day + o.i IN (SELECT day FROM days)),
          regs AS (SELECT day, j, MAX(rho) AS mm FROM shifted GROUP BY 1, 2),
          folded AS (
            SELECT day, CAST(COUNT(*) AS BIGINT) AS registers_used,
                   list_reduce(
                     [$m.0 - COUNT(*)] || list(1.0 / (1::BIGINT << mm) ORDER BY j),
                     (a, b) -> a + b) AS sh
            FROM regs GROUP BY 1),
          exact AS (
            SELECT s.day, CAST(COUNT(DISTINCT k) AS BIGINT) AS exact
            FROM (SELECT hu2.day + o.i AS day, k
                  FROM (SELECT DISTINCT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
                               user_id AS k FROM events) hu2,
                       (SELECT unnest(range(7)) AS i) o
                  WHERE hu2.day + o.i IN (SELECT day FROM days)) s
            GROUP BY 1)
          SELECT e.day, e.exact, f.registers_used, $scale / f.sh AS hll_est
          FROM exact e JOIN folded f USING (day)
          ORDER BY day"""
    })

  /** Second-order event sequences: per-user consecutive 3-grams under the
    * (ts, event_id) total order, top-20 by (count, sequence) — the
    * depth-2 extension of q171's first-order transition matrix (what a
    * next-event model actually trains on). */
  val q192_event_trigrams = Q(
    "q192_event_trigrams",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(20)
    },
    Some("""WITH g AS (
              SELECT event_type AS e1,
                     LEAD(event_type, 1) OVER w AS e2,
                     LEAD(event_type, 2) OVER w AS e3
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
            FROM g WHERE e3 IS NOT NULL
            GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 20"""))

  /** Weekday seasonality profile: per event type, each ISO weekday's
    * share of volume in ppm (integer; Σ over weekdays ≤ 7·10⁶ exactly) —
    * the shape used to judge whether q172's period-7 naive forecast even
    * applies. */
  val q193_weekday_profile = Q(
    "q193_weekday_profile",
    (s, dir) => {
      val d = t(s, dir, "events")
        .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"))
      import org.apache.spark.sql.expressions.Window
      d.withColumn("tot", sum(col("n")).over(Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("dow"),
          col("n").cast("long").as("n"),
          expr("(1000000 * n) div tot").cast("long").as("share_ppm"))
        .orderBy("event_type", "dow")
    },
    Some("""WITH d AS (
              SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, COUNT(*) AS n
              FROM events GROUP BY 1, 2)
            SELECT event_type, dow, CAST(n AS BIGINT) AS n,
                   CAST((1000000 * n) // SUM(n) OVER (PARTITION BY event_type)
                        AS BIGINT) AS share_ppm
            FROM d ORDER BY event_type, dow"""))

  /** Manifest-based data skipping (lakehouse pattern): orders written
    * range-clustered on o_totalprice into 8 files, a per-file min/max
    * manifest built once, and a selective range query planned against the
    * MANIFEST — it must open a strict subset of files (asserted) and
    * still produce exactly the full-scan answer (the oracle). */
  val q194_file_skipping = Q(
    "q194_file_skipping",
    (s, dir) => {
      import graft.sources.Skipping
      val scratch = s.conf.get("spark.local.dir", "/tmp") +
        "/graft_q194_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.HadoopFs.delete(s, scratch)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartitionByRange(8, col("o_totalprice"))
        .write.parquet(scratch)
      val manifest = Skipping.buildManifest(s, scratch, "o_totalprice")
      val nFiles = manifest.count()
      val (files, ranged) = Skipping.readRange(s, scratch, manifest, "o_totalprice", 100000.0, 150000.0)
      require(files.nonEmpty && files.size < nFiles,
        s"skipping must open a strict subset: ${files.size} of $nFiles")
      ranged
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(o_totalprice), 2) AS total
            FROM orders WHERE o_totalprice BETWEEN 100000.0 AND 150000.0
            GROUP BY 1 ORDER BY 1"""))

  /** Quota-balanced eval-set builder: 300 docs spread equally across the
    * (lang, source) cells (first n mod C cells in cell order get the
    * remainder), filled by deterministic hash order; small cells
    * under-fill and REPORT shortfall rather than borrow. Per-lang rollup
    * pins pools, quotas, picks, and the picked-id checksum. */
  val q195_quota_sample = Q(
    "q195_quota_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("source"))
      val picked = graft.text.Sampling.quotaBalancedSample(
        d, Seq("lang", "source"), "doc_id", n = 307L, seed = "ev", uniform = knuthUniform)
      picked
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).cast("long").as("picked"),
          sum(col("cell_quota")).cast("long").as("quota_weighted_rows"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy("lang")
    },
    Some(s"""WITH cells AS (
              SELECT lang, source, COUNT(*) AS cell_pool,
                     ROW_NUMBER() OVER (ORDER BY lang, source) AS ci,
                     (SELECT COUNT(*) FROM (SELECT DISTINCT lang, source FROM documents)) AS c
              FROM documents GROUP BY 1, 2),
            quotas AS (
              SELECT lang, source, cell_pool,
                     307 // c + CASE WHEN ci <= 307 % c THEN 1 ELSE 0 END AS cell_quota
              FROM cells),
            ranked AS (
              SELECT d.doc_id, d.lang, d.source, q.cell_quota,
                     ROW_NUMBER() OVER (PARTITION BY d.lang, d.source
                                        ORDER BY ${knuthUniformSql("d.doc_id", "ev")}, d.doc_id) AS rn
              FROM documents d JOIN quotas q ON d.lang = q.lang AND d.source = q.source),
            picked AS (SELECT * FROM ranked WHERE rn <= cell_quota)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS picked,
                   CAST(SUM(cell_quota) AS BIGINT) AS quota_weighted_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS id_checksum
            FROM picked GROUP BY 1 ORDER BY 1"""))

  /** The custom OPTIMIZER rule end-to-end: a group-key filter applied
    * AFTER the top-k operator — `PushFilterThroughTopK` commutes it below
    * the node (group filters drop whole groups, never rows within one)
    * and Spark's own pushdown carries it into the scan; TopKSpec pins
    * the plan, this query pins the values. */
  val q196_topk_pushdown = Q(
    "q196_topk_pushdown",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("suppkey"),
        col("l_orderkey").cast("long").as("orderkey"),
        col("l_linenumber").cast("long").as("linenumber"),
        col("l_extendedprice").as("price"))
      graft.operators.TopK.perGroup(
          li, Seq("suppkey"),
          Seq(("price", false), ("orderkey", true), ("linenumber", true)), k = 3)
        .filter(col("suppkey") % 7 === 2)
        .orderBy("suppkey", "orderkey", "linenumber")
    },
    Some("""SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
                   CAST(l_orderkey AS BIGINT) AS orderkey,
                   CAST(l_linenumber AS BIGINT) AS linenumber,
                   l_extendedprice AS price
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_suppkey
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
                  FROM lineitem)
            WHERE rn <= 3 AND l_suppkey % 7 = 2
            ORDER BY suppkey, orderkey, linenumber"""))

  /** Exact-integer daily-volume trend: OLS slope as a BIGINT rational
    * (numerator sign = direction, no doubles anywhere), dense-spine day
    * indexing — the feed-health monitor that can't flap from float
    * noise. */
  val q197_volume_trend = Q(
    "q197_volume_trend",
    (s, dir) => {
      import graft.operators.EventAnalytics
      EventAnalytics.dailyTrend(t(s, dir, "events"), "event_type", "ts")
        .select(
          col("key").as("event_type"),
          col("days").cast("long").as("days"),
          col("slope_num").cast("long").as("slope_num"),
          col("slope_den").cast("long").as("slope_den"),
          col("slope_mppm").cast("long").as("slope_mppm"),
          col("trend"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type AS key, CAST(ts AS DATE) AS day, COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
            spine AS (
              SELECT k.key, UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 DAY))::DATE AS day, b.lo
              FROM (SELECT DISTINCT key FROM daily) k, bounds b),
            xy AS (
              SELECT s.key, CAST(s.day - s.lo AS BIGINT) AS x,
                     CAST(COALESCE(d.n, 0) AS BIGINT) AS y
              FROM spine s LEFT JOIN daily d ON s.key = d.key AND s.day = d.day),
            agg AS (
              SELECT key, CAST(COUNT(*) AS BIGINT) AS days,
                     SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
              FROM xy GROUP BY 1)
            SELECT key AS event_type, days,
                   CAST(days * sxy - sx * sy AS BIGINT) AS slope_num,
                   CAST(days * sxx - sx * sx AS BIGINT) AS slope_den,
                   CAST(CASE WHEN days * sxx - sx * sx > 0
                        THEN (1000000000 * (days * sxy - sx * sy)) // (days * sxx - sx * sx)
                        END AS BIGINT) AS slope_mppm,
                   CASE WHEN days * sxy - sx * sy > 0 THEN 'growing'
                        WHEN days * sxy - sx * sy < 0 THEN 'shrinking'
                        ELSE 'flat' END AS trend
            FROM agg ORDER BY 1"""))

  /** CUSUM change-point detection: centered cumulative sums scaled by n
    * (exact BIGINT, no fractional mean), argmax |S| with earliest-day
    * tie-break — the level-shift locator for ingest volumes. */
  val q198_change_point = Q(
    "q198_change_point",
    (s, dir) => {
      import graft.operators.EventAnalytics
      EventAnalytics.cusumChangePoint(t(s, dir, "events"), "event_type", "ts")
        .select(
          col("key").as("event_type"),
          col("days").cast("long").as("days"),
          col("total").cast("long").as("total"),
          col("change_day").cast("long").as("change_day"),
          col("peak_abs").cast("long").as("peak_abs"),
          col("shift"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type AS key, CAST(ts AS DATE) AS day, COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
            spine AS (
              SELECT k.key, UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 DAY))::DATE AS day, b.lo
              FROM (SELECT DISTINCT key FROM daily) k, bounds b),
            xy AS (
              SELECT s.key, CAST(s.day - s.lo AS BIGINT) AS x,
                     CAST(COALESCE(d.n, 0) AS BIGINT) AS y
              FROM spine s LEFT JOIN daily d ON s.key = d.key AND s.day = d.day),
            c0 AS (
              SELECT key, x, y,
                     COUNT(*) OVER (PARTITION BY key) AS nd,
                     SUM(y) OVER (PARTITION BY key) AS tot
              FROM xy),
            cum AS (
              SELECT key, x, nd, tot,
                     SUM(y * nd - tot)
                       OVER (PARTITION BY key ORDER BY x ROWS UNBOUNDED PRECEDING) AS s
              FROM c0),
            pick AS (
              SELECT key, nd AS days, tot AS total, x AS change_day, ABS(s) AS peak_abs, s,
                     ROW_NUMBER() OVER (PARTITION BY key ORDER BY ABS(s) DESC, x ASC) AS rn
              FROM cum)
            SELECT key AS event_type, CAST(days AS BIGINT) AS days,
                   CAST(total AS BIGINT) AS total,
                   CAST(change_day AS BIGINT) AS change_day,
                   CAST(peak_abs AS BIGINT) AS peak_abs,
                   CASE WHEN s >= 0 THEN 'up_then_down' ELSE 'down_then_up' END AS shift
            FROM pick WHERE rn = 1 ORDER BY 1"""))

  /** Mixture epoch planner (the data-mixing step BEFORE sampling): given
    * a token budget and uniform per-source target weights, compute each
    * source's required tokens, epochs over its actual supply (ceil,
    * capped at 4 — the standard repetition guard), served tokens, and
    * repeated-token fraction — all integer arithmetic over per-source
    * BPE-ish token supplies (the q178 piece formula, replayed without
    * lookaround by the oracle). */
  val q199_epoch_plan = Q(
    "q199_epoch_plan",
    (s, dir) => {
      val budget = 2000000L
      val capEpochs = 4L
      val supply = TextFunctions.fertilityCounts(t(s, dir, "documents"), "text")
        .groupBy(col("source"))
        .agg(sum(col("n_pieces")).as("supply"))
      val nSrc = supply.select(countDistinct(col("source")).as("n_src"))
      supply.crossJoin(broadcast(nSrc))
        .withColumn("need", expr(s"($budget div n_src)"))
        .withColumn("epochs",
          expr(s"least($capEpochs, (need + supply - 1) div supply)"))
        .withColumn("served", expr("least(need, epochs * supply)"))
        .withColumn("rep_ppm",
          expr("(1000000 * (served - least(supply, served))) div served"))
        .select(col("source"), col("supply").cast("long").as("supply"),
          col("need").cast("long").as("need"), col("epochs").cast("long").as("epochs"),
          col("served").cast("long").as("served"), col("rep_ppm").cast("long").as("rep_ppm"))
        .orderBy("source")
    },
    Some("""WITH sup AS (
              SELECT source,
                     CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
                              + len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))) AS BIGINT) AS supply
              FROM documents GROUP BY 1),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src FROM sup),
            plan AS (
              SELECT source, supply, 2000000 // n_src AS need,
                     LEAST(4, (2000000 // n_src + supply - 1) // supply) AS epochs
              FROM sup, n),
            served AS (
              SELECT *, LEAST(need, epochs * supply) AS served FROM plan)
            SELECT source, supply, need, CAST(epochs AS BIGINT) AS epochs,
                   CAST(served AS BIGINT) AS served,
                   CAST((1000000 * (served - LEAST(supply, served))) // served AS BIGINT) AS rep_ppm
            FROM served ORDER BY 1"""))

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

  /** Reciprocal nearest neighbors (parallel-corpus mining): pairs where
    * each vector is in the OTHER's cosine top-5 — the mutual-kNN
    * criterion (Artetxe/margin-mining family) that filters hubness
    * out of raw nearest-neighbor pairs. Composes bruteForceTopK over a
    * 60-vector slice; emitted once per unordered pair. */
  val q201_mutual_knn = Q(
    "q201_mutual_knn",
    (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 60)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val topk = Similarity.bruteForceTopK(emb, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
        .localCheckpoint(true) // both sides of the mutuality join
      topk.as("f")
        .join(topk.as("r"),
          col("f.query_id") === col("r.neighbor_id") &&
            col("f.neighbor_id") === col("r.query_id") &&
            col("f.query_id") < col("f.neighbor_id"))
        .select(
          col("f.query_id").cast("long").as("id1"),
          col("f.neighbor_id").cast("long").as("id2"),
          round(col("f.cosine"), 4).as("cos12"),
          round(col("r.cosine"), 4).as("cos21"))
        .orderBy("id1", "id2")
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings WHERE vec_id < 60),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_dot_product(q.v, c.v) /
                       (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
              FROM e q JOIN e c ON q.vec_id <> c.vec_id),
            topk AS (
              SELECT query_id, neighbor_id, cos FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY cos DESC, neighbor_id) AS rn
                FROM scored) WHERE rn <= 5)
            SELECT CAST(f.query_id AS BIGINT) AS id1,
                   CAST(f.neighbor_id AS BIGINT) AS id2,
                   ROUND(f.cos, 4) AS cos12, ROUND(r.cos, 4) AS cos21
            FROM topk f JOIN topk r
              ON f.query_id = r.neighbor_id AND f.neighbor_id = r.query_id
             AND f.query_id < f.neighbor_id
            ORDER BY id1, id2"""))

  /** Cross-source decile calibration: each doc's quality proxy mapped to
    * its WITHIN-SOURCE decile (integer rank arithmetic, total (value, id)
    * order) — the score-normalization step before corpus-wide thresholds,
    * since a raw cutoff means different things in different sources.
    * Output pins the (source-agnostic) decile populations and per-decile
    * char sums. */
  val q202_decile_calibration = Q(
    "q202_decile_calibration",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      val wn = Window.partitionBy(col("source"))
      t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("decile", expr("(10 * (rk - 1)) div n"))
        .groupBy(col("decile"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("source")).cast("long").as("n_sources"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy("decile")
    },
    Some("""WITH r AS (
              SELECT doc_id, source, n_chars,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY n_chars, doc_id) AS rk,
                     COUNT(*) OVER (PARTITION BY source) AS n
              FROM documents)
            SELECT CAST((10 * (rk - 1)) // n AS BIGINT) AS decile,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM r GROUP BY 1 ORDER BY 1"""))

  /** Pareto-skyline data selection (minimize price, maximize size over
    * `part`): the multi-objective selection primitive, via the sort-free
    * [[graft.operators.Skyline]] plan — per-x partial aggregate, a
    * prefix-scan over the DISTINCT-x frame only, broadcast join back.
    * The oracle is the independent quadratic NOT-EXISTS dominance
    * spelling, which must agree exactly. */
  val q203_skyline = Q(
    "q203_skyline",
    (s, dir) => {
      val p = t(s, dir, "part")
      graft.operators.Skyline
        .pareto2d(
          p.select(col("p_partkey"), col("p_retailprice"), col("p_size")),
          "p_retailprice", "p_size")
        .select(
          col("p_partkey").cast("long").as("p_partkey"),
          col("p_retailprice"),
          col("p_size").cast("long").as("p_size"))
        .orderBy("p_partkey")
    },
    Some("""SELECT CAST(p.p_partkey AS BIGINT) AS p_partkey, p.p_retailprice,
                   CAST(p.p_size AS BIGINT) AS p_size
            FROM part p
            WHERE NOT EXISTS (
              SELECT 1 FROM part q
              WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
                AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
            ORDER BY p_partkey"""))

  val all: Seq[Q] = Seq(
    q175_mmr, q176_oov, q177_temporal_split, q178_fertility,
    q179_topk_operator, q180_label_prop, q181_keywords, q182_attribution,
    q183_interarrival, q184_image_phash, q185_basket_lift, q186_char_entropy,
    q187_blocklist, q188_sql_surface, q189_time_travel, q190_stream_upsert,
    q191_rolling_distinct, q192_event_trigrams, q193_weekday_profile, q194_file_skipping,
    q195_quota_sample, q196_topk_pushdown, q197_volume_trend, q198_change_point,
    q199_epoch_plan, q200_sketch_fidelity, q201_mutual_knn, q202_decile_calibration,
    q203_skyline)
}
