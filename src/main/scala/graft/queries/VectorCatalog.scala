package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.Similarity
import graft.multimodal.Multimodal

import graft.QueryDsl._

/** Catalog family: embeddings and media — exact and approximate
  * nearest-neighbour search (brute force, IVF, PQ, LSH, graph), vector
  * quantization and projection, embedding audits, registry-backed vector
  * artifacts, and image/video/audio payloads. COVERAGE.md vector and
  * multimodal rows. Registered in [[graft.Queries]]. */
private[graft] object VectorCatalog {

  /** Exact cosine top-5 of the query vectors vec_id < 5 (self excluded,
    * ties to the smaller id) — the oracle of every ANN query that must
    * recover the exact neighbours. */
  private val exactCosineTop5Sql =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
              FROM e q CROSS JOIN e c
              WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
              CAST(neighbor_id AS BIGINT) AS neighbor_id, ROUND(cos, 4) AS cosine
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** A top-k result as the oracles spell it: BIGINT ids and rank, cosine
    * rounded to 4 places, ordered by (query_id, rank). */
  private def topKRows(df: DataFrame): DataFrame =
    df.select(
      col("query_id").cast("long").as("query_id"),
      col("rank").cast("long").as("rank"),
      col("neighbor_id").cast("long").as("neighbor_id"),
      round(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")

  /** Brute-force cosine top-k over embeddings (similarity baseline). */
  val q27_ann_brute = Q(
    "q27_ann_brute",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val queries = emb.filter(col("vec_id") < 5)
      topKRows(Similarity.bruteForceTopK(queries, emb, k = 5))
    },
    Some(exactCosineTop5Sql))

  /** Embedding-cosine near-duplicate pairs via random-hyperplane LSH; the
    * corpus is augmented with rescaled copies (cosine exactly 1). */
  val q28_cos_neardup = Q(
    "q28_cos_neardup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val copies = emb.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val corpus = emb.unionByName(copies)
      Similarity
        .cosineNearDuplicates(corpus, threshold = 0.99)
        .select(col("id1").cast("long").as("id1"), col("id2").cast("long").as("id2"))
        .orderBy("id1", "id2")
    },
    Some("""WITH c AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(x * 2.0 AS DOUBLE)) FROM embeddings)
            SELECT CAST(a.vec_id AS BIGINT) AS id1, CAST(b.vec_id AS BIGINT) AS id2
            FROM c a CROSS JOIN c b
            WHERE a.vec_id < b.vec_id
              AND list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.99
            ORDER BY id1, id2"""))

  /** IVF nearest neighbors through the k-means|| default seeding path.
    * Probes = cells makes the result EXACT for any centroid set (the
    * q57 trick), so the full kmeans|| → Lloyd → assign → probe pipeline
    * gets a real brute-force DuckDB oracle; the approximate low-probe
    * behavior stays covered by the recall spec (TextMlSpec). */
  val q32_ann_ivf = Q(
    "q32_ann_ivf",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val centroids = Similarity.kmeansCentroids(emb, numCentroids = 8, iterations = 3)
      val cells = Similarity.assignToCentroids(emb, centroids)
      val queries = emb.filter(col("vec_id") < 5)
      topKRows(Similarity.ivfTopK(queries, cells, centroids, k = 5, probes = 8))
    },
    Some(exactCosineTop5Sql))

  /** Multimodal pipeline over REAL codecs: deterministic solid-gray
    * PNG/BMP/GIF images and silent WAVs (JDK ImageIO + javax.sound)
    * round-trip through header-dims decode, audio-duration decode and
    * block-luminance features. The oracle recomputes every aggregate
    * ANALYTICALLY from the generator's closed-form parameters — if any
    * codec mis-decodes dims, duration or pixel values, the hashes
    * diverge. Fixture values are dyadic (gray/256, frames/8192) so float
    * and double arithmetic agree exactly on both sides. */
  val q33_multimodal = Q(
    "q33_multimodal",
    (s, dir) => {
      val media = Multimodal.syntheticMedia(s, 300)
      val withDims = Multimodal.decodeImageDims(media)
      val withAudio = Multimodal.decodeAudioSeconds(withDims)
      val withFeatures = Multimodal.extractFeatures(withAudio)
      withFeatures
        .groupBy(col("media_type"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          round(avg(col("width")), 2).as("avg_width"),
          round(avg(aggregate(col("features"), lit(0.0), (acc, x) => acc + x)), 4).as("avg_feature_sum"),
          round(avg(col("audio_seconds")), 4).as("avg_audio_secs"))
        .orderBy("media_type")
    },
    Some("""WITH per AS (
              SELECT CASE WHEN range % 3 = 0 THEN 'image'
                          WHEN range % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
                     -- image dims/gray and wav frames replay syntheticMedia's formulas
                     CASE WHEN range % 3 = 0 THEN 8 + ((range // 3) % 5) * 4 ELSE 0 END AS width,
                     -- 16 block features of a solid-gray image each equal gray/256
                     CASE WHEN range % 3 = 0 THEN 16 * (((range * 7) % 256) / 256.0) ELSE 0.0 END AS fsum,
                     CASE WHEN range % 3 = 1 THEN (1 + (range % 5)) / 8.0 ELSE 0.0 END AS secs
              FROM range(300))
            SELECT media_type, CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(AVG(width), 2) AS avg_width,
                   ROUND(AVG(fsum), 4) AS avg_feature_sum,
                   ROUND(AVG(secs), 4) AS avg_audio_secs
            FROM per GROUP BY 1 ORDER BY 1"""))

  /** IVF with probes = cells is EXACT: probing every cell must reproduce the
    * brute-force top-k bit-for-bit — which gives the IVF join/rank path a
    * real DuckDB oracle (q32's default-probe variant stays rows-only because
    * centroid assignment isn't SQL-replicable, but this query checks the
    * same code path end-to-end). */
  val q57_ann_ivf_exhaustive = Q(
    "q57_ann_ivf_exhaustive",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val k = 8
      // cheap seeding on purpose: this query's oracle is INIT-INVARIANT
      // (probes = cells ≡ brute force for any centroid set), so it pins the
      // ivfTopK join/rank path itself; q32 exercises the k-means|| default
      val centroids = Similarity.kmeansCentroids(emb, numCentroids = k, iterations = 2, parallelInit = false)
      val cells = Similarity.assignToCentroids(emb, centroids)
      val queries = emb.filter(col("vec_id") < 5)
      topKRows(Similarity.ivfTopK(queries, cells, centroids, k = 5, probes = k))
    },
    Some(exactCosineTop5Sql))

  /** SemDeDup semantic deduplication over the embeddings table augmented
    * with ×2-scaled copies (cosine exactly 1, centroid similarities exactly
    * equal — power-of-2 scaling is IEEE-exact — so every copy resolves by
    * the id tie-break). Centroids are the four lowest-id embeddings, so the
    * oracle replays the whole pipeline: the dot/||c|| argmax assignment
    * with its larger-id tie-break, centroid cosine, and the per-item
    * EXISTS drop rule. All similarity arithmetic is double with identical
    * accumulation order on both engines. */
  val q85_semantic_dedup = Q(
    "q85_semantic_dedup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val copies = emb.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * 2.0).as("embedding"))
      val corpus = emb.unionByName(copies)
      // SemDeDup's scale contract is k ∝ corpus (the paper runs
      // k ≈ corpus/10k): a FIXED centroid count makes every cell grow
      // with the data and the per-cell self-join grow quadratically —
      // the 5× synthesized scale gate measured exponent 1.74 with k=4
      // pinned. One centroid per ~1000 corpus rows keeps cells bounded
      // (k stays 4 at the driver SFs, so results there are unchanged);
      // the count() is a parquet-footer action, not a data scan.
      val k = math.max(4L, (2L * emb.count()) / 1000L)
      val cents = emb.filter(col("vec_id") < k)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      Similarity.semanticDeduplicate(corpus, cents, threshold = 0.99)
        .select(
          col("vec_id").cast("long").as("vec_id"),
          col("cluster").cast("long").as("cluster"),
          round(col("centroid_sim"), 4).as("centroid_sim"),
          col("keep"))
        .orderBy("vec_id")
    },
    Some("""WITH e AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
            corpus AS (
              SELECT vec_id, v FROM e
              UNION ALL
              SELECT vec_id + 1000000, list_transform(v, x -> x * 2.0) FROM e),
            cents AS (SELECT vec_id AS cid, v AS cv FROM e
                      WHERE vec_id < GREATEST(4, (SELECT 2 * COUNT(*) FROM embeddings) // 1000)),
            assigned AS (
              SELECT c.vec_id, c.v, cid, cv,
                ROW_NUMBER() OVER (
                  PARTITION BY c.vec_id
                  ORDER BY list_dot_product(c.v, cv) / sqrt(list_dot_product(cv, cv)) DESC,
                           cid DESC) AS rn
              FROM corpus c CROSS JOIN cents),
            withsim AS (
              SELECT vec_id, v, cid AS cluster,
                list_dot_product(v, cv) /
                  (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS centroid_sim
              FROM assigned WHERE rn = 1),
            dropped AS (
              SELECT DISTINCT a.vec_id
              FROM withsim a JOIN withsim b
                ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
               AND list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.99
               AND (b.centroid_sim < a.centroid_sim OR
                    (b.centroid_sim = a.centroid_sim AND b.vec_id < a.vec_id)))
            SELECT CAST(w.vec_id AS BIGINT) AS vec_id,
              CAST(w.cluster AS BIGINT) AS cluster,
              ROUND(w.centroid_sim, 4) AS centroid_sim,
              CAST(d.vec_id IS NULL AS BIGINT) AS keep
            FROM withsim w LEFT JOIN dropped d ON d.vec_id = w.vec_id
            ORDER BY w.vec_id"""))

  /** Real video demux (multimodal pipeline op): the pure-JVM AVI/RIFF
    * demuxer over synthetic uncompressed-DIB payloads — stream metadata +
    * every-2nd-frame sampling with mean luminance. Pseudo-mp4 payloads
    * (no JDK codec) decode as zero frames — data, not errors. All frame
    * means are dyadic (k/256), so the double sums are exact and
    * order-independent: no rounding needed on either side. */
  val q95_video = Q(
    "q95_video",
    (s, dir) => {
      val media = Multimodal.syntheticMedia(s, 300).filter(col("media_type") === "video")
      val info = Multimodal.decodeVideoInfo(media)
      val frames = Multimodal.sampleVideoFrames(media, 2)
      val infoAgg = info.groupBy(col("format")).agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("video_frames")).cast("long").as("total_frames"),
        sum(col("video_width")).cast("long").as("sum_width"))
      val frameAgg = frames.groupBy(col("format")).agg(
        count(lit(1)).cast("long").as("n_sampled"),
        sum(col("frame_mean")).as("mean_sum"))
      infoAgg.join(frameAgg, Seq("format"), "left")
        .select(
          col("format"), col("n"), col("total_frames"), col("sum_width"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("mean_sum"), lit(0.0)).as("mean_sum"))
        .orderBy("format")
    },
    Some("""WITH vid AS (
              SELECT range AS i, (range // 3) AS sub FROM range(300) WHERE range % 3 = 2),
            info AS (
              SELECT i, sub,
                     CASE WHEN i % 6 = 2 THEN 'avi' ELSE 'mp4' END AS format,
                     CASE WHEN i % 6 = 2 THEN 16 + (sub % 3) * 8 ELSE 0 END AS w,
                     CASE WHEN i % 6 = 2 THEN 2 + (sub % 4) ELSE 0 END AS nf
              FROM vid),
            frames AS (
              SELECT 'avi' AS format, ((i * 11 + u.j * 31) % 256) / 256.0 AS fm
              FROM info, UNNEST(range(0, CAST(nf AS BIGINT), 2)) AS u(j)
              WHERE i % 6 = 2),
            ia AS (
              SELECT format, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(nf) AS BIGINT) AS total_frames,
                     CAST(SUM(w) AS BIGINT) AS sum_width
              FROM info GROUP BY 1),
            fa AS (
              SELECT format, CAST(COUNT(*) AS BIGINT) AS n_sampled, SUM(fm) AS mean_sum
              FROM frames GROUP BY 1)
            SELECT i.format, i.n, i.total_frames, i.sum_width,
                   COALESCE(f.n_sampled, 0) AS n_sampled,
                   COALESCE(f.mean_sum, 0.0) AS mean_sum
            FROM ia i LEFT JOIN fa f USING (format) ORDER BY format"""))

  /** Int8 embedding quantization (vector-compression op): per-label counts,
    * the exact integer sum of the first quantized component, and the max
    * per-vector reconstruction error — deterministic via floor-rounding and
    * a fixed-order fold (no row-order double sums). */
  val q108_quantize = Q(
    "q108_quantize",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ml.Quantize.int8(emb, "embedding")
        .groupBy(col("label"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          sum(element_at(col("q8"), 1)).cast("long").as("sum_q0"),
          max(col("recon_err")).as("max_err"))
        .select(col("label").cast("long").as("label"), col("n"), col("sum_q0"), col("max_err"))
        .orderBy("label")
    },
    Some("""WITH s AS (
              SELECT label, embedding,
                     CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale
              FROM (SELECT label, embedding,
                           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
                    FROM embeddings)),
            r AS (
              SELECT label,
                     CAST(LEAST(127, GREATEST(-127, FLOOR(CAST(embedding[1] AS DOUBLE) / scale + 0.5))) AS BIGINT) AS q0,
                     list_reduce(
                       list_prepend(0.0, list_transform(embedding, x ->
                         abs(CAST(x AS DOUBLE)
                             - LEAST(127, GREATEST(-127, FLOOR(CAST(x AS DOUBLE) / scale + 0.5))) * scale))),
                       (acc, x) -> acc + x) AS err
              FROM s)
            SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(q0) AS BIGINT) AS sum_q0, MAX(err) AS max_err
            FROM r GROUP BY 1 ORDER BY 1"""))

  /** Johnson–Lindenstrauss random projection (Achlioptas ±1 Rademacher):
    * 64-dim embeddings down to 8 dims via hash-DERIVED sign rows — no
    * matrix to store or shuffle, one codegen'd fvec_dot per output dim,
    * map-side. ±1/√k times a float-widened input is an exact double
    * product folded in index order, so all 8 projection doubles are
    * bit-stable and the oracle replays them to the last ulp with the same
    * embedded coefficients. */
  val q124_jl_projection = Q(
    "q124_jl_projection",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ml.Projection.project(emb, "embedding", inDims = 64, outDims = 8, seed = 7L)
        .select(col("vec_id").cast("long").as("vec_id") +: (0 until 8).map(j => col(s"p$j")): _*)
        .orderBy("vec_id")
    },
    Some {
      val cols = (0 until 8).map { j =>
        val coefs = graft.ml.Projection.signRow(64, j, 8, seed = 7L).mkString("[", ", ", "]")
        s"""list_reduce(list_transform(range(1, 65),
            i -> CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * ($coefs)[CAST(i AS INTEGER)]),
            (a, b) -> a + b) AS p$j"""
      }.mkString(",\n                 ")
      s"""SELECT CAST(vec_id AS BIGINT) AS vec_id,
                 $cols
          FROM embeddings ORDER BY vec_id"""
    })

  /** Hard-negative mining for contrastive training: per anchor, the top-5
    * most-similar DIFFERENT-label vectors (label inequality inside the
    * join — a same-label near-dup can never become a negative). Oracle is
    * the exhaustive replay with the same fixed-fold cosine. */
  val q156_hard_negatives = Q(
    "q156_hard_negatives",
    (s, dir) => {
      val emb = t(s, dir, "embeddings").select(
        col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"),
        col("label").cast("long").as("label"))
      Similarity.hardNegatives(emb.filter(col("vec_id") < 6), emb, k = 5)
        .select(
          col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("neighbor_label"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (
              SELECT vec_id::BIGINT AS vec_id, label::BIGINT AS label,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
                list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
              FROM e q CROSS JOIN e c
              WHERE q.vec_id < 6 AND q.label <> c.label),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, neighbor_label,
                   ROUND(cos, 4) AS cosine
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Hybrid retrieval via reciprocal-rank fusion: the lexical ranking
    * (integer-idf TF-IDF, q151's operator) fused with a vector ranking
    * (cosine to the vec_id=0 anchor; embeddings and documents share the
    * id space) by RRF — exact integer ranks, fixed two-term IEEE score,
    * bit-replayable. */
  val q158_hybrid_rrf = Q(
    "q158_hybrid_rrf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val lex = graft.text.Search.searchTopK(d, "doc_id", "text",
        terms = Seq("dup", "key", "fast"), k = 100, idfScale = 1024L)
      val lexRank = lex.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)))
      val emb = t(s, dir, "embeddings").select(
        col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val vecRank = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 0), emb, k = 100)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.text.Search.rrfFuse(lexRank.select(col("doc_id"), col("rank")), vecRank,
          "doc_id", kConst = 60, topK = 30)
        .select(col("doc_id"),
          col("rank_a").cast("long").as("rank_a"),
          col("rank_b").cast("long").as("rank_b"), col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
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
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d),
            scored AS (
              SELECT id, CAST(SUM(tf * (length(bin((n_docs * 1024) // df_t)) - 1)) AS BIGINT) AS score
              FROM posts JOIN stats USING (term), n GROUP BY id, n_docs),
            lex AS (
              SELECT id AS doc_id, rank_a FROM (
                SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS BIGINT) AS rank_a
                FROM scored) WHERE rank_a <= 100),
            e AS (SELECT vec_id::BIGINT AS vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
            vecscored AS (
              SELECT c.vec_id AS doc_id,
                list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
              FROM e q CROSS JOIN e c WHERE q.vec_id = 0 AND c.vec_id <> 0),
            vec AS (
              SELECT doc_id, rank_b FROM (
                SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS rank_b
                FROM vecscored) WHERE rank_b <= 100),
            fused AS (
              SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, rank_a, rank_b,
                COALESCE(1.0 / (60 + rank_a), 0.0) + COALESCE(1.0 / (60 + rank_b), 0.0) AS rrf
              FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
            SELECT doc_id, rank_a, rank_b, rrf
            FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 30"""))

  /** Embedding-corpus QA audit before ANN indexing: per label, counts,
    * dimension drift bounds, zero vectors (synthesized on every 97th id —
    * the detector must have positives), and integer-quantized squared-norm
    * stats (BIGINT sums — row-order-proof, unlike double sums). */
  val q165_embedding_audit = Q(
    "q165_embedding_audit",
    (s, dir) => {
      val emb = t(s, dir, "embeddings").select(
        col("label").cast("long").as("label"),
        when(col("vec_id") % 97 === 0,
          transform(col("embedding"), _ => lit(0.0)))
          .otherwise(transform(col("embedding"), x => x.cast("double")))
          .as("embedding"))
      Similarity.embeddingAudit(emb, Seq("label"), "embedding", scale = 1000L)
        .orderBy("label")
    },
    Some("""WITH e AS (
              SELECT label::BIGINT AS label,
                CASE WHEN vec_id % 97 = 0
                     THEN list_transform(embedding, x -> CAST(0.0 AS DOUBLE))
                     ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS v
              FROM embeddings),
            q AS (
              SELECT label, CAST(len(v) AS BIGINT) AS dim,
                     CAST(FLOOR(list_dot_product(v, v) * 1000) AS BIGINT) AS qn
              FROM e)
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   MIN(dim) AS dim_min, MAX(dim) AS dim_max,
                   CAST(SUM(CASE WHEN qn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
                   CAST(SUM(qn) AS BIGINT) AS sum_q_normsq,
                   MIN(qn) AS min_q_normsq, MAX(qn) AS max_q_normsq
            FROM q GROUP BY label ORDER BY label"""))

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

  /** Product-quantization ANN (Jégou '11) — the beyond-IVF scale path:
    * integer-exact PQ end to end ([[graft.ml.Pq]]): floor-quantized grid,
    * 2 integer-Lloyd rounds per subspace (M=8 × K=4 codebooks over 64
    * dims), map-side codegen encoding, broadcast ADC lookup tables, top-5
    * per query via the custom TopK operator, with the exact quantized L2²
    * audited alongside on the result rows. The oracle replays EVERY stage
    * value-exactly in DuckDB — quantization, seeding, both Lloyd rounds
    * (materialized iterated CTEs), encoding, ADC sums, ranking, and the
    * 64-term exact distance. */
  val q208_pq_ann = Q(
    "q208_pq_ann",
    (s, dir) => {
      val M = 8; val K = 4; val SD = 8; val ITERS = 2; val SCALE = 64
      val emb = quantizedEmbeddings(s, dir, SCALE)
        .cache() // drives the training iteration and the encode pass
      val cb = graft.ml.Pq.train(emb, "vec_id", "qv", M, K, SD, ITERS)
      val materialized = pqAdcTop5(s, emb, cb, col("vec_id") < 5).localCheckpoint(true)
      emb.unpersist()
      materialized
    },
    Some(pqAdcOracleSql(qFilter = "vec_id < 5")))

  /** The embeddings quantized for PQ: (vec_id, qv). */
  private def quantizedEmbeddings(s: SparkSession, dir: String, scale: Int): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id").cast("long").as("vec_id"),
      graft.ml.Pq.quantized(col("embedding"), scale).as("qv"))

  /** PQ/ADC top-5 of the `emb` rows matching `queryFilter`, searched over
    * `emb` encoded with `cb`: ADC distances ranked per query by the custom
    * TopK operator, with the exact quantized L2² audited alongside on the
    * result rows — the engine side of [[pqAdcOracleSql]]. */
  private def pqAdcTop5(
      s: SparkSession, emb: DataFrame, cb: graft.ml.Pq.Codebooks, queryFilter: Column): DataFrame = {
    import graft.ml.Pq
    import graft.operators.TopK
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val encoded = Pq.encode(emb, "qv", cb)
    val queries = emb.filter(queryFilter).collect()
    val qdf = queries.toSeq
      .map(r => (r.getLong(0), Pq.adcTable(r.getSeq[Long](1), cb)))
      .toDF("query_id", "tab")
    val scored = encoded
      .crossJoin(broadcast(qdf))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc_dist", Pq.adcDistance(cb))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_dist"))
    val top = TopK.perGroup(
      scored, Seq("query_id"), Seq(("adc_dist", true), ("neighbor_id", true)), 5)
    val ranked = top.withColumn(
      "rank",
      row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc_dist"), col("neighbor_id"))))
    val qq = queries.toSeq.map(r => (r.getLong(0), r.getSeq[Long](1))).toDF("query_id", "qq")
    ranked
      .join(emb.select(col("vec_id").as("neighbor_id"), col("qv").as("qn")), "neighbor_id")
      .join(broadcast(qq), "query_id")
      .withColumn("exact_d2",
        expr("aggregate(zip_with(qn, qq, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .select(
        col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
        col("adc_dist").cast("long").as("adc_dist"),
        col("exact_d2").cast("long").as("exact_d2"))
      .orderBy("query_id", "rank")
  }

  /** The full PQ replay (quantize → seed → Lloyd rounds → encode → ADC →
    * rank → exact distance) as a parameterized oracle builder — shared by
    * q208 and the registry-codebook-artifact query (q401), whose values
    * must be identical because artifact resolution only CACHES the
    * training result. `qFilter` selects the query vectors. */
  private def pqAdcOracleSql(qFilter: String): String = {
      val M = 8; val K = 4; val SD = 8; val ITERS = 2; val SCALE = 64
      def dist(sv: String, cw: String): String =
        (1 to SD).map(d => s"(($sv[$d] - $cw[$d]) * ($sv[$d] - $cw[$d]))").mkString(" + ")
      val sb = new StringBuilder
      sb ++= s"""WITH q AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * $SCALE) AS BIGINT)) AS qv
                 FROM embeddings),
            ranked0 AS (SELECT vec_id, qv, ROW_NUMBER() OVER (ORDER BY vec_id) AS rk FROM q),
            seeds AS MATERIALIZED (
              SELECT CAST(r.range AS INT) AS c, k.qv
              FROM range($K) r JOIN ranked0 k
                ON k.rk = 1 + r.range * ((SELECT COUNT(*) FROM q) // $K)),
            subv AS MATERIALIZED (
              SELECT vec_id, CAST(mr.range AS INT) AS m,
                     list_slice(qv, mr.range * $SD + 1, mr.range * $SD + $SD) AS sv
              FROM q CROSS JOIN range($M) mr),
            cb0 AS MATERIALIZED (
              SELECT CAST(mr.range AS INT) AS m, s.c,
                     list_slice(s.qv, mr.range * $SD + 1, mr.range * $SD + $SD) AS cw
              FROM range($M) mr CROSS JOIN seeds s),"""
      val cwUpdate = (1 to SD)
        .map(d => s"CAST(FLOOR(CAST(SUM(b.sv[$d]) AS DOUBLE) / COUNT(*)) AS BIGINT)")
        .mkString(", ")
      for (i <- 0 until ITERS) {
        sb ++= s"""
            a$i AS MATERIALIZED (
              SELECT vec_id, m, sv, c,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
              FROM (SELECT s.vec_id, s.m, s.sv, cb.c, ${dist("s.sv", "cb.cw")} AS dist
                    FROM subv s JOIN cb$i cb ON cb.m = s.m)),
            cb${i + 1} AS MATERIALIZED (
              SELECT p.m, p.c, CASE WHEN u.cnt IS NULL THEN p.cw ELSE u.cw END AS cw
              FROM cb$i p LEFT JOIN (
                SELECT b.m, b.c, COUNT(*) AS cnt, [$cwUpdate] AS cw
                FROM (SELECT * FROM a$i WHERE rn = 1) b GROUP BY 1, 2) u
                ON u.m = p.m AND u.c = p.c),"""
      }
      val exact64 = (1 to M * SD)
        .map(d => s"(a.qv[$d] - b.qv[$d]) * (a.qv[$d] - b.qv[$d])")
        .mkString(" + ")
      sb ++= s"""
            encode AS MATERIALIZED (
              SELECT vec_id, m, c FROM (
                SELECT s.vec_id, s.m, cb.c,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                          ORDER BY ${dist("s.sv", "cb.cw")}, cb.c) AS rn
                FROM subv s JOIN cb$ITERS cb ON cb.m = s.m) WHERE rn = 1),
            qsub AS (SELECT vec_id AS query_id, m, sv FROM subv WHERE $qFilter),
            tt AS MATERIALIZED (
              SELECT t.query_id, t.m, cb.c, ${dist("t.sv", "cb.cw")} AS d
              FROM qsub t JOIN cb$ITERS cb ON cb.m = t.m),
            adc AS MATERIALIZED (
              SELECT tt.query_id, e.vec_id AS neighbor_id, CAST(SUM(tt.d) AS BIGINT) AS adc_dist
              FROM encode e JOIN tt ON tt.m = e.m AND tt.c = e.c
              WHERE e.vec_id <> tt.query_id GROUP BY 1, 2),
            sel AS (SELECT * FROM (
                      SELECT query_id, neighbor_id, adc_dist,
                             ROW_NUMBER() OVER (PARTITION BY query_id
                                                ORDER BY adc_dist, neighbor_id) AS rank
                      FROM adc) WHERE rank <= 5)
          SELECT s.query_id, CAST(s.rank AS BIGINT) AS rank, s.neighbor_id, s.adc_dist,
                 CAST($exact64 AS BIGINT) AS exact_d2
          FROM sel s
          JOIN q a ON a.vec_id = s.query_id
          JOIN q b ON b.vec_id = s.neighbor_id
          ORDER BY query_id, rank"""
      sb.toString
  }

  /** Greedy k-center coreset (Gonzalez '85 farthest-point traversal) over
    * integer-quantized embeddings — the maximally-diverse-subset primitive
    * of data curation ([[graft.ml.Coreset]]). Each round is one map-side
    * running-min update against only the newest pick plus a top-1 reduce;
    * the oracle replays all 8 rounds as materialized CTE stages with
    * explicit 64-term integer distances, ties to smallest id. */
  val q209_coreset = Q(
    "q209_coreset",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          graft.ml.Pq.quantized(col("embedding"), 64).as("qv"))
      val picks = graft.ml.Coreset.kCenterGreedy(emb, "vec_id", "qv", 8)
      picks.map { case (r, id, d) => (r.toLong, id, d) }
        .toDF("round", "vec_id", "maxmin_d2")
        .orderBy("round")
    },
    Some {
      val K = 8
      def dist(a: String, b: String): String =
        (1 to 64).map(d => s"(($a[$d] - $b[$d]) * ($a[$d] - $b[$d]))").mkString(" + ")
      val sb = new StringBuilder
      sb ++= """WITH q AS (SELECT CAST(vec_id AS BIGINT) AS id,
                   list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS qv
                 FROM embeddings),
            p0 AS MATERIALIZED (SELECT id, qv FROM q ORDER BY id LIMIT 1),
            m0 AS MATERIALIZED (SELECT q.id, q.qv, """ + dist("q.qv", "s.qv") +
        " AS d FROM q CROSS JOIN p0 s),"
      for (i <- 1 until K) {
        val excl = (0 until i).map(j => s"SELECT id FROM p$j").mkString(" UNION ALL ")
        sb ++= s"""
            p$i AS MATERIALIZED (SELECT id, qv, d FROM m${i - 1}
                                 WHERE id NOT IN ($excl)
                                 ORDER BY d DESC, id LIMIT 1),"""
        if (i < K - 1) {
          sb ++= s"""
            m$i AS MATERIALIZED (SELECT m.id, m.qv,
                                        LEAST(m.d, ${dist("m.qv", "p.qv")}) AS d
                                 FROM m${i - 1} m CROSS JOIN p$i p),"""
        }
      }
      val rounds = (s"SELECT 0 AS round, id AS vec_id, 0 AS maxmin_d2 FROM p0" +:
        (1 until K).map(i => s"SELECT $i, id, d FROM p$i")).mkString(" UNION ALL ")
      sb ++= s"""
            res AS ($rounds)
          SELECT CAST(round AS BIGINT) AS round, vec_id,
                 CAST(maxmin_d2 AS BIGINT) AS maxmin_d2
          FROM res ORDER BY round"""
      sb.toString
    })

  /** Video near-duplicate detection by frame-signature shingles — the
    * multimodal face of the dedup family: REAL AVI payloads are demuxed
    * (q95's RIFF walker), per-frame solid-gray luminance recovered exactly
    * (dyadic means × 256 → integers), consecutive-frame 2-gram shingles
    * formed per video, and pairs scored by exact shingle Jaccard through
    * the inverted-index equi-join (never all-pairs). The corpus
    * construction plants near-dups (same footage, new last frame) and
    * distractors; the oracle derives every expected pair from the
    * (v, j) gray arithmetic — the demuxer never touches the oracle, so a
    * codec bug diverges the hash. */
  val q211_video_neardup = Q(
    "q211_video_neardup",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val corpus = Multimodal.syntheticVideoCorpus(s, 120)
      val frames = Multimodal.sampleVideoFrames(corpus, 1)
        .select(col("id"), col("frame_index"),
          (col("frame_mean") * 256).cast("long").as("gray"))
      val w = Window.partitionBy(col("id")).orderBy(col("frame_index"))
      val sh = frames
        .withColumn("nxt", lead(col("gray"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("id"), (col("gray") * 256 + col("nxt")).as("key"))
        .distinct()
        .cache()
      val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("s"))
      val inter = sh.as("x").join(sh.as("y"), col("x.key") === col("y.key") && col("x.id") < col("y.id"))
        .groupBy(col("x.id").as("id1"), col("y.id").as("id2"))
        .agg(count(lit(1)).as("n_shared"))
      val out = inter
        .join(sz.select(col("id").as("id1"), col("s").as("s1")), "id1")
        .join(sz.select(col("id").as("id2"), col("s").as("s2")), "id2")
        .withColumn("n_union", col("s1") + col("s2") - col("n_shared"))
        .withColumn("jaccard_ppm", expr("(1000000 * n_shared) div n_union"))
        .filter(col("jaccard_ppm") >= 500000)
        .select(col("id1"), col("id2"),
          col("n_shared").cast("long").as("n_shared"),
          col("n_union").cast("long").as("n_union"),
          col("jaccard_ppm").cast("long").as("jaccard_ppm"))
        .orderBy("id1", "id2")
      val materialized = out.localCheckpoint(true)
      sh.unpersist()
      materialized
    },
    Some("""WITH fr AS (
              SELECT v.range AS vid, j.range AS j,
                     ((v.range // 3) * 17 + j.range * 23 +
                      CASE WHEN v.range % 3 = 2 OR (v.range % 3 = 1 AND j.range = 5)
                           THEN 101 ELSE 0 END) % 256 AS gray
              FROM range(120) v CROSS JOIN range(6) j),
            sh AS (
              SELECT DISTINCT a.vid, a.gray * 256 + b.gray AS key
              FROM fr a JOIN fr b ON a.vid = b.vid AND b.j = a.j + 1),
            sz AS (SELECT vid, COUNT(*) AS s FROM sh GROUP BY 1),
            inter AS (
              SELECT x.vid AS id1, y.vid AS id2, COUNT(*) AS n_shared
              FROM sh x JOIN sh y ON x.key = y.key AND x.vid < y.vid
              GROUP BY 1, 2),
            sc AS (
              SELECT i.id1, i.id2, i.n_shared, s1.s + s2.s - i.n_shared AS n_union
              FROM inter i JOIN sz s1 ON s1.vid = i.id1 JOIN sz s2 ON s2.vid = i.id2)
            SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
                   CAST(n_shared AS BIGINT) AS n_shared,
                   CAST(n_union AS BIGINT) AS n_union,
                   CAST((1000000 * n_shared) // n_union AS BIGINT) AS jaccard_ppm
            FROM sc WHERE (1000000 * n_shared) // n_union >= 500000
            ORDER BY id1, id2"""))

  /** Audio near-duplicate detection — the envelope-fingerprint member of
    * the multimodal dedup family (text q29 / image q184 / video q211):
    * real PCM WAV payloads demuxed to exact per-segment energy integers
    * ([[graft.multimodal.Multimodal.audioSegmentEnergies]], map-side),
    * consecutive-segment 2-gram shingles, exact Jaccard via the
    * inverted-index equi-join. The corpus plants a clone (first segment
    * re-recorded) for every 5th clip: 10 of 12 union shingles survive →
    * jaccard 833333 ppm, and every energy is a closed-form function of
    * (id, segment) — the oracle derives all expected pairs from the
    * arithmetic, never touching the codec (codec bugs diverge the hash). */
  val q223_audio_neardup = Q(
    "q223_audio_neardup",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val n = 150
      val corpus = Multimodal.syntheticAudioCorpus(s, n)
      val seg = Multimodal.audioSegmentEnergies(corpus, 200)
        .select(col("id"), col("segment_index"), col("energy"))
      val w = Window.partitionBy(col("id")).orderBy(col("segment_index"))
      val sh = seg
        .withColumn("nxt", lead(col("energy"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("id"), (col("energy") * 4194304L + col("nxt")).as("key"))
        .distinct()
        .cache()
      val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("s"))
      val inter = sh.as("x")
        .join(sh.as("y"), col("x.key") === col("y.key") && col("x.id") < col("y.id"))
        .groupBy(col("x.id").as("id1"), col("y.id").as("id2"))
        .agg(count(lit(1)).as("n_shared"))
      val out = inter
        .join(sz.select(col("id").as("id1"), col("s").as("s1")), "id1")
        .join(sz.select(col("id").as("id2"), col("s").as("s2")), "id2")
        .withColumn("n_union", col("s1") + col("s2") - col("n_shared"))
        .withColumn("jaccard_ppm", expr("(1000000 * n_shared) div n_union"))
        .filter(col("jaccard_ppm") >= 500000)
        .select(col("id1"), col("id2"),
          col("n_shared").cast("long").as("n_shared"),
          col("n_union").cast("long").as("n_union"),
          col("jaccard_ppm").cast("long").as("jaccard_ppm"))
        .orderBy("id1", "id2")
      val materialized = out.localCheckpoint(true)
      sh.unpersist()
      materialized
    },
    Some("""WITH ids AS (
              SELECT range AS id FROM range(150)
              UNION ALL
              SELECT range + 150 FROM range(150) WHERE range % 5 = 0),
            seg AS (
              SELECT i.id, k.range AS k,
                     200 * (CASE WHEN i.id >= 150 AND k.range = 0
                                 THEN 7500 + (i.id - 150) * 16
                                 ELSE 500 + (CASE WHEN i.id >= 150 THEN i.id - 150 ELSE i.id END) * 16 + k.range
                            END) AS energy
              FROM ids i CROSS JOIN range(12) k),
            sh AS (
              SELECT DISTINCT a.id, a.energy * 4194304 + b.energy AS key
              FROM seg a JOIN seg b ON a.id = b.id AND b.k = a.k + 1),
            sz AS (SELECT id, COUNT(*) AS s FROM sh GROUP BY 1),
            inter AS (
              SELECT x.id AS id1, y.id AS id2, COUNT(*) AS n_shared
              FROM sh x JOIN sh y ON x.key = y.key AND x.id < y.id
              GROUP BY 1, 2),
            sc AS (
              SELECT i.id1, i.id2, i.n_shared, s1.s + s2.s - i.n_shared AS n_union
              FROM inter i JOIN sz s1 ON s1.id = i.id1 JOIN sz s2 ON s2.id = i.id2)
          SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
                 CAST(n_shared AS BIGINT) AS n_shared,
                 CAST(n_union AS BIGINT) AS n_union,
                 CAST((1000000 * n_shared) // n_union AS BIGINT) AS jaccard_ppm
          FROM sc WHERE (1000000 * n_shared) // n_union >= 500000
          ORDER BY id1, id2"""))

  /** Matryoshka truncation audit (Kusupati '22 MRL): retrieval recall of
    * prefix-truncated embeddings (dims 8 and 16) against the full-64-dim
    * top-5, over every 25th vector as the query set. Dots ride the
    * codegen [[graft.plans.FloatVectorDot]] on sliced arrays; ranking is
    * total-ordered by (score desc, vec_id) so ties cannot flap; the
    * oracle replays the dot as a SEQUENTIAL list_reduce fold — the
    * left-to-right summation both engines share (q124's ulp-exactness
    * pattern, not list_dot_product's unspecified order). Output per dim:
    * Σ overlap with the full top-5 and the query count — the measurement
    * behind "how many dims can this index drop". */
  val q244_matryoshka = Q(
    "q244_matryoshka",
    (s, dir) => {
      import org.apache.spark.sql.graft.ExprColumn
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings").select(col("vec_id").cast("long").as("vec_id"),
        col("embedding"))
      // fixed-COUNT hash-ordered query sample, not a fixed fraction: the
      // audit's brute-force scoring must stay O(n·k) in the corpus size —
      // a %-based query side grows the sanity check itself to O(n²) at
      // 100×. TakeOrderedAndProject keeps this a per-partition top-k scan
      // (no global sort); vec_id breaks the improbable 64-bit hash tie so
      // the sample is total-ordered and engine-replayable.
      val queries = emb
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val dims = Seq(8, 16, 64)
      val top5 = dims.map { d =>
        val qd = if (d == 64) col("qv") else slice(col("qv"), 1, d)
        val cd = if (d == 64) col("embedding") else slice(col("embedding"), 1, d)
        val scored = queries.crossJoin(emb)
          .filter(col("qid") =!= col("vec_id"))
          .select(col("qid"), col("vec_id"),
            ExprColumn(graft.plans.FloatVectorDot(
              ExprColumn.expr(qd), ExprColumn.expr(cd))).as("score"))
        val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select(lit(d.toLong).as("dim"), col("qid"), col("vec_id"))
      }
      val full = top5.last.select(col("qid"), col("vec_id"))
      top5.map { t =>
        t.join(full.withColumnRenamed("vec_id", "fv"),
            t("qid") === full("qid") && col("vec_id") === col("fv"), "left_semi")
          .groupBy(col("dim"))
          .agg(count(lit(1)).cast("long").as("overlap5"))
      }.reduce(_.unionByName(_))
        .join(queries.agg(count(lit(1)).cast("long").as("n_queries")))
        .orderBy("dim")
    },
    Some {
      def dot(d: Int) =
        s"""list_reduce(list_transform(range(1, ${d + 1}),
              i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
              (x, y) -> x + y)"""
      val tops = Seq(8, 16, 64).map(d =>
        s"""SELECT $d AS dim, qid, vec_id FROM (
              SELECT q.qid, e.vec_id,
                     ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY ${dot(d)} DESC, e.vec_id) AS rn
              FROM qs q CROSS JOIN embeddings e
              WHERE q.qid <> e.vec_id) WHERE rn <= 5""").mkString("\nUNION ALL\n")
      val hashed = graft.tools.OracleSql.xxhash64LongStages(
        "SELECT vec_id::BIGINT AS vec_id, embedding FROM embeddings", "vec_id", "qh")
      s"""WITH qs AS (SELECT vec_id AS qid, qv FROM (
                        SELECT vec_id, embedding AS qv,
                               ROW_NUMBER() OVER (ORDER BY qh, vec_id) AS rn
                        FROM ($hashed)) WHERE rn <= 100),
            tops AS ($tops),
            full5 AS (SELECT qid, vec_id FROM tops WHERE dim = 64)
          SELECT CAST(t.dim AS BIGINT) AS dim,
                 CAST(COUNT(*) AS BIGINT) AS overlap5,
                 (SELECT COUNT(*) FROM qs)::BIGINT AS n_queries
          FROM tops t JOIN full5 f ON f.qid = t.qid AND f.vec_id = t.vec_id
          GROUP BY t.dim ORDER BY dim"""
    })

  /** Source-level embedding centroid distance matrix — q143's corpus
    * similarity in VECTOR space: per label, the exact integer sum-vector
    * and count of int8-quantized embeddings (the persistable artifact — a
    * 100 TB label folds to 64 BIGINTs, the map-side-partial shape), then
    * pairwise squared centroid distance Σ_d (sa_d·n_b − sb_d·n_a)² /
    * (n_a·n_b)² evaluated as a FIXED-ORDER double fold over the 64 dims
    * (exact integer numerators first; a fixed expression sum of doubles
    * is engine-stable — the q86 rule — where a row-order aggregate is
    * not). Output: label pairs with dist² ×10⁶ floored. */
  val q249_centroid_matrix = Q(
    "q249_centroid_matrix",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"), col("embedding"))
        .withColumn("q", expr("transform(embedding, x -> CAST(FLOOR(x * 64) AS BIGINT))"))
      val dims = 64
      val aggCols = Seq(count(lit(1)).as("n")) ++
        (0 until dims).map(d => sum(element_at(col("q"), d + 1)).as(s"s$d"))
      val sums = emb.groupBy(col("label"))
        .agg(aggCols.head, aggCols.tail: _*)
        .localCheckpoint(true)
      val terms = (0 until dims).map { d =>
        val num = col(s"a.s$d") * col("b.n") - col(s"b.s$d") * col("a.n")
        (num * num).cast("double")
      }.reduce(_ + _)
      sums.as("a").join(sums.as("b"), col("a.label") < col("b.label"))
        .select(col("a.label").as("l1"), col("b.label").as("l2"),
          floor(lit(1000000.0) * terms /
            (col("a.n") * col("b.n") * col("a.n") * col("b.n")).cast("double"))
            .cast("long").as("dist2_ppm"))
        .orderBy("l1", "l2")
    },
    Some {
      val terms = (0 until 64).map { d =>
        s"CAST((a.s$d * b.n - b.s$d * a.n) * (a.s$d * b.n - b.s$d * a.n) AS DOUBLE)"
      }.mkString("(", " + ", ")")
      val sums = (0 until 64).map(d =>
        s"SUM(CAST(FLOOR(CAST(embedding[${d + 1}] AS DOUBLE) * 64) AS BIGINT)) AS s$d")
        .mkString(", ")
      s"""WITH sums AS (SELECT label, COUNT(*) AS n, $sums
                        FROM embeddings GROUP BY 1)
          SELECT CAST(a.label AS BIGINT) AS l1, CAST(b.label AS BIGINT) AS l2,
                 CAST(FLOOR(1000000.0 * $terms /
                   CAST(a.n * b.n * a.n * b.n AS DOUBLE)) AS BIGINT) AS dist2_ppm
          FROM sums a JOIN sums b ON a.label < b.label
          ORDER BY l1, l2"""
    })

  /** Exact Gram matrix over int8-quantized embeddings
    * ([[graft.ml.Quantize.gramMatrix]] — the XᵀX second-moment table that
    * feeds PCA/whitening/correlation audits, exact in BIGINT over the
    * quantized grid where the float original is row-order-dependent):
    * NO-JOIN plan — each vector expands to its d² coordinate pairs via
    * two chained generates and partial aggregation folds them map-side
    * into d(d+1)/2 cells inside the stage; explicit-N repartition before
    * the d²× expansion (AQE is blind to it). Output: the 64×64 upper
    * triangle. Oracle replays quantization + double unnest + pair
    * aggregation. */
  val q294_gram_matrix = Q(
    "q294_gram_matrix",
    (s, dir) => {
      val q = graft.ml.Quantize.int8(t(s, dir, "embeddings"), "embedding")
      graft.ml.Quantize.gramMatrix(q, "q8").orderBy("i", "j")
    },
    Some("""WITH s AS (
              SELECT vec_id, embedding,
                     CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale
              FROM (SELECT vec_id, embedding,
                           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
                    FROM embeddings)),
            q AS (
              SELECT vec_id,
                     list_transform(embedding, x ->
                       CAST(LEAST(127, GREATEST(-127,
                         FLOOR(CAST(x AS DOUBLE) / scale + 0.5))) AS BIGINT)) AS q8
              FROM s),
            e AS (
              SELECT vec_id, generate_subscripts(q8, 1) - 1 AS i, unnest(q8) AS qv
              FROM q)
            SELECT a.i::BIGINT AS i, b.i::BIGINT AS j,
                   SUM(a.qv * b.qv)::BIGINT AS g
            FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** ANN-graph hubness audit — embedding-quality COMPOSITION, zero new
    * operator code (the TextRank convention): IVF top-10 retrieval over
    * the whole corpus (centroid count ∝ corpus, the q85 k-derivation, so
    * the scan stays linear), then the retrieval graph's IN-DEGREE census
    * summarized by [[graft.operators.RankStats.giniPpm]] + anti-hub count
    * (points NO query retrieves — invisible to any kNN-based dedup or
    * retrieval) + the hottest point's in-degree. High Gini / many
    * anti-hubs is the classic curse-of-dimensionality hubness signature
    * (Radovanović et al. JMLR'10). Oracle replays assignment (the
    * NearestCentroidIndex dot/|c| similarity, ties to the LARGER centroid
    * id), 2-cell probing (cosine, ties to the smaller centroid id),
    * ranking, and the census fold. */
  val q380_hubness = Q(
    "q380_hubness",
    (s, dir) => {
      import graft.ml.Similarity
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
      // centroids ∝ corpus (footer count, the q85 contract): fixed cells
      // would make each cell grow with the data and the probed scan
      // quadratic; k stays 8 at the driver SFs so results don't churn
      val kc = math.max(8L, emb.count() / 125L)
      val cents = emb.filter(col("vec_id") < kc)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      val cells = Similarity.assignToCentroids(emb, cents)
      val knn = Similarity.ivfTopK(emb, cells, cents, k = 10, probes = 2)
      val indeg = knn.groupBy(col("neighbor_id").as("vec_id"))
        .agg(count(lit(1)).as("indeg"))
      // materialized ONCE: `full` feeds BOTH the gini census and the
      // antihub aggregate — without this each branch re-runs the whole
      // IVF retrieval pipeline (the plan showed two complete ivfTopK
      // subtrees; r18 plan-lint finding)
      val full = emb.select(col("vec_id")).join(indeg, Seq("vec_id"), "left")
        .select(lit("all").as("g"), col("vec_id"),
          coalesce(col("indeg"), lit(0L)).as("indeg"))
        .localCheckpoint(true)
      val gini = graft.operators.RankStats.giniPpm(full, "indeg", Seq("g"))
      val extras = full.groupBy("g").agg(
        sum(when(col("indeg") === 0L, 1L).otherwise(0L)).as("n_antihub"),
        max(col("indeg")).as("max_indeg"))
      // both sides are one row (g is a constant group), and Catalyst
      // constant-folds the g = g condition away — broadcast the build side
      // so the degenerate join plans as the bounded BNLJ, not a cartesian
      gini.join(broadcast(extras), "g")
        .select(col("g"), col("n"), col("sum_v"), col("gini_num"),
          col("gini_ppm"), col("n_antihub"), col("max_indeg"))
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            kc AS (SELECT GREATEST(8, COUNT(*) // 125) AS kc FROM e),
            cents AS (SELECT vec_id AS cid, v AS cv FROM e
                      WHERE vec_id < (SELECT kc FROM kc)),
            -- cell assignment: dot/|c| similarity, ties to the LARGER cid
            -- (the NearestCentroidIndex contract)
            asg AS (
              SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                         list_dot_product(e.v, c.cv)
                           / sqrt(list_dot_product(c.cv, c.cv)) DESC,
                         c.cid DESC) AS rn
                FROM e CROSS JOIN cents c)
              WHERE rn = 1),
            -- probe selection: full cosine, ties to the SMALLER cid
            probes AS (
              SELECT vec_id AS qid, cid FROM (
                SELECT e.vec_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                         list_dot_product(e.v, c.cv)
                           / (sqrt(list_dot_product(e.v, e.v))
                              * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                         c.cid ASC) AS rn
                FROM e CROSS JOIN cents c)
              WHERE rn <= 2),
            cand AS (
              SELECT p.qid, a.vec_id AS nid,
                     list_dot_product(eq.v, en.v)
                       / (sqrt(list_dot_product(eq.v, eq.v))
                          * sqrt(list_dot_product(en.v, en.v))) AS cos
              FROM probes p
              JOIN asg a ON p.cid = a.cid
              JOIN e eq ON p.qid = eq.vec_id
              JOIN e en ON a.vec_id = en.vec_id
              WHERE p.qid <> a.vec_id),
            knn AS (
              SELECT qid, nid FROM (
                SELECT qid, nid,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY cos DESC, nid ASC) AS rn
                FROM cand)
              WHERE rn <= 10),
            indeg AS (
              SELECT e.vec_id, COALESCE(d.c, 0) AS indeg
              FROM e LEFT JOIN (SELECT nid, COUNT(*) AS c FROM knn GROUP BY 1) d
                ON e.vec_id = d.nid),
            cen AS (SELECT indeg AS iv, COUNT(*) AS cnt FROM indeg GROUP BY 1),
            rk AS (
              SELECT iv, cnt,
                     2 * COALESCE(SUM(cnt) OVER (ORDER BY iv
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS rank2,
                     SUM(cnt) OVER () AS n
              FROM cen),
            ag AS (
              SELECT MAX(n) AS n, SUM(cnt * iv) AS sum_v,
                     SUM(CAST(cnt AS HUGEINT) * (rank2 - n - 1) * iv) AS gn
              FROM rk)
            SELECT 'all' AS g, n::BIGINT AS n, sum_v::BIGINT AS sum_v,
                   gn::BIGINT AS gini_num,
                   CAST(CASE WHEN sum_v = 0 THEN NULL ELSE
                     (gn * 1000000) // (CAST(n AS HUGEINT) * sum_v)
                     END AS BIGINT) AS gini_ppm,
                   (SELECT COUNT(*) FROM indeg WHERE indeg = 0)::BIGINT AS n_antihub,
                   (SELECT MAX(indeg) FROM indeg)::BIGINT AS max_indeg
            FROM ag"""))

  /** NN-Descent kNN-graph construction ([[graft.ml.Similarity
    * .nnDescentKnn]] — the graph-based member of the ANN family beside
    * brute/IVF/PQ/LSH): deterministic ring init, two local-join rounds,
    * winners under the (cosine DESC, id ASC) total order. The oracle
    * replays every round as a generated AS-MATERIALIZED CTE chain (the
    * LPA-chain convention); cosines are ROUNDed on output only — doubles
    * order the selection, they are never aggregated (the q27 contract). */
  val q391_nn_descent = Q(
    "q391_nn_descent",
    (s, dir) => {
      graft.ml.Similarity
        .nnDescentKnn(t(s, dir, "embeddings"), k = 5, rounds = 2)
        .select(col("vec_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("vec_id", "rank")
    },
    Some {
      val k = 5
      def cos(vx: String, vy: String) =
        s"list_dot_product($vx.vec, $vy.vec) / " +
          s"(sqrt(list_dot_product($vx.vec, $vx.vec)) * sqrt(list_dot_product($vy.vec, $vy.vec)))"
      def roundSql(i: Int, prev: String): String =
        s"""u$i AS MATERIALIZED (
              SELECT x AS c, y AS w FROM $prev UNION SELECT y, x FROM $prev),
            c$i AS MATERIALIZED (
              SELECT DISTINCT a.w AS x, b.w AS y
              FROM u$i a JOIN u$i b ON a.c = b.c AND a.w <> b.w),
            a$i AS MATERIALIZED (SELECT x, y FROM $prev UNION SELECT x, y FROM c$i),
            s$i AS MATERIALIZED (
              SELECT a$i.x, a$i.y, ${cos("vx", "vy")} AS cs
              FROM a$i JOIN v vx ON vx.vec_id = a$i.x JOIN v vy ON vy.vec_id = a$i.y),
            e$i AS MATERIALIZED (
              SELECT x, y FROM (
                SELECT x, y, ROW_NUMBER() OVER (PARTITION BY x ORDER BY cs DESC, y) AS rn
                FROM s$i) WHERE rn <= $k)"""
      s"""WITH v AS MATERIALIZED (
            SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   list_transform(embedding, e -> CAST(e AS DOUBLE)) AS vec
            FROM embeddings),
          e0 AS MATERIALIZED (
            SELECT vec_id AS x, (vec_id + m) % (SELECT COUNT(*) FROM v) AS y
            FROM v, UNNEST([1, 2, 3, 4, 5]) AS t(m)),
          ${roundSql(1, "e0")},
          ${roundSql(2, "e1")},
          fin AS (
            SELECT e2.x, e2.y, ${cos("vx", "vy")} AS cs
            FROM e2 JOIN v vx ON vx.vec_id = e2.x JOIN v vy ON vy.vec_id = e2.y)
          SELECT x AS vec_id, CAST(rn AS BIGINT) AS rank, y AS neighbor_id,
                 ROUND(cs, 4) AS cosine
          FROM (SELECT x, y, cs,
                       ROW_NUMBER() OVER (PARTITION BY x ORDER BY cs DESC, y) AS rn
                FROM fin) WHERE rn <= $k
          ORDER BY vec_id, rank"""
    })

  /** Shared vector-corpus registry for the ANN-artifact queries: the
    * embeddings table (double-cast) registered once per (JVM, sf) as
    * `vec_corpus`. */
  private def vecRegistry(s: org.apache.spark.sql.SparkSession, dir: String) =
    memo(s, dir, "vectors") {
      val reg = graft.registry.Registry(s, scratch("graft-registry-vectors"))
      graft.registry.Registry.registerDataset(reg, "vec_corpus",
        t(s, dir, "embeddings").select(
          col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding")),
        validate = false)
      reg
    }

  /** IVF search through REGISTRY-RESOLVED centroids ([[graft.registry
    * .DerivedArtifacts.ivfCentroidsArtifact]] — r15 VERDICT item 2:
    * centroids were rebuilt per query; now they are a provenance-stamped
    * registered dataset, built on first touch, a pure parquet read on
    * every later search, invalidated when the corpus or the (k,
    * iterations, init) params change — rebuild-on-change is spec-pinned in
    * DerivedArtifactsSpec). probes = cells makes IVF EXACT (the q57
    * trick), so the oracle is the brute-force replay and the artifact
    * path's values are init-invariant. */
  val q400_registry_ivf_ann = Q(
    "q400_registry_ivf_ann",
    (s, dir) => {
      import graft.ml.Similarity
      val reg = vecRegistry(s, dir)
      val k = 8
      val centroids = graft.registry.DerivedArtifacts
        .ivfCentroidsArtifact(reg, "vec_corpus", numCentroids = k, iterations = 2,
          parallelInit = false)
      val emb = reg.dataset("vec_corpus")
      val cells = Similarity.assignToCentroids(emb, centroids)
      val queries = emb.filter(col("vec_id") < 5)
      topKRows(Similarity.ivfTopK(queries, cells, centroids, k = 5, probes = k))
    },
    Some(exactCosineTop5Sql))

  /** PQ/ADC search through the REGISTRY-RESOLVED codebook artifact
    * ([[graft.registry.DerivedArtifacts.pqCodebooksArtifact]]): training
    * runs once per corpus state, every search reads the registered
    * codebook parquet (KB-sized, metadata collect). Same geometry as
    * q208 but a DIFFERENT query set (vec_id 5..9), and the oracle is the
    * SHARED full-PQ replay builder ([[pqAdcOracleSql]]) — the
    * artifact path must produce exactly the values direct training does,
    * because resolution only caches. */
  val q401_registry_pq_adc = Q(
    "q401_registry_pq_adc",
    (s, dir) => {
      val M = 8; val K = 4; val SD = 8; val SCALE = 64
      val reg = vecRegistry(s, dir)
      val cb = graft.registry.DerivedArtifacts
        .pqCodebooksArtifact(reg, "vec_corpus", M, K, SD, iters = 2, scale = SCALE)
      val emb = quantizedEmbeddings(s, dir, SCALE).cache()
      try pqAdcTop5(s, emb, cb, col("vec_id") >= 5 && col("vec_id") < 10).localCheckpoint(true)
      finally emb.unpersist()
    },
    Some(pqAdcOracleSql(qFilter = "vec_id >= 5 AND vec_id < 10")))

  /** ANN recall-vs-probes curve (the eval every IVF deployment runs before
    * picking its probe count — pure COMPOSITION over bruteForceTopK +
    * ivfTopK + one hit join, zero new operator code, the TextRank
    * convention): ground truth = exact top-10 for a BOUNDED deterministic
    * query panel (the 50 lowest ids ≡ 0 mod 10 — an eval set is a fixed
    * panel, never a corpus fraction: a fractional subset would make the
    * brute-force truth pass quadratic at scale), measured at probes ∈
    * {1, 2, 4} over the same
    * corpus-proportional centroid set as q380 (kc = max(8, n/125) — the
    * q85 k contract keeps the probed scan linear). Exact integers
    * throughout: per-query hits are set intersections, mean recall is
    * hits·10⁶ div (n_q·10), min recall a per-query census MIN. */
  val q403_ann_recall_curve = Q(
    "q403_ann_recall_curve",
    (s, dir) => {
      import graft.ml.Similarity
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val kc = math.max(8L, emb.count() / 125L)
      val cents = emb.filter(col("vec_id") < kc)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      // reused by all three probe settings: materialize once
      val cells = Similarity.assignToCentroids(emb, cents).localCheckpoint(true)
      val queries = emb.filter(pmod(col("vec_id"), lit(10L)) === 0L)
        .orderBy(col("vec_id")).limit(50)
      val truth = Similarity.bruteForceTopK(queries, emb, 10)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true)
      val qn = queries.count()
      val rows = Seq(1, 2, 4).map { p =>
        val got = Similarity.ivfTopK(queries, cells, cents, k = 10, probes = p)
          .select(col("query_id"), col("neighbor_id"))
        val perQuery = queries.select(col("vec_id").as("query_id"))
          .join(
            got.join(truth, Seq("query_id", "neighbor_id"))
              .groupBy("query_id").agg(count(lit(1)).as("h")),
            Seq("query_id"), "left")
          .select(col("query_id"), coalesce(col("h"), lit(0L)).as("h"))
        perQuery.agg(
          lit(p.toLong).as("probes"),
          lit(qn).as("n_queries"),
          sum(col("h")).cast("long").as("total_hits"),
          org.apache.spark.sql.graft.Idiv(
            sum(col("h")) * 1000000L, lit(qn * 10L)).cast("long").as("mean_recall_ppm"),
          min(org.apache.spark.sql.graft.Idiv(col("h") * 1000000L, lit(10L)))
            .cast("long").as("min_recall_ppm"))
      }
      rows.reduce(_ unionByName _)
        .select(col("probes"), col("n_queries"), col("total_hits"),
          col("mean_recall_ppm"), col("min_recall_ppm"))
        .orderBy("probes")
    },
    Some {
      // the q380 IVF replay, parameterized over the probe settings: cell
      // assignment = dot/|c| ties-to-larger-cid, probe selection = full
      // cosine ties-to-smaller-cid (the NearestCentroidIndex / ivfTopK
      // contracts), candidates ranked (cos DESC, nid ASC)
      val perProbe = Seq(1, 2, 4).map { p =>
        s"""probes_$p AS (
              SELECT vec_id AS qid, cid FROM (
                SELECT q.vec_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                         list_dot_product(q.v, c.cv)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                         c.cid ASC) AS rn
                FROM qs q CROSS JOIN cents c)
              WHERE rn <= $p),
            knn_$p AS (
              SELECT qid, nid FROM (
                SELECT cand.qid, cand.nid,
                       ROW_NUMBER() OVER (PARTITION BY cand.qid
                         ORDER BY cand.cos DESC, cand.nid ASC) AS rn
                FROM (
                  SELECT pr.qid, a.vec_id AS nid,
                         list_dot_product(eq.v, en.v)
                           / (sqrt(list_dot_product(eq.v, eq.v))
                              * sqrt(list_dot_product(en.v, en.v))) AS cos
                  FROM probes_$p pr
                  JOIN asg a ON pr.cid = a.cid
                  JOIN e eq ON pr.qid = eq.vec_id
                  JOIN e en ON a.vec_id = en.vec_id
                  WHERE pr.qid <> a.vec_id) cand)
              WHERE rn <= 10),
            hits_$p AS (
              SELECT q.vec_id AS qid, COALESCE(h.c, 0) AS h
              FROM qs q LEFT JOIN (
                SELECT k.qid, COUNT(*) AS c
                FROM knn_$p k JOIN truth t ON t.qid = k.qid AND t.nid = k.nid
                GROUP BY 1) h ON h.qid = q.vec_id)"""
      }.mkString(",\n")
      val rows = Seq(1, 2, 4).map { p =>
        s"""SELECT $p::BIGINT AS probes,
                   (SELECT COUNT(*) FROM qs)::BIGINT AS n_queries,
                   CAST(SUM(h) AS BIGINT) AS total_hits,
                   CAST(SUM(h) * 1000000 // ((SELECT COUNT(*) FROM qs) * 10) AS BIGINT) AS mean_recall_ppm,
                   CAST(MIN(h * 1000000 // 10) AS BIGINT) AS min_recall_ppm
            FROM hits_$p"""
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                     FROM embeddings),
          kc AS (SELECT GREATEST(8, COUNT(*) // 125) AS kc FROM e),
          cents AS (SELECT vec_id AS cid, v AS cv FROM e
                    WHERE vec_id < (SELECT kc FROM kc)),
          asg AS (
            SELECT vec_id, cid FROM (
              SELECT e.vec_id, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_dot_product(e.v, c.cv)
                         / sqrt(list_dot_product(c.cv, c.cv)) DESC,
                       c.cid DESC) AS rn
              FROM e CROSS JOIN cents c)
            WHERE rn = 1),
          qs AS (SELECT vec_id, v FROM e WHERE vec_id % 10 = 0
                 ORDER BY vec_id LIMIT 50),
          truth AS (
            SELECT qid, nid FROM (
              SELECT q.vec_id AS qid, c.vec_id AS nid,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                       list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(c.v, c.v))) DESC,
                       c.vec_id ASC) AS rn
              FROM qs q JOIN e c ON q.vec_id <> c.vec_id)
            WHERE rn <= 10),
          $perProbe
          SELECT * FROM ($rows) ORDER BY probes"""
    })

  val all: Seq[Q] = Seq(
    q27_ann_brute, q28_cos_neardup, q32_ann_ivf, q33_multimodal, q57_ann_ivf_exhaustive,
    q85_semantic_dedup, q95_video, q108_quantize, q124_jl_projection, q156_hard_negatives,
    q158_hybrid_rrf, q165_embedding_audit, q175_mmr, q184_image_phash, q188_sql_surface,
    q201_mutual_knn, q208_pq_ann, q209_coreset, q211_video_neardup, q223_audio_neardup,
    q244_matryoshka, q249_centroid_matrix, q294_gram_matrix, q380_hubness, q391_nn_descent,
    q400_registry_ivf_ann, q401_registry_pq_adc, q403_ann_recall_curve)
}
