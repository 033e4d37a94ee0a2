package graft

import org.apache.spark.sql.functions._

import graft.text.TextFunctions

import graft.QueryDsl._

/** Catalog family, text sub-family: assembling a training corpus —
  * sampling, mixing, splits, sharding, token budgets, selection, data
  * cards, and the declarative curation-plan documents driven through
  * [[graft.query.CurationSubmitter]]. COVERAGE.md curation rows.
  * Registered in [[graft.Queries]]. */
private[graft] object TextCurationCatalog {

  /** DuckDB replay of the flagship quality → language filter: CTEs
    * `toks`, `feat`, `scored`, `langed` and `filtered` (English documents
    * with stopword ratio ≥ 0.05). Shared by q60 and its JSON-document
    * twin q383. */
  private val englishFilteredSql: String = {
    val stop = TextFunctions.englishStopwords.map(w => s"'$w'").mkString(", ")
    s"""toks AS (
            SELECT doc_id, text,
              list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> len(x) > 0) AS toks
            FROM documents),
          feat AS (
            SELECT doc_id, text, len(toks) AS n_tokens,
              CASE WHEN len(toks) = 0 THEN 0.0
                   ELSE CAST(len(list_filter(toks, t -> list_contains([$stop], t))) AS DOUBLE) / len(toks)
              END AS swr,
              list_distinct(toks) AS dtoks
            FROM toks),
          scored AS (SELECT *, ${langScoresSql("dtoks")} FROM feat),
          langed AS (SELECT doc_id, text, n_tokens, swr, $langArgmaxSql AS lang FROM scored),
          filtered AS (SELECT * FROM langed WHERE lang = 'en' AND swr >= 0.05)"""
  }

  /** End-to-end training-data pipeline (flagship composition): quality
    * filter (stopword ratio) → language filter (en) → exact dedup (keep
    * min-id per normalized content) → per-language corpus stats. Every
    * stage is an operator with its own green oracle (q25/q30/q26/q24);
    * this query checks their COMPOSITION against one SQL replay. */
  val q60_pipeline = Q(
    "q60_pipeline",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      // tokens materialized ONCE (HOF-lambda CSE rule), every feature reads
      // the column
      val base = d
        .withColumn("__toks", TextFunctions.tokens(lower(col("text"))))
        .withColumn("lang", TextFunctions.languageIdFromTokens(array_distinct(col("__toks"))))
        .withColumn("swr", TextFunctions.stopwordRatioFromTokens(col("__toks")))
        .withColumn("n_tokens", size(col("__toks")))
      val filtered = base.filter(col("lang") === "en" && col("swr") >= 0.05)
      // exact dedup WITHIN the filtered set: keep the min doc_id per
      // normalized content (same keep rule as Dedup.dropExactDuplicates,
      // md5 spelled out so the oracle can replay it)
      val w = Window.partitionBy(md5(TextFunctions.normalize(col("text"))))
      val deduped = filtered
        .withColumn("__keep", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("__keep"))
      deduped
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          round(avg(col("swr")), 4).as("avg_swr"))
    },
    Some(
      s"""WITH $englishFilteredSql,
          deduped AS (
            SELECT * FROM (
              SELECT *, MIN(doc_id) OVER (PARTITION BY
                md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))) AS keep
              FROM filtered) WHERE doc_id = keep)
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 ROUND(AVG(swr), 4) AS avg_swr
          FROM deduped"""))

  /** Deterministic stratified sampling (training-data pipeline op): keep
    * 40% of English docs, 15% of everything else, reproducibly — the
    * content-keyed Bernoulli sample a corpus refresh needs (DataFrame
    * .sample is partition-keyed and unstable). Map-side, zero shuffle. */
  val q65_stratified_sample = Q(
    "q65_stratified_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Sampling
        .stratifiedSample(d, "doc_id", "lang", Map("en" -> 0.4), defaultFraction = 0.15,
          seed = "r3", uniform = knuthUniform)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("n_chars")).cast("long").as("chars"))
        .orderBy("lang")
    },
    Some(s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
             FROM documents
             WHERE ${knuthUniformSql("doc_id", "r3")} < CASE WHEN lang = 'en' THEN 0.4 ELSE 0.15 END
             GROUP BY 1 ORDER BY 1"""))

  /** Token-budget shard packing (training-data pipeline op): exact
    * sequential packing per source along doc_id order, then the shard
    * manifest a trainer schedules from. The window partitions by source —
    * the real partitioning column that keeps the 100 TB case from a
    * global sort. */
  val q66_shard_pack = Q(
    "q66_shard_pack",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val sharded = graft.text.Sharding
        .packBySequence(d, "doc_id", "n_chars", budgetTokens = 50000L, partitionCols = Seq("source"))
      graft.text.Sharding.shardManifest(sharded, "n_chars", extraKeys = Seq("source"))
        .select(col("source"), col("shard"), col("n_docs"), col("total_tokens"))
        .orderBy("source", "shard")
    },
    Some("""WITH cum AS (
              SELECT source, n_chars,
                     SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS c
              FROM documents)
            SELECT source, CAST(FLOOR((c - n_chars) / 50000) AS BIGINT) AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_tokens
            FROM cum GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Quantile filtering (training-data pipeline op): keep docs at or above
    * the per-language p75 of length — exact percent_rank form (the
    * approx-threshold scale path is spec-covered). */
  val q67_quantile_filter = Q(
    "q67_quantile_filter",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Sampling.filterByQuantile(d, "n_chars", 0.75, Seq("lang"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          min(col("n_chars")).cast("long").as("min_chars"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy("lang")
    },
    Some("""WITH pr AS (
              SELECT lang, n_chars,
                     PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars) AS p
              FROM documents)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(MIN(n_chars) AS BIGINT) AS min_chars,
                   CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM pr WHERE p >= 0.75 GROUP BY 1 ORDER BY 1"""))

  /** Weighted corpus mixing (training-data pipeline op): a two-source
    * training mix — every doc of the rarer source, 30% of the dominant
    * one — with per-source independent keep decisions and provenance. */
  val q68_weighted_mix = Q(
    "q68_weighted_mix",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // "web" = the even-numbered src buckets (half the corpus, downsampled
      // to 30%); "curated" = the odd ones, kept whole
      val isWeb = regexp_extract(col("source"), "src(\\d+)", 1).cast("int") % 2 === 0
      val web = d.filter(isWeb)
      val rest = d.filter(!isWeb)
      graft.text.Sampling
        .weightedMix(
          Seq(("web", web, 0.3), ("curated", rest, 1.0)),
          "doc_id", seed = "mix", uniform = knuthUniform)
        .groupBy(col("mix_source"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("n_chars")).cast("long").as("chars"))
        .orderBy("mix_source")
    },
    Some(s"""SELECT mix_source, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
             FROM (
               SELECT 'web' AS mix_source, n_chars FROM documents
               WHERE CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 2 = 0
                 AND ${knuthUniformSql("doc_id", "mix|web")} < 0.3
               UNION ALL
               SELECT 'curated' AS mix_source, n_chars FROM documents
               WHERE CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 2 = 1
                 AND ${knuthUniformSql("doc_id", "mix|curated")} < 1.0)
             GROUP BY 1 ORDER BY 1"""))

  /** Deterministic train/val/test split (training-data pipeline op): the
    * content-keyed split column with cumulative thresholds 0.7/0.1/0.1 —
    * the remaining 10% stays NULL ("held out entirely"), exercising the
    * under-allocated path. Weights-by-id means assignments survive corpus
    * refreshes with no train/test migration; zero shuffle. */
  val q91_split = Q(
    "q91_split",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Sampling
        .splitByHash(d, "doc_id", Seq("train" -> 0.7, "val" -> 0.1, "test" -> 0.1),
          seed = "r6", uniform = knuthUniform)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("n_chars")).cast("long").as("chars"))
        .orderBy("split", "lang")
    },
    Some(s"""WITH u AS (SELECT *, ${knuthUniformSql("doc_id", "r6")} AS uu FROM documents)
             SELECT CASE WHEN uu < 0.7 THEN 'train' WHEN uu < 0.8 THEN 'val'
                         WHEN uu < 0.9 THEN 'test' END AS split,
                    lang, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
             FROM u GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Per-domain document caps (training-data pipeline op): keep at most 20
    * docs per source, chosen by deterministic content-keyed hash order (the
    * CommonCrawl "domain quota" step — prevents any single domain from
    * dominating the mix; hash order makes the quota stable across corpus
    * refreshes instead of keeping whichever rows arrive first). */
  val q98_domain_cap = Q(
    "q98_domain_cap",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Sampling
        .capPerGroup(d, Seq("source"), 20, orderBy = Seq(
          knuthUniform(col("doc_id"), "cap"), col("doc_id")))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("n_chars")).cast("long").as("chars"))
        .orderBy("source")
    },
    Some(s"""WITH ranked AS (
               SELECT source, n_chars,
                      ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY ${knuthUniformSql("doc_id", "cap")}, doc_id) AS rn
               FROM documents)
             SELECT source, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
             FROM ranked WHERE rn <= 20 GROUP BY 1 ORDER BY 1"""))

  /** Temperature-based language rebalancing (mT5/XLM-R τ=2): high-resource
    * languages downsample to sqrt-proportional sizes, the rarest keeps
    * 100%. τ=2 on purpose — sqrt is IEEE-correctly-rounded on both engines,
    * unlike a libm pow (the q90 floor-log2 lesson, applied to exponents). */
  val q102_temperature_mix = Q(
    "q102_temperature_mix",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Sampling
        .temperatureSample(d, "doc_id", "lang", seed = "temp", uniform = knuthUniform)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_kept"), sum(col("n_chars")).cast("long").as("chars"))
        .orderBy("lang")
    },
    Some(s"""WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
             mn AS (SELECT MIN(n) AS nmin FROM cnt),
             rates AS (SELECT lang, SQRT(CAST(nmin AS DOUBLE) / n) AS r FROM cnt, mn)
             SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
                    CAST(SUM(n_chars) AS BIGINT) AS chars
             FROM documents d JOIN rates ON rates.lang = d.lang
             WHERE ${knuthUniformSql("d.doc_id", "temp")} < rates.r
             GROUP BY 1 ORDER BY 1"""))

  /** Systematic PPS weighted sampling (Madow 1949): 100 picks proportional
    * to document length, every quantity integer arithmetic so the pick
    * multiset is bit-reproducible in any engine — the deterministic
    * weighted sampler a corpus-mixing recipe needs (exp-sort reservoirs
    * depend on libm). One global cumsum window + map-side span math. */
  val q135_pps_sample = Q(
    "q135_pps_sample",
    (s, dir) => {
      val d = t(s, dir, "documents").filter(col("n_chars") > 0)
      graft.text.Sampling
        .ppsSystematic(d, "n_chars", 100,
          orderBy = Seq(knuthUniform(col("doc_id"), "pps"), col("doc_id")))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("w"), col("multiplicity"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ordered AS (
               SELECT doc_id, n_chars,
                      SUM(CAST(n_chars AS BIGINT)) OVER (
                        ORDER BY ${knuthUniformSql("doc_id", "pps")}, doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
               FROM documents WHERE n_chars > 0),
             tot AS (SELECT MAX(cum) AS t FROM ordered),
             spans AS (SELECT doc_id, n_chars,
                              200 * (cum - n_chars) AS a, 200 * cum AS b, t
                       FROM ordered, tot),
             m AS (SELECT doc_id, n_chars,
                          ((a + t - 1) // t) AS c, ((b - 1) // t) AS d
                   FROM spans)
             SELECT CAST(doc_id AS BIGINT) AS doc_id,
                    CAST(n_chars AS BIGINT) AS w,
                    CAST(((d + 1) // 2) - (c // 2) AS BIGINT) AS multiplicity
             FROM m
             WHERE ((d + 1) // 2) - (c // 2) > 0
             ORDER BY doc_id"""))

  /** DSIR-style data selection (Xie et al. 2023, integer-quantized): score
    * every document by hashed-unigram resemblance to the target slice
    * (sources 0–2) vs the whole corpus; log-ratios in floor-log₂ integer
    * space (libm-free), exact BIGINT end to end. The oracle replays
    * xxhash64 bucketing (tools.OracleSql), the bucket profile, and the
    * bin()-length log₂. */
  val q145_dsir_weights = Q(
    "q145_dsir_weights",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Sampling
        .dsirLogWeights(d, "doc_id", "text",
          isTarget = col("source").isin("src0", "src1", "src2"), buckets = 512)
        .select(col("doc_id").cast("long").as("doc_id"), col("dsir_weight"))
        .orderBy("doc_id")
    },
    Some {
      import graft.tools.OracleSql._
      val toks =
        s"""SELECT doc_id, source, tok FROM (
              SELECT doc_id, source, unnest(string_split(${normalizeSql("text")}, ' ')) AS tok
              FROM documents) WHERE len(tok) > 0"""
      // hash DISTINCT tokens only (the staged XXH64 expression dominates
      // oracle cost; the vocab is far smaller than the token stream), then
      // join the hashes back onto the stream — value-identical
      val hashedD = xxhash64Stages(s"SELECT DISTINCT tok FROM ($toks)", "tok", "hv", pfx = "__d")
      s"""WITH tk AS ($toks),
            hd AS ($hashedD),
            hashed AS (SELECT tk.doc_id, tk.source, hd.hv FROM tk JOIN hd USING (tok)),
            bucketed AS (SELECT doc_id, source,
                                ((hv % 512) + 512) % 512 AS b
                         FROM hashed),
            prof AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r,
                            CAST(SUM(CASE WHEN source IN ('src0','src1','src2')
                                     THEN 1 ELSE 0 END) AS BIGINT) AS t
                     FROM bucketed GROUP BY 1),
            w AS (SELECT b, CAST(length(bin(t + 1)) - 1 AS BIGINT)
                           - CAST(length(bin(r + 1)) - 1 AS BIGINT) AS wt
                  FROM prof)
          SELECT CAST(x.doc_id AS BIGINT) AS doc_id,
                 CAST(SUM(w.wt) AS BIGINT) AS dsir_weight
          FROM bucketed x JOIN w ON w.b = x.b
          GROUP BY 1 ORDER BY 1"""
    })

  /** Token-budget corpus fill: keep the longest documents (chars-desc
    * priority, id tiebreak) until 20k whitespace tokens are spent — the
    * greedy-prefix selection of a pretraining mix. One window cumsum in
    * BIGINT; the oracle replays it. */
  val q159_budget_fill = Q(
    "q159_budget_fill",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        TextFunctions.tokenCount(col("text")).cast("long").as("toks"))
      graft.text.Sampling.fillTokenBudget(d, "toks", budget = 20000L,
          orderBy = Seq(col("n_chars").desc, col("doc_id").asc))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("toks")).cast("long").as("tokens"),
          min(col("n_chars")).cast("long").as("min_chars"))
        .orderBy("lang")
    },
    Some("""WITH d AS (
              SELECT doc_id::BIGINT AS doc_id, lang, n_chars::BIGINT AS n_chars,
                CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS toks
              FROM documents),
            cum AS (
              SELECT *, SUM(toks) OVER (ORDER BY n_chars DESC, doc_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
              FROM d)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(toks) AS BIGINT) AS tokens,
                   CAST(MIN(n_chars) AS BIGINT) AS min_chars
            FROM cum WHERE c <= 20000 GROUP BY lang ORDER BY lang"""))

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

  /** Filter-funnel attrition audit — the pipeline-composition artifact
    * every curation run ships: sequential gates (language → length →
    * exact-dedup winner → model-based classifier) with per-stage
    * survivor/dropped counts. One pass computes all gate flags map-side
    * (the classifier is the q205 codegen expression, the dedup winner one
    * hash-partitioned window over the survivors); the report is a 5-row
    * stack. The oracle replays every gate — including the xxhash64 dedup
    * hash and the full tokenize→bucket→ramp classifier — in SQL. */
  val q212_filter_funnel = Q(
    "q212_filter_funnel",
    (s, dir) => {
      import graft.text.TextFunctions
      import org.apache.spark.sql.graft.ExprColumn
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
        .withColumn("g_lang", col("lang").isin("en", "de", "fr"))
        .withColumn("g_len", col("n_chars").between(100, 500))
      val head = d.agg(
        count(lit(1)).as("n0"),
        sum(when(col("g_lang"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("g_lang") && col("g_len"), 1L).otherwise(0L)).as("n2"))
      val surv = d.filter(col("g_lang") && col("g_len"))
        .withColumn("rk",
          row_number().over(Window.partitionBy(xxhash64(col("text"))).orderBy(col("doc_id"))))
        .withColumn("score",
          ExprColumn(graft.plans.HashedLinearScore(
            ExprColumn.expr(TextFunctions.tokens(TextFunctions.normalize(col("text")))), 4096)))
      val tail = surv.agg(
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n3"),
        sum(when(col("rk") === 1 && col("score") > 0, 1L).otherwise(0L)).as("n4"))
      head.crossJoin(tail)
        .select(expr(
          """stack(5,
               0L, 'all', n0,
               1L, 'lang_gate', n1,
               2L, 'length_gate', n2,
               3L, 'exact_dedup', n3,
               4L, 'classifier_gate', n4) AS (stage, stage_name, n_out)"""))
        .withColumn("dropped",
          coalesce(lag(col("n_out"), 1).over(Window.orderBy(col("stage"))) - col("n_out"), lit(0L)))
        .select(col("stage").cast("long").as("stage"), col("stage_name"),
          col("n_out").cast("long").as("n_out"), col("dropped").cast("long").as("dropped"))
        .orderBy("stage")
    },
    Some {
      import graft.tools.OracleSql._
      val base = "SELECT doc_id, text, lang, n_chars, " +
        "(lang IN ('en', 'de', 'fr')) AS g1, " +
        "(n_chars BETWEEN 100 AND 500) AS g2 FROM documents"
      val hashed = xxhash64Stages(s"SELECT * FROM ($base) WHERE g1 AND g2", "text", "hv", pfx = "__fh")
      val toks = s"SELECT doc_id, unnest(list_filter(string_split(${normalizeSql("text")}, ' '), " +
        s"t -> len(t) > 0)) AS tok FROM ($base) WHERE g1 AND g2"
      val tokHashed = xxhash64Stages(toks, "tok", "tv", pfx = "__ft")
      s"""WITH d AS ($base),
            r AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY hv ORDER BY doc_id) AS rk
                  FROM ($hashed)),
            sc AS (SELECT doc_id,
                          CAST(SUM(((((tv % 4096) + 4096) % 4096) % 7) - 3) AS BIGINT) AS score
                   FROM ($tokHashed) GROUP BY 1),
            counts AS (
              SELECT 0 AS stage, 'all' AS stage_name, (SELECT COUNT(*) FROM d) AS n_out
              UNION ALL
              SELECT 1, 'lang_gate', (SELECT COUNT(*) FROM d WHERE g1)
              UNION ALL
              SELECT 2, 'length_gate', (SELECT COUNT(*) FROM d WHERE g1 AND g2)
              UNION ALL
              SELECT 3, 'exact_dedup', (SELECT COUNT(*) FROM r WHERE rk = 1)
              UNION ALL
              SELECT 4, 'classifier_gate',
                     (SELECT COUNT(*) FROM r JOIN sc USING (doc_id)
                      WHERE rk = 1 AND sc.score > 0))
          SELECT CAST(stage AS BIGINT) AS stage, stage_name,
                 CAST(n_out AS BIGINT) AS n_out,
                 CAST(COALESCE(LAG(n_out) OVER (ORDER BY stage) - n_out, 0) AS BIGINT) AS dropped
          FROM counts ORDER BY stage"""
    })

  /** Rendezvous / highest-random-weight sharding (Thaler & Ravishankar
    * '98) stability audit: every document assigned under 8 and under 9
    * shards by argmax xxhash64(doc_id, shard)
    * ([[graft.text.Sharding.rendezvousShard]], pure map-side), with
    * per-shard counts and moved-in counts. The HRW property the report
    * demonstrates — and the oracle proves value-exactly — is that growing
    * the fleet moves ONLY keys whose argmax is the NEW shard (moved_in = 0
    * for shards 0–7), the incremental-reshard guarantee a 100 TB corpus
    * layout needs. Oracle replays the chained two-argument XXH64 (doc hash
    * seeds the shard hash) over a doc×shard expansion. */
  val q217_rendezvous = Q(
    "q217_rendezvous",
    (s, dir) => {
      import graft.text.Sharding
      val docs = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("s8", Sharding.rendezvousShard(col("doc_id"), 8))
        .withColumn("s9", Sharding.rendezvousShard(col("doc_id"), 9))
      val c8 = docs.groupBy(col("s8").as("shard")).agg(count(lit(1)).as("cnt8"))
      val c9 = docs.groupBy(col("s9").as("shard")).agg(count(lit(1)).as("cnt9"))
      val moved = docs.filter(col("s8") =!= col("s9"))
        .groupBy(col("s9").as("shard")).agg(count(lit(1)).as("moved_in"))
      c9.join(c8, Seq("shard"), "left").join(moved, Seq("shard"), "left")
        .select(col("shard").cast("long").as("shard"),
          coalesce(col("cnt8"), lit(0L)).cast("long").as("cnt8"),
          col("cnt9").cast("long").as("cnt9"),
          coalesce(col("moved_in"), lit(0L)).cast("long").as("moved_in"))
        .orderBy("shard")
    },
    Some {
      import graft.tools.OracleSql._
      val ids = "SELECT doc_id::BIGINT AS doc_id FROM documents"
      val h0s = xxhash64LongStages(ids, "doc_id", "h0", pfx = "__r0")
      val exp = s"SELECT doc_id, h0, s FROM ($h0s), unnest(range(9)) AS u(s)"
      val hs = xxhash64LongStages(exp, "s", "h", pfx = "__r1", seed = unsignedOf("h0"))
      s"""WITH hs AS ($hs),
            a8 AS (SELECT doc_id, s AS s8 FROM (
                     SELECT doc_id, s, ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn
                     FROM hs WHERE s < 8) WHERE rn = 1),
            a9 AS (SELECT doc_id, s AS s9 FROM (
                     SELECT doc_id, s, ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn
                     FROM hs) WHERE rn = 1),
            j AS (SELECT a9.doc_id, a8.s8, a9.s9 FROM a9 JOIN a8 USING (doc_id)),
            c8 AS (SELECT s8 AS shard, COUNT(*) AS cnt8 FROM j GROUP BY 1),
            c9 AS (SELECT s9 AS shard, COUNT(*) AS cnt9 FROM j GROUP BY 1),
            mv AS (SELECT s9 AS shard, COUNT(*) AS moved_in FROM j WHERE s8 <> s9 GROUP BY 1)
          SELECT CAST(c9.shard AS BIGINT) AS shard,
                 CAST(COALESCE(c8.cnt8, 0) AS BIGINT) AS cnt8,
                 CAST(c9.cnt9 AS BIGINT) AS cnt9,
                 CAST(COALESCE(mv.moved_in, 0) AS BIGINT) AS moved_in
          FROM c9 LEFT JOIN c8 ON c8.shard = c9.shard
          LEFT JOIN mv ON mv.shard = c9.shard
          ORDER BY shard"""
    })

  /** Deterministic per-group uniform sample, exactly min(k, n) per source:
    * rows ordered by (xxhash64(id), id) — the engine-replayable stand-in
    * for a uniform draw (the q135/q195 integer-randomness convention) —
    * and cut at k by the custom [[graft.operators.TopK]] bounded-heap
    * physical operator: a per-group reservoir whose shuffle carries at
    * most k rows per group per input partition, no per-group sort. The
    * grouped-sampling shape every eval-set builder needs at corpus scale.
    * Oracle replays the hash order with ROW_NUMBER. */
  val q225_group_sample = Q(
    "q225_group_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("doc_id").cast("long").as("doc_id"))
        .withColumn("h", xxhash64(col("doc_id")))
      graft.operators.TopK
        .perGroup(d, Seq("source"), Seq(("h", true), ("doc_id", true)), 20)
        .select(col("source"), col("doc_id"))
        .orderBy("source", "doc_id")
    },
    Some {
      import graft.tools.OracleSql._
      val base = "SELECT source, doc_id::BIGINT AS doc_id FROM documents"
      val hashed = xxhash64LongStages(base, "doc_id", "h", pfx = "__s")
      s"""SELECT source, doc_id FROM (
            SELECT source, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
            FROM ($hashed))
          WHERE rn <= 20 ORDER BY source, doc_id"""
    })

  /** Water-filling token-budget allocation
    * ([[graft.text.Sampling.waterFillAllocation]] — the max-min-fair
    * splitter the mixture planners assume: largest integer cap c with
    * Σ min(n_s, c) ≤ B; small sources keep everything, large ones clip at
    * a COMMON ceiling — proportional clipping would punish exactly the
    * small sources a mix needs): per-source char masses with a
    * deterministic 7-tier skew (multiplier from the source index), budget
    * = half the total. Windows order the SOURCE list, never documents.
    * Oracle replays ranking, prefix sums, the per-hypothesis candidate
    * caps, and the max. */
  val q307_water_filling = Q(
    "q307_water_filling",
    (s, dir) => {
      val counts = t(s, dir, "documents")
        .groupBy("source").agg(sum(col("n_chars")).as("base"))
        .withColumn("n",
          col("base") * (substring(col("source"), 4, 10).cast("long") % 7 + 1))
      val budget = counts.agg(sum(col("n"))).head().getLong(0) / 2
      graft.text.Sampling.waterFillAllocation(counts, "source", "n", budget)
        .orderBy("source")
    },
    Some("""WITH c AS (
              SELECT source,
                     SUM(n_chars)::BIGINT
                       * (CAST(substr(source, 4) AS BIGINT) % 7 + 1) AS n
              FROM documents GROUP BY source),
            tot AS (SELECT SUM(n)::BIGINT AS t, COUNT(*)::BIGINT AS k,
                           MAX(n)::BIGINT AS mx FROM c),
            b AS (SELECT (SELECT t FROM tot) // 2 AS B),
            ranked AS (
              SELECT source, n,
                     ROW_NUMBER() OVER (ORDER BY n, source) AS rn,
                     SUM(n) OVER (ORDER BY n, source) - n AS pref
              FROM c),
            caps AS (
              SELECT MAX(CASE
                  WHEN (SELECT t FROM tot) <= (SELECT B FROM b) THEN (SELECT mx FROM tot)
                  WHEN pref <= (SELECT B FROM b)
                    THEN ((SELECT B FROM b) - pref) // ((SELECT k FROM tot) - rn + 1)
                END)::BIGINT AS cap
              FROM ranked)
            SELECT c.source, c.n, (SELECT cap FROM caps) AS cap,
                   LEAST(c.n, GREATEST((SELECT cap FROM caps), 0))::BIGINT AS alloc
            FROM c ORDER BY source"""))

  /** Consistent-hash ring with virtual nodes
    * ([[graft.text.Sharding.consistentHashRing]] — Karger/Dynamo sharding
    * beside rendezvous HRW (q217): the ring pre-materializes ownership
    * SEGMENTS, so key assignment is an INTERVAL LOOKUP and rides the
    * broadcast interval-join operator — the ring is metadata, the key
    * side never shuffles). 8 nodes × 16 vnodes assign order keys; node
    * n8 joins; the output pins THE invariant that justifies the scheme:
    * every moved key lands on the NEW node — no key ever moves between
    * two old nodes. Oracle replays both rings (string-hash stages for
    * vnode positions, long-hash stages for keys, window segments,
    * containment joins) and the movement join. */
  val q311_consistent_hashing = Q(
    "q311_consistent_hashing",
    (s, dir) => {
      import graft.operators.IntervalLookup
      val keys = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("id"),
        pmod(xxhash64(col("o_orderkey").cast("long")), lit(4294967296L)).as("h"))
      val nodes = (0 to 7).map(i => s"n$i")
      val ring1 = graft.text.Sharding.consistentHashRing(s, nodes, 16)
      val ring2 = graft.text.Sharding.consistentHashRing(s, nodes :+ "n8", 16)
      val a1 = IntervalLookup.join(keys, ring1, "h", "lo", "hi")
        .select(col("id"), col("h"), col("node").as("node1"))
      val a2 = IntervalLookup.join(keys, ring2, "h", "lo", "hi")
        .select(col("id").as("id2"), col("node").as("node2"))
      a1.join(a2, col("id") === col("id2"))
        .agg(
          count(lit(1)).cast("long").as("n_keys"),
          sum(when(col("node1") =!= col("node2"), 1L).otherwise(0L)).cast("long").as("n_moved"),
          (sum(when(col("node1") =!= col("node2") && col("node2") =!= "n8", 1L)
            .otherwise(0L)) === 0L).as("moved_only_to_new"),
          sum(when(col("node1") =!= col("node2"), col("h")).otherwise(0L))
            .cast("long").as("sum_moved_h"))
    },
    Some {
      import graft.tools.OracleSql._
      def ringSql(nodeList: String, tag: String): String = {
        val labeled =
          s"""SELECT n.node, n.node || '#' || CAST(v.v AS VARCHAR) AS lbl
              FROM (SELECT unnest([$nodeList]) AS node) n,
                   (SELECT unnest(range(0, 16)) AS v) v"""
        val hashed = xxhash64Stages(labeled, "lbl", "ph", pfx = s"__r$tag")
        s"""pos_$tag AS (
              SELECT ((ph % 4294967296) + 4294967296) % 4294967296 AS pos,
                     MIN(node) AS node
              FROM ($hashed) GROUP BY 1),
            seg_$tag AS (
              SELECT COALESCE(LAG(pos) OVER (ORDER BY pos) + 1, 0) AS lo,
                     pos + 1 AS hi, node
              FROM pos_$tag
              UNION ALL
              SELECT (SELECT MAX(pos) + 1 FROM pos_$tag), 4294967296,
                     (SELECT node FROM pos_$tag ORDER BY pos LIMIT 1)
              WHERE (SELECT MAX(pos) FROM pos_$tag) < 4294967295),
            asg_$tag AS (
              SELECT k.id, k.h, s.node
              FROM keys k JOIN seg_$tag s ON k.h >= s.lo AND k.h < s.hi)"""
      }
      val n8 = (0 to 7).map(i => s"'n$i'").mkString(", ")
      val n9 = n8 + ", 'n8'"
      val keyHash = xxhash64LongStages(
        "SELECT CAST(o_orderkey AS BIGINT) AS id FROM orders", "id", "kh", pfx = "__k")
      s"""WITH keys AS (
            SELECT id, ((kh % 4294967296) + 4294967296) % 4294967296 AS h
            FROM ($keyHash)),
          ${ringSql(n8, "a")},
          ${ringSql(n9, "b")}
          SELECT COUNT(*)::BIGINT AS n_keys,
                 SUM(CASE WHEN a.node <> b.node THEN 1 ELSE 0 END)::BIGINT AS n_moved,
                 SUM(CASE WHEN a.node <> b.node AND b.node <> 'n8' THEN 1 ELSE 0 END) = 0
                   AS moved_only_to_new,
                 SUM(CASE WHEN a.node <> b.node THEN a.h ELSE 0 END)::BIGINT AS sum_moved_h
          FROM asg_a a JOIN asg_b b USING (id)"""
    })

  /** The q60 flagship curation composition — quality features → language
    * filter → exact dedup → deterministic split → per-split corpus stats —
    * but driven END-TO-END from a declarative JSON document through
    * [[graft.query.CurationJson]] + [[graft.query.CurationSubmitter]] (the
    * same rerunnable-document discipline project queries have; ref:
    * dsgrid/query/dataset_mapping_plan.py:17-143 for the per-stage
    * persist/checkpoint model this mirrors). The Scala side never touches
    * a DataFrame operator directly: parse(document) → submit(plan).
    *
    * The split stage is the engine's production semantic
    * (xxhash64-derived uniform, content-keyed and partition-independent);
    * the oracle replays the full XXH64 chain in SQL via
    * [[graft.tools.OracleSql.xxhash64Stages]]. Split weights are dyadic
    * (0.75/0.125/0.125) so the cumulative thresholds are exact doubles on
    * both engines. Stats per split are exact integers (count, sum,
    * integral mean via div) — no row-order double aggregation. */
  val q383_curation_plan = Q(
    "q383_curation_plan",
    (s, dir) => {
      val document = """{
        "name": "curate_documents",
        "input": "documents",
        "stages": [
          {"stage_type": "text_features",
           "features": ["language", "stopword_ratio", "token_count"],
           "overwrite": true},
          {"stage_type": "filter",
           "filters": [{"filter_type": "raw", "expression": "lang = 'en' AND swr >= 0.05"}]},
          {"stage_type": "exact_dedup", "persist": true},
          {"stage_type": "split",
           "splits": [{"name": "train", "weight": 0.75},
                      {"name": "val", "weight": 0.125},
                      {"name": "test", "weight": 0.125}]},
          {"stage_type": "aggregate", "group_by": ["split"],
           "aggregations": [
             {"fn": "count", "column": "doc_id", "alias": "n_docs"},
             {"fn": "sum", "column": "n_tokens", "alias": "total_tokens"},
             {"fn": "mean_int", "column": "n_tokens", "alias": "mean_tokens"}]},
          {"stage_type": "sort", "by": ["split"]}
        ]
      }"""
      val plan = graft.query.CurationJson.parse(document)
      new graft.query.CurationSubmitter(s, dir).submit(plan)
    },
    Some {
      // Sampling.uniformHash replay: u = pmod(xxhash64(id || '|'), 1e9)/1e9
      val hashed = graft.tools.OracleSql.xxhash64Stages(
        "SELECT doc_id, n_tokens, doc_id::VARCHAR || '|' AS src FROM deduped",
        "src", "h", pfx = "__s")
      s"""WITH $englishFilteredSql,
          deduped AS (
            SELECT doc_id, n_tokens FROM (
              SELECT doc_id, n_tokens, MIN(doc_id) OVER (PARTITION BY
                ${graft.tools.OracleSql.normalizeSql("text")}) AS keep
              FROM filtered) WHERE doc_id = keep),
          hashed AS ($hashed),
          labeled AS (
            SELECT n_tokens,
                   CASE WHEN u < 0.75 THEN 'train'
                        WHEN u < 0.875 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT n_tokens,
                         (((h % 1000000000) + 1000000000) % 1000000000) / 1000000000.0 AS u
                  FROM hashed))
          SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 CAST(SUM(n_tokens) // COUNT(*) AS BIGINT) AS mean_tokens
          FROM labeled GROUP BY 1 ORDER BY 1"""
    })

  /** Heavyweight-quality curation plan: the Gopher rule gate and the
    * repetition signals as DECLARATIVE stages (gopher_flags → keep filter
    * → repetition → top-bigram filter → per-language stats), the q84/q83
    * operators reached from a JSON document. Thresholds picked against
    * the real documents distribution (word_count median 56 → min_words 40
    * splits ~40/60; top bigram char frac p75 ≈ 0.10 → the 0.1 gate drops
    * the repetitive quartile). All emitted stats are exact integers; the
    * intermediate double metrics are single int/int divisions — bit-equal
    * across engines (the q84 contract) — and never aggregated. */
  val q390_curation_quality_gate = Q(
    "q390_curation_quality_gate",
    (s, dir) => {
      val document = """{
        "name": "curate_quality_gate",
        "input": "documents",
        "stages": [
          {"stage_type": "gopher_flags", "min_words": 40, "max_words": 100000,
           "min_mean_word_len": 3.0, "max_mean_word_len": 10.0,
           "max_symbol_word_ratio": 0.1, "max_bullet_line_frac": 0.9,
           "max_ellipsis_line_frac": 0.3, "min_alpha_word_frac": 0.8,
           "min_stopword_hits": 1},
          {"stage_type": "filter",
           "filters": [{"filter_type": "expression", "column": "keep",
                        "operator": "==", "value": 1}]},
          {"stage_type": "repetition", "ngram": 2},
          {"stage_type": "filter",
           "filters": [{"filter_type": "raw", "expression": "top_ngram_char_frac <= 0.1"}]},
          {"stage_type": "aggregate", "group_by": ["lang"],
           "aggregations": [
             {"fn": "count", "column": "doc_id", "alias": "n_docs"},
             {"fn": "sum", "column": "word_count", "alias": "total_words"},
             {"fn": "mean_int", "column": "word_count", "alias": "mean_words"}]},
          {"stage_type": "sort", "by": ["lang"]}
        ]
      }"""
      val plan = graft.query.CurationJson.parse(document)
      new graft.query.CurationSubmitter(s, dir).submit(plan)
    },
    Some("""WITH arrays AS (
              SELECT doc_id, lang, text,
                list_filter(regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0) AS toks,
                list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS lns
              FROM documents),
            counts AS (
              SELECT doc_id, lang, text,
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
            kept AS (
              SELECT doc_id, lang, text, wc AS word_count FROM counts
              WHERE wc >= 40 AND wc <= 100000
                AND (CASE WHEN wc = 0 THEN 0.0 ELSE sum_len::DOUBLE / wc END) >= 3.0
                AND (CASE WHEN wc = 0 THEN 0.0 ELSE sum_len::DOUBLE / wc END) <= 10.0
                AND (CASE WHEN wc = 0 THEN 0.0 ELSE (hash_cnt + ell_cnt)::DOUBLE / wc END) <= 0.1
                AND (CASE WHEN nl = 0 THEN 0.0 ELSE bullet_lines::DOUBLE / nl END) <= 0.9
                AND (CASE WHEN nl = 0 THEN 0.0 ELSE ell_lines::DOUBLE / nl END) <= 0.3
                AND (CASE WHEN wc = 0 THEN 0.0 ELSE alpha_words::DOUBLE / wc END) >= 0.8
                AND stop_hits >= 1),
            normed AS (
              SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
              FROM kept),
            toked AS (
              SELECT doc_id, len(norm)::BIGINT AS nlen,
                list_filter(string_split(norm, ' '), t -> len(t) > 0) AS ntoks
              FROM normed),
            grams AS (
              SELECT doc_id, nlen, unnest(
                CASE WHEN len(ntoks) <= 2 THEN [array_to_string(ntoks, ' ')]
                     ELSE list_transform(range(len(ntoks) - 1), i -> ntoks[i + 1] || ' ' || ntoks[i + 2]) END
              ) AS gram
              FROM toked WHERE len(ntoks) > 0),
            gram_counts AS (
              SELECT doc_id, gram, nlen, COUNT(*) AS cnt
              FROM grams GROUP BY doc_id, gram, nlen),
            top_gram AS (
              SELECT doc_id,
                CAST(cnt * len(gram) AS DOUBLE) / GREATEST(nlen, 1) AS f
              FROM (
                SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
                FROM gram_counts)
              WHERE rn = 1),
            surviving AS (
              SELECT k.lang, k.word_count
              FROM kept k LEFT JOIN top_gram t ON t.doc_id = k.doc_id
              WHERE COALESCE(t.f, 0.0) <= 0.1)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(word_count) AS BIGINT) AS total_words,
                   CAST(SUM(word_count) // COUNT(*) AS BIGINT) AS mean_words
            FROM surviving GROUP BY 1 ORDER BY 1"""))

  /** Shared constructed-fixture dataDir for the curation-plan queries:
    * the synthetic corpus has no exact duplicate texts, no newlines, no
    * near duplicates and no near-duplicate embeddings (measured — max
    * in-cell cosine 0.51 at sf0.01), so the dedup stages would be VACUOUS
    * on the raw tables (the r13 planted-signal rule: a gate that never
    * fires demonstrates nothing). One memoized write per (JVM, sf) builds:
    *   - `docs_lines` — the q81 fixture family: every document cut into
    *     three 8-token lines, plus a +1e6-id copy sharing its first two
    *     lines (line_dedup must keep shared lines only at min (id, pos));
    *   - `emb_dup` — embeddings ∪ ×2-scaled +1e6-id copies (cosine
    *     exactly 1, centroid similarity exactly equal — power-of-2 float
    *     scaling is IEEE-exact — so semantic_dedup resolves every pair by
    *     the id tie-break, the q85 fixture);
    *   - `docs_neardup` — the q29 fixture family: every document plus a
    *     last-word-dropped +1e6-id copy (shingle Jaccard (m-1)/m ≥ 0.8);
    *   - `docs_card` — the q404 family: every 4th document gets a verbatim
    *     +1e6-id copy, so the card's exact-dup metric fires.
    * Every construction is replayed arithmetically by the oracles. */
  private def curationFixtures(s: org.apache.spark.sql.SparkSession, dir: String): String =
    memo(s, dir, "curation") {
      val root = scratch("graft-curation")
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source").as("src"),
          split(trim(col("text")), "\\s+").as("toks"))
      def ln(from: Int, len: Int) = array_join(slice(col("toks"), from, len), " ")
      val orig = d.select(col("doc_id"), col("src"),
        concat_ws("\n", ln(1, 8), ln(9, 8), ln(17, 8)).as("text"))
      val copy = d.select((col("doc_id") + 1000000L).as("doc_id"), col("src"),
        concat_ws("\n", ln(1, 8), ln(9, 8), ln(17, 7)).as("text"))
      orig.unionByName(copy).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/docs_lines.parquet")
      val emb = t(s, dir, "embeddings").select(
        col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      emb.unionByName(emb.select(
        (col("vec_id") + 1000000L).as("vec_id"), col("label"),
        transform(col("embedding"), x => x * 2.0).as("embedding")))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/emb_dup.parquet")
      val docs = t(s, dir, "documents")
      val toks = split(trim(col("text")), "\\s+")
      docs.select(col("doc_id"), col("source"), col("text"))
        .unionByName(docs.select(
          (col("doc_id") + 1000000L).as("doc_id"), col("source"),
          array_join(slice(toks, lit(1), size(toks) - 1), " ").as("text")))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/docs_neardup.parquet")
      val base = docs.select(col("doc_id"), col("source"), col("text"), col("lang"))
      base.unionByName(
        base.filter(pmod(col("doc_id"), lit(4L)) === 0L)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
            col("text"), col("lang")))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/docs_card.parquet")
      root
    }

  /** Quality gate → PII redaction → token features → per-domain cap →
    * per-source stats, end-to-end from one JSON document (VERDICT r15
    * item 1: the curation ADT now reaches the operator families the Scala
    * API already had). The cap stage runs AFTER the quality filter, so
    * ranks are over survivors; its hash order is the engine's production
    * `Sampling.uniformHash` and the oracle replays the full XXH64 chain
    * ([[graft.tools.OracleSql.xxhash64Stages]]). Gopher thresholds match
    * q390's (one replay spelling, maintained once). All outputs are exact
    * integers. */
  val q397_curation_gate_cap = Q(
    "q397_curation_gate_cap",
    (s, dir) => {
      val document = """{
        "name": "curate_gate_cap",
        "input": "documents",
        "stages": [
          {"stage_type": "gopher_flags", "min_words": 40, "min_stopword_hits": 1},
          {"stage_type": "filter",
           "filters": [{"filter_type": "expression", "column": "keep",
                        "operator": "==", "value": 1}]},
          {"stage_type": "pii_redact"},
          {"stage_type": "text_features", "features": ["token_count"]},
          {"stage_type": "domain_cap", "group_by": ["source"], "cap": 15,
           "seed": "cap16"},
          {"stage_type": "aggregate", "group_by": ["source"],
           "aggregations": [
             {"fn": "count", "column": "doc_id", "alias": "n_docs"},
             {"fn": "sum", "column": "n_tokens", "alias": "total_tokens"},
             {"fn": "mean_int", "column": "n_tokens", "alias": "mean_tokens"}]},
          {"stage_type": "sort", "by": ["source"]}
        ]
      }"""
      val plan = graft.query.CurationJson.parse(document)
      new graft.query.CurationSubmitter(s, dir).submit(plan)
    },
    Some {
      val emailP = TextFunctions.piiPatterns(0)._1
      val phoneP = TextFunctions.piiPatterns(1)._1
      val hashed = graft.tools.OracleSql.xxhash64Stages(
        "SELECT doc_id, source, n_tokens, doc_id::VARCHAR || '|cap16' AS src FROM toked",
        "src", "h", pfx = "__c")
      s"""WITH arrays AS (
            SELECT doc_id, source, text,
              list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> len(t) > 0) AS toks,
              list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS lns
            FROM documents),
          counts AS (
            SELECT doc_id, source, text,
              len(toks)::BIGINT AS wc,
              len(lns)::BIGINT AS nl,
              length(regexp_replace(text, '\\s+', '', 'g'))::BIGINT AS sum_len,
              (length(text) - length(regexp_replace(text, '#', '', 'g')))::BIGINT AS hash_cnt,
              len(regexp_extract_all(text, '\\.\\.\\.'))::BIGINT AS ell_cnt,
              len(list_filter(lns, l -> starts_with(l, '- ') OR starts_with(l, '* ')
                                        OR starts_with(l, '•')))::BIGINT AS bullet_lines,
              len(list_filter(lns, l -> ends_with(l, '...')))::BIGINT AS ell_lines,
              len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))::BIGINT AS alpha_words,
              len(list_filter(['the','be','to','of','and','that','have','with'],
                  s -> list_contains(list_transform(toks, t -> lower(t)), s)))::BIGINT AS stop_hits
            FROM arrays),
          kept AS (
            SELECT doc_id, source, text FROM counts
            WHERE wc >= 40 AND wc <= 100000
              AND (CASE WHEN wc = 0 THEN 0.0 ELSE sum_len::DOUBLE / wc END) >= 3.0
              AND (CASE WHEN wc = 0 THEN 0.0 ELSE sum_len::DOUBLE / wc END) <= 10.0
              AND (CASE WHEN wc = 0 THEN 0.0 ELSE (hash_cnt + ell_cnt)::DOUBLE / wc END) <= 0.1
              AND (CASE WHEN nl = 0 THEN 0.0 ELSE bullet_lines::DOUBLE / nl END) <= 0.9
              AND (CASE WHEN nl = 0 THEN 0.0 ELSE ell_lines::DOUBLE / nl END) <= 0.3
              AND (CASE WHEN wc = 0 THEN 0.0 ELSE alpha_words::DOUBLE / wc END) >= 0.8
              AND stop_hits >= 1),
          red AS (
            SELECT doc_id, source,
              regexp_replace(regexp_replace(text, '$emailP', '<EMAIL>', 'g'),
                             '$phoneP', '<PHONE>', 'g') AS rtext
            FROM kept),
          toked AS (
            SELECT doc_id, source,
              len(list_filter(regexp_split_to_array(trim(rtext), '\\s+'),
                              t -> len(t) > 0))::BIGINT AS n_tokens
            FROM red),
          hashed AS ($hashed),
          ranked AS (
            SELECT source, n_tokens,
              ROW_NUMBER() OVER (PARTITION BY source ORDER BY
                (((h % 1000000000) + 1000000000) % 1000000000) / 1000000000.0,
                doc_id) AS rn
            FROM hashed)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 CAST(SUM(n_tokens) // COUNT(*) AS BIGINT) AS mean_tokens
          FROM ranked WHERE rn <= 15 GROUP BY 1 ORDER BY 1"""
    })

  /** Line dedup → exact-substring span dedup → GPT-style sequence packing,
    * one JSON plan over the constructed multi-line corpus (the q81 fixture
    * family — copies share their first two lines, so line_dedup strips
    * them to their distinct tail; then 8-token windows still duplicated
    * corpus-wide are cut; then per-source token streams pack into 64-token
    * training sequences). The oracle replays the construction and all
    * three stages arithmetically — pack needs only per-doc KEPT-token
    * counts, so the span replay never rebuilds strings. */
  val q398_curation_dedup_pack = Q(
    "q398_curation_dedup_pack",
    (s, dir) => {
      val fixDir = curationFixtures(s, dir)
      val document = """{
        "name": "curate_dedup_pack",
        "input": "docs_lines",
        "stages": [
          {"stage_type": "line_dedup"},
          {"stage_type": "span_dedup", "ngram": 8},
          {"stage_type": "token_pack", "group_by": ["src"], "seq_len": 64},
          {"stage_type": "sort", "by": ["src", "seq"]}
        ]
      }"""
      val plan = graft.query.CurationJson.parse(document)
      new graft.query.CurationSubmitter(s, fixDir).submit(plan)
    },
    Some("""WITH srcd AS (
              SELECT doc_id, source AS src,
                     regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents),
            corpus AS (
              SELECT doc_id, src,
                     coalesce(array_to_string(toks[1:8], ' '), '') || chr(10)
                       || coalesce(array_to_string(toks[9:16], ' '), '') || chr(10)
                       || coalesce(array_to_string(toks[17:24], ' '), '') AS text
              FROM srcd
              UNION ALL
              SELECT doc_id + 1000000, src,
                     coalesce(array_to_string(toks[1:8], ' '), '') || chr(10)
                       || coalesce(array_to_string(toks[9:16], ' '), '') || chr(10)
                       || coalesce(array_to_string(toks[17:23], ' '), '') AS text
              FROM srcd),
            ex AS (
              SELECT doc_id, src, i - 1 AS pos, parts[i] AS line
              FROM (SELECT doc_id, src, string_split(text, chr(10)) AS parts FROM corpus),
                   UNNEST(range(1, len(parts) + 1)) AS r(i)),
            keptlines AS (
              SELECT doc_id, src, pos, line FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
                FROM ex) WHERE rn = 1),
            rebuilt AS (
              SELECT doc_id, any_value(src) AS src,
                     string_agg(line, chr(10) ORDER BY pos) AS text
              FROM keptlines GROUP BY doc_id),
            -- span dedup over the line-dedup survivors: flag 8-token
            -- windows appearing more than once corpus-wide, count each
            -- doc's tokens covered by a flagged window; kept tokens =
            -- total - covered (pack needs counts only)
            toked AS (
              SELECT doc_id, src,
                list_filter(regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0) AS tk
              FROM rebuilt),
            wins AS (
              SELECT doc_id, i AS pos, array_to_string(tk[i+1:i+8], ' ') AS gram
              FROM toked, unnest(range(GREATEST(len(tk) - 7, 0))) AS u(i)),
            dups AS (SELECT gram FROM wins GROUP BY gram HAVING COUNT(*) > 1),
            covered AS (
              SELECT DISTINCT w.doc_id, w.pos + u.o AS cpos
              FROM wins w JOIN dups d ON w.gram = d.gram,
                   unnest(range(8)) AS u(o)),
            cleaned AS (
              SELECT t.doc_id, t.src,
                     (len(t.tk) - COALESCE(c.nc, 0))::BIGINT AS tok
              FROM toked t LEFT JOIN (
                SELECT doc_id, COUNT(*) AS nc FROM covered GROUP BY 1) c
                ON c.doc_id = t.doc_id),
            cum AS (
              SELECT src, tok,
                     SUM(tok) OVER (PARTITION BY src ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS c
              FROM cleaned),
            spans AS (
              SELECT src, tok, c - tok AS s,
                     CAST((c - tok) // 64 AS BIGINT) AS first_seq,
                     CAST(CASE WHEN tok > 0 THEN (c - 1) // 64
                               ELSE (c - tok) // 64 END AS BIGINT) AS last_seq
              FROM cum),
            fanout AS (
              SELECT src, tok, s, u.seq AS seq
              FROM spans, UNNEST(range(first_seq, last_seq + 1)) AS u(seq))
            SELECT src, CAST(seq AS BIGINT) AS seq,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(LEAST(s + tok, (seq + 1) * 64) - GREATEST(s, seq * 64)) AS BIGINT) AS n_tokens
            FROM fanout GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** SemDeDup stage → quota-balanced sample → per-label stats from one
    * JSON document over the duplicated-embeddings fixture: every ×2 copy
    * is cosine-1 collinear with its original and centroid-similarity-TIED
    * (power-of-2 scaling is IEEE-exact), so the id tie-break drops exactly
    * the copies; the quota stage then picks 20 per label among survivors
    * by the engine's hash order. sum(vec_id) pins WHICH ids were picked,
    * not just how many. k ∝ corpus (rows_per_centroid = 250 — the q85
    * scale contract). */
  val q399_curation_semantic_quota = Q(
    "q399_curation_semantic_quota",
    (s, dir) => {
      val fixDir = curationFixtures(s, dir)
      val document = """{
        "name": "curate_sem_quota",
        "input": "emb_dup",
        "stages": [
          {"stage_type": "semantic_dedup", "embedding_input": "emb_dup",
           "id_column": "vec_id", "threshold": 0.99, "rows_per_centroid": 250},
          {"stage_type": "quota_sample", "cell_columns": ["label"],
           "n": 200, "id_column": "vec_id", "seed": "q16"},
          {"stage_type": "aggregate", "group_by": ["label"],
           "aggregations": [
             {"fn": "count", "column": "vec_id", "alias": "n_vecs"},
             {"fn": "sum", "column": "vec_id", "alias": "id_sum"}]},
          {"stage_type": "sort", "by": ["label"]}
        ]
      }"""
      val plan = graft.query.CurationJson.parse(document)
      new graft.query.CurationSubmitter(s, fixDir).submit(plan)
        .select(col("label").cast("long").as("label"), col("n_vecs"), col("id_sum"))
    },
    Some {
      val hashed = graft.tools.OracleSql.xxhash64Stages(
        "SELECT vec_id, label, vec_id::VARCHAR || '|q16' AS src FROM kept",
        "src", "h", pfx = "__q")
      s"""WITH e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          corpus AS (
            SELECT vec_id, label, v FROM e
            UNION ALL
            SELECT vec_id + 1000000, label, list_transform(v, x -> x * 2.0) FROM e),
          cents AS (
            SELECT vec_id AS cid, v AS cv FROM corpus
            QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <=
              GREATEST(4, (SELECT COUNT(*) FROM corpus) // 250)),
          assigned AS (
            SELECT c.vec_id, c.label, c.v, cid, cv,
              ROW_NUMBER() OVER (
                PARTITION BY c.vec_id
                ORDER BY list_dot_product(c.v, cv) / sqrt(list_dot_product(cv, cv)) DESC,
                         cid DESC) AS rn
            FROM corpus c CROSS JOIN cents),
          withsim AS (
            SELECT vec_id, label, v, cid AS cluster,
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
                  (b.centroid_sim = a.centroid_sim AND b.vec_id < a.vec_id))),
          kept AS (
            SELECT w.vec_id, w.label
            FROM withsim w LEFT JOIN dropped d ON d.vec_id = w.vec_id
            WHERE d.vec_id IS NULL),
          cells AS (
            SELECT label, COUNT(*) AS pool,
                   ROW_NUMBER() OVER (ORDER BY label) AS ci,
                   (SELECT COUNT(DISTINCT label) FROM kept) AS c
            FROM kept GROUP BY label),
          quotas AS (
            SELECT label, 200 // c + (CASE WHEN ci <= 200 % c THEN 1 ELSE 0 END) AS q
            FROM cells),
          hashed AS ($hashed),
          ranked AS (
            SELECT k.vec_id, k.label,
              ROW_NUMBER() OVER (PARTITION BY k.label ORDER BY
                (((k.h % 1000000000) + 1000000000) % 1000000000) / 1000000000.0,
                k.vec_id) AS rn
            FROM hashed k)
          SELECT CAST(r.label AS BIGINT) AS label,
                 CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 CAST(SUM(r.vec_id) AS BIGINT) AS id_sum
          FROM ranked r JOIN quotas q ON q.label = r.label
          WHERE r.rn <= q.q GROUP BY 1 ORDER BY 1"""
    })

  /** Corpus data card per source ([[graft.text.DataCard.dataCard]] — the
    * datasheet summary a training-data release ships): exact counts,
    * integral means, lower-median rank pick, language-census top pick,
    * fingerprint dup rate. Every 5th document gets a verbatim +1e6-id copy
    * so exact_dup_ppm is non-vacuous (the corpus itself has zero exact
    * duplicates — measured, the r16 fixture lesson); the oracle counts
    * DISTINCT NORMALIZED TEXT where the engine counts distinct 64-bit
    * fingerprints (identical absent a 2⁻⁶⁴ collision, the q87 convention —
    * fixed-width keys shuffle instead of full texts at 100 TB). */
  val q404_data_card = Q(
    "q404_data_card",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"), col("source"))
      val corpus = d.unionByName(
        d.filter(pmod(col("doc_id"), lit(5L)) === 0L)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang"), col("source")))
      graft.text.DataCard.dataCard(corpus, "text", "lang", Seq("source"))
        .orderBy("source")
    },
    Some(s"""WITH corpus AS (
              SELECT doc_id, text, lang, source FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text, lang, source FROM documents
              WHERE doc_id % 5 = 0),
            m AS (
              SELECT source, lang,
                len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> len(t) > 0)) AS tok,
                ${graft.tools.OracleSql.normalizeSql("text")} AS norm
              FROM corpus),
            main AS (
              SELECT source, COUNT(*) AS n_docs, SUM(tok) AS total_tokens,
                     SUM(tok) // COUNT(*) AS mean_tokens,
                     COUNT(DISTINCT norm) AS dn, COUNT(DISTINCT lang) AS n_langs
              FROM m GROUP BY 1),
            cen AS (SELECT source, tok, COUNT(*) AS c FROM m GROUP BY 1, 2),
            p50 AS (
              SELECT source, MIN(tok) AS p50_tokens FROM (
                SELECT source, tok,
                       SUM(c) OVER (PARTITION BY source ORDER BY tok
                                    ROWS UNBOUNDED PRECEDING) AS cum,
                       SUM(c) OVER (PARTITION BY source) AS n
                FROM cen) WHERE cum * 2 >= n + 1 GROUP BY 1),
            lc AS (SELECT source, lang, COUNT(*) AS c FROM m GROUP BY 1, 2),
            top AS (
              SELECT source, lang AS top_lang, c FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY c DESC, lang ASC) AS rn FROM lc)
              WHERE rn = 1)
            SELECT mm.source, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(total_tokens AS BIGINT) AS total_tokens,
                   CAST(mean_tokens AS BIGINT) AS mean_tokens,
                   CAST(p50_tokens AS BIGINT) AS p50_tokens,
                   CAST(n_langs AS BIGINT) AS n_langs, top_lang,
                   CAST(t.c * 1000000 // n_docs AS BIGINT) AS top_lang_ppm,
                   CAST((n_docs - dn) * 1000000 // n_docs AS BIGINT) AS exact_dup_ppm
            FROM main mm JOIN p50 USING (source) JOIN top t USING (source)
            ORDER BY source"""))

  /** Registry backing the artifact-bridged curation plans — empty at
    * birth; the dedup stages register their shingle/bucket artifacts into
    * it on first resolve. */
  private def curationRegistry(s: org.apache.spark.sql.SparkSession, dir: String) =
    memo(s, dir, "curation-registry") {
      graft.registry.Registry(s, scratch("graft-registry-curation"))
    }

  /** The curation↔artifact bridge end-to-end (r16 verdict item 5): a
    * minhash near-dedup stage with `"artifacts": true` run TWICE through a
    * registry-configured submitter — the first run builds and registers
    * the hashed-shingle and LSH-bucket artifacts (provenance = input
    * content token + canonical plan prefix + stage params), the second
    * resolves them metadata-only (Round17OpsSpec pins ZERO Spark jobs for
    * the second plan construction) and pays only the output-sized
    * candidate join + verify. The returned frame is the SECOND run's —
    * values must be identical to the direct (artifact-less) stage, which
    * the exact-Jaccard + connected-components oracle checks end to end.
    * sum(doc_id) pins WHICH documents survived, not just how many. */
  val q405_curation_artifact_dedup = Q(
    "q405_curation_artifact_dedup",
    (s, dir) => {
      val fixDir = curationFixtures(s, dir)
      val reg = curationRegistry(s, dir)
      val document = """{
        "name": "artifact_dedup",
        "input": "docs_neardup",
        "stages": [
          {"stage_type": "minhash_dedup", "artifacts": true, "threshold": 0.8},
          {"stage_type": "aggregate", "group_by": ["source"],
           "aggregations": [
             {"fn": "count", "column": "doc_id", "alias": "n_docs"},
             {"fn": "sum", "column": "doc_id", "alias": "id_sum"}]},
          {"stage_type": "sort", "by": ["source"]}
        ]
      }"""
      val plan = graft.query.CurationJson.parse(document)
      val submitter = new graft.query.CurationSubmitter(s, fixDir, registry = Some(reg))
      // first submit builds + registers the artifacts (registerDataset is
      // an eager parquet write); its downstream stages stay lazy and are
      // never acted on — the harness acts on the SECOND run's frame only
      submitter.submit(plan)
      submitter.submit(plan) // resolves the artifacts metadata-only
    },
    Some(raw"""WITH RECURSIVE corpus AS (
              SELECT doc_id, source, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, source, array_to_string(toks[1:len(toks)-1], ' ')
              FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
                    FROM documents)),
            sh AS (
              ${shingleSetsSql("corpus")}),
            sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
            ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS ic
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT id1, id2
              FROM inter JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
              WHERE CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) >= 0.8),
            edges AS (
              SELECT id1 AS a, id2 AS b FROM pairs
              UNION SELECT id2, id1 FROM pairs),
            walk(id, reach) AS (
              SELECT a, a FROM (SELECT DISTINCT a FROM edges)
              UNION
              SELECT w.id, e.b FROM walk w JOIN edges e ON w.reach = e.a),
            losers AS (
              SELECT id FROM (SELECT id, MIN(reach) AS root FROM walk GROUP BY id)
              WHERE id <> root)
            SELECT c.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(c.doc_id) AS BIGINT) AS id_sum
            FROM corpus c LEFT JOIN losers l ON l.id = c.doc_id
            WHERE l.id IS NULL
            GROUP BY 1 ORDER BY 1"""))

  /** Data card as a curation-plan TERMINAL stage (r16 verdict item 6):
    * raw-filter → data_card from one JSON document over the verbatim-copy
    * fixture. The even-id filter runs BEFORE the card (copies carry
    * +1e6 — even offset, parity preserved — so copies of %4 originals
    * survive with their originals and the dup metric stays non-vacuous);
    * the oracle replays construction, filter and card arithmetically,
    * counting DISTINCT NORMALIZED TEXT where the engine counts distinct
    * 64-bit fingerprints (identical absent a 2⁻⁶⁴ collision). */
  val q406_curation_data_card = Q(
    "q406_curation_data_card",
    (s, dir) => {
      val fixDir = curationFixtures(s, dir)
      val document = """{
        "name": "card_plan",
        "input": "docs_card",
        "stages": [
          {"stage_type": "filter",
           "filters": [{"filter_type": "raw", "expression": "doc_id % 2 = 0"}]},
          {"stage_type": "data_card", "group_by": ["source"]},
          {"stage_type": "sort", "by": ["source"]}
        ]
      }"""
      val plan = graft.query.CurationJson.parse(document)
      new graft.query.CurationSubmitter(s, fixDir).submit(plan)
    },
    Some(s"""WITH corpus AS (
              SELECT doc_id, source, text, lang FROM documents
              UNION ALL
              SELECT doc_id + 1000000, source, text, lang FROM documents
              WHERE doc_id % 4 = 0),
            m AS (
              SELECT source, lang,
                len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> len(t) > 0)) AS tok,
                ${graft.tools.OracleSql.normalizeSql("text")} AS norm
              FROM corpus WHERE doc_id % 2 = 0),
            main AS (
              SELECT source, COUNT(*) AS n_docs, SUM(tok) AS total_tokens,
                     SUM(tok) // COUNT(*) AS mean_tokens,
                     COUNT(DISTINCT norm) AS dn, COUNT(DISTINCT lang) AS n_langs
              FROM m GROUP BY 1),
            cen AS (SELECT source, tok, COUNT(*) AS c FROM m GROUP BY 1, 2),
            p50 AS (
              SELECT source, MIN(tok) AS p50_tokens FROM (
                SELECT source, tok,
                       SUM(c) OVER (PARTITION BY source ORDER BY tok
                                    ROWS UNBOUNDED PRECEDING) AS cum,
                       SUM(c) OVER (PARTITION BY source) AS n
                FROM cen) WHERE cum * 2 >= n + 1 GROUP BY 1),
            lc AS (SELECT source, lang, COUNT(*) AS c FROM m GROUP BY 1, 2),
            top AS (
              SELECT source, lang AS top_lang, c FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY c DESC, lang ASC) AS rn FROM lc)
              WHERE rn = 1)
            SELECT mm.source, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(total_tokens AS BIGINT) AS total_tokens,
                   CAST(mean_tokens AS BIGINT) AS mean_tokens,
                   CAST(p50_tokens AS BIGINT) AS p50_tokens,
                   CAST(n_langs AS BIGINT) AS n_langs, top_lang,
                   CAST(t.c * 1000000 // n_docs AS BIGINT) AS top_lang_ppm,
                   CAST((n_docs - dn) * 1000000 // n_docs AS BIGINT) AS exact_dup_ppm
            FROM main mm JOIN p50 USING (source) JOIN top t USING (source)
            ORDER BY source"""))

  val all: Seq[Q] = Seq(
    q60_pipeline, q65_stratified_sample, q66_shard_pack, q67_quantile_filter, q68_weighted_mix,
    q91_split, q98_domain_cap, q102_temperature_mix, q135_pps_sample, q145_dsir_weights,
    q159_budget_fill, q177_temporal_split, q195_quota_sample, q199_epoch_plan, q212_filter_funnel,
    q217_rendezvous, q225_group_sample, q307_water_filling, q311_consistent_hashing,
    q383_curation_plan, q390_curation_quality_gate, q397_curation_gate_cap,
    q398_curation_dedup_pack, q399_curation_semantic_quota, q404_data_card,
    q405_curation_artifact_dedup, q406_curation_data_card)
}
