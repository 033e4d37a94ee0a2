package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDsl._

/** Catalog chunk q287+ — round-10 continuation: the recursive-CTE SQL
  * surface, probabilistic record linkage, link prediction, a one-pass
  * declarative data-quality suite, and further ML-pipeline primitives.
  * Registration + docs in [[graft.Queries]]. */
private[graft] object Catalog11 {

  /** Recursive CTE (`WITH RECURSIVE` — Spark 4's UnionLoop operator,
    * SPARK-24497): a 10-ary hierarchy is derived from part keys (parent(k)
    * = k DIV 10, roots k < 10 — keys are contiguous so every parent
    * exists) and walked TOP-DOWN, threading path-dependent state (owning
    * root, root→node path sum) that only the recursion carries. Output is
    * the per-depth census. Each recursion level is ONE distributed
    * hash-join of the previous frontier against the node table and the
    * level count is bounded by the hierarchy depth (log₁₀ n), so the plan
    * is `depth × (join + union)` — the same shape Delta/graph engines use
    * for bounded-depth reachability at 100 TB. Oracle: DuckDB's own
    * WITH RECURSIVE replays the walk independently. */
  val q287_recursive_cte = Q(
    "q287_recursive_cte",
    (s, dir) => {
      t(s, dir, "part").select(col("p_partkey").cast("long").as("k"))
        .createOrReplaceTempView("q287_nodes")
      s.sql("""
        WITH RECURSIVE walk(k, depth, root, path_sum) AS (
          SELECT k, CAST(0 AS BIGINT), k, k FROM q287_nodes WHERE k < 10
          UNION ALL
          SELECT n.k, w.depth + 1, w.root, w.path_sum + n.k
          FROM q287_nodes n JOIN walk w ON n.k DIV 10 = w.k
          WHERE n.k >= 10
        )
        SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(path_sum) AS BIGINT) AS sum_path,
               CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots
        FROM walk GROUP BY depth ORDER BY depth""")
    },
    Some("""WITH RECURSIVE nodes AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
            walk(k, depth, root, path_sum) AS (
              SELECT k, CAST(0 AS BIGINT), k, k FROM nodes WHERE k < 10
              UNION ALL
              SELECT n.k, w.depth + 1, w.root, w.path_sum + n.k
              FROM nodes n JOIN walk w ON n.k // 10 = w.k
              WHERE n.k >= 10)
            SELECT depth::BIGINT AS depth, COUNT(*)::BIGINT AS n_nodes,
                   SUM(path_sum)::BIGINT AS sum_path,
                   COUNT(DISTINCT root)::BIGINT AS n_roots
            FROM walk GROUP BY depth ORDER BY depth"""))

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

  /** Link prediction by the resource-allocation index
    * ([[graft.operators.Graph.predictLinks]] — Zhou/Lü/Zhang 2009, the
    * degree-discounted cousin of common-neighbors; the graph-ML
    * complement of the repo's descriptive graph operators): over the
    * co-purchase part graph (parts sharing ≥ 2 orders), the top-20
    * non-adjacent pairs by Σ ⌊10⁶/deg(z)⌋ over common neighbors z.
    * Wedge enumeration is bounded by the middle-degree cap (part of the
    * operator contract — a hub's per-pair RA contribution is < 10⁶/deg
    * while its expansion is deg²), runs on an explicit-N repartition, and
    * existing edges drop via one anti-join. Oracle replays wedges, the
    * ppm floor-division, and the (score desc, a, b) top-k in SQL. */
  val q289_link_prediction = Q(
    "q289_link_prediction",
    (s, dir) => {
      val os = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = os.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = os.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("pa").cast("long").as("src"), col("pb").cast("long").as("dst"))
      graft.operators.Graph.predictLinks(edges, maxMiddleDegree = 64, k = 20)
        .select(col("a").as("a"), col("b").as("b"),
          col("common_neighbors"), col("ra_ppm"))
    },
    Some("""WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            e0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
                   FROM os a JOIN os b
                     ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                   GROUP BY 1, 2),
            e AS (SELECT pa::BIGINT AS u, pb::BIGINT AS v FROM e0 WHERE w >= 2),
            sym AS (SELECT u AS z, v AS n FROM e UNION ALL SELECT v, u FROM e),
            deg AS (SELECT z, COUNT(*) AS d FROM sym GROUP BY 1),
            adj AS (SELECT sym.z, sym.n, deg.d FROM sym JOIN deg USING (z)
                    WHERE deg.d <= 64),
            wedges AS (
              SELECT s1.n AS a, s2.n AS b, s1.d
              FROM adj s1 JOIN adj s2 ON s1.z = s2.z AND s1.n < s2.n),
            scored AS (
              SELECT a, b, COUNT(*)::BIGINT AS common_neighbors,
                     SUM(1000000 // d)::BIGINT AS ra_ppm
              FROM wedges GROUP BY 1, 2),
            nonedge AS (
              SELECT scored.* FROM scored
              LEFT JOIN e ON e.u = scored.a AND e.v = scored.b
              WHERE e.u IS NULL)
            SELECT a, b, common_neighbors, ra_ppm
            FROM nonedge ORDER BY ra_ppm DESC, a, b LIMIT 20"""))

  /** Declarative data-quality suite compiled to ONE pass
    * ([[graft.operators.QualityChecks.verify]] — the Deequ/dbt-tests
    * shape): eight named checks over lineitem — completeness, composite-
    * key uniqueness, numeric bounds, domain containment, regex compliance,
    * a row-count floor, and a deliberately FAILING freshness gate — all
    * folded into a single aggregation job (map-side conditional counters;
    * the one distinct aggregate plans as one Expand over the same single
    * scan). Verdicts are exact-integer cross-multiplications of rational
    * thresholds; ratios are integral-div ppm. Oracle computes the same
    * eight (satisfied, total) pairs in one SQL aggregate. */
  val q290_quality_suite = Q(
    "q290_quality_suite",
    (s, dir) => {
      import graft.operators.QualityChecks._
      val li = t(s, dir, "lineitem")
      verify(li, Seq(
        Completeness("c1_completeness_shipdate", "l_shipdate", 1L, 1L),
        Uniqueness("c2_unique_line_key",
          col("l_orderkey") * 8L + col("l_linenumber"), 1L, 1L),
        Satisfies("c3_quantity_bounds",
          col("l_quantity").between(1d, 50d), 1L, 1L),
        Satisfies("c4_discount_bounds",
          col("l_discount").between(0d, 0.1d), 1L, 1L),
        Satisfies("c5_returnflag_domain",
          col("l_returnflag").isin("A", "N", "R"), 1L, 1L),
        Satisfies("c6_status_pattern",
          col("l_linestatus").rlike("^[OF]$"), 1L, 1L),
        MinSize("c7_min_rows", 1000L),
        Satisfies("c8_ship_before_1998",
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"), 9L, 10L)))
        .orderBy("check")
    },
    Some("""WITH m AS (SELECT
              COUNT(l_shipdate)::BIGINT AS s1, COUNT(*)::BIGINT AS t,
              COUNT(DISTINCT l_orderkey * 8 + l_linenumber)::BIGINT AS s2,
              SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END)::BIGINT AS s3,
              SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END)::BIGINT AS s4,
              SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END)::BIGINT AS s5,
              SUM(CASE WHEN regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END)::BIGINT AS s6,
              SUM(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END)::BIGINT AS s8
            FROM lineitem)
            SELECT 'c1_completeness_shipdate' AS check, s1 AS satisfied, t AS total,
                   (s1 * 1000000) // t AS ratio_ppm, s1 * 1 >= 1 * t AS passed FROM m
            UNION ALL SELECT 'c2_unique_line_key', s2, t, (s2 * 1000000) // t, s2 * 1 >= 1 * t FROM m
            UNION ALL SELECT 'c3_quantity_bounds', s3, t, (s3 * 1000000) // t, s3 * 1 >= 1 * t FROM m
            UNION ALL SELECT 'c4_discount_bounds', s4, t, (s4 * 1000000) // t, s4 * 1 >= 1 * t FROM m
            UNION ALL SELECT 'c5_returnflag_domain', s5, t, (s5 * 1000000) // t, s5 * 1 >= 1 * t FROM m
            UNION ALL SELECT 'c6_status_pattern', s6, t, (s6 * 1000000) // t, s6 * 1 >= 1 * t FROM m
            UNION ALL SELECT 'c7_min_rows', t, 1, t * 1000000, t * 1 >= 1000 FROM m
            UNION ALL SELECT 'c8_ship_before_1998', s8, t, (s8 * 1000000) // t, s8 * 10 >= 9 * t FROM m
            ORDER BY 1"""))

  /** t-closeness audit ([[graft.operators.Privacy.tClosenessReport]] —
    * Li/Li/Venkatasubramanian ICDE 2007, the third rung of the privacy
    * release ladder after k-anonymity (q126-family) and l-diversity: a
    * large, diverse group still leaks when its sensitive DISTRIBUTION
    * differs from the table's): per (event_type, user cohort) group, the
    * exact-integer 1-D EMD between the group's bucketed value
    * distribution and the global one, in ppm, gated at t = 30000 ppm.
    * Oracle replays the dense bucket spine, both cumulative sums, and the
    * common-denominator integer EMD in SQL window functions. */
  val q291_t_closeness = Q(
    "q291_t_closeness",
    (s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"),
        (col("user_id") % 20).as("cohort"),
        least(floor(col("value") / 50d), lit(7L)).cast("long").as("bk"))
      graft.operators.Privacy
        .tClosenessReport(ev, Seq("event_type", "cohort"), col("bk"), tPpm = 30000L)
        .orderBy("event_type", "cohort")
    },
    Some("""WITH b AS (
              SELECT event_type, user_id % 20 AS cohort,
                     LEAST(CAST(FLOOR(value / 50) AS BIGINT), 7) AS bk
              FROM events),
            counts AS (
              SELECT event_type, cohort, bk, COUNT(*)::BIGINT AS c
              FROM b GROUP BY 1, 2, 3),
            tot AS (SELECT SUM(c)::BIGINT AS N, COUNT(DISTINCT bk)::BIGINT AS m FROM counts),
            gcum AS (
              SELECT bk, SUM(g) OVER (ORDER BY bk)::BIGINT AS cum_all
              FROM (SELECT bk, SUM(c) AS g FROM counts GROUP BY 1)),
            groups AS (
              SELECT event_type, cohort, SUM(c)::BIGINT AS n_g
              FROM counts GROUP BY 1, 2),
            spine AS (
              SELECT gr.event_type, gr.cohort, gr.n_g, gc.bk, gc.cum_all,
                     SUM(COALESCE(c.c, 0)) OVER (
                       PARTITION BY gr.event_type, gr.cohort ORDER BY gc.bk) AS cum_grp
              FROM groups gr CROSS JOIN gcum gc
              LEFT JOIN counts c ON c.event_type = gr.event_type
                AND c.cohort = gr.cohort AND c.bk = gc.bk),
            emd AS (
              SELECT event_type, cohort, n_g,
                     SUM(ABS(cum_grp * (SELECT N FROM tot) - cum_all * n_g))::BIGINT AS num
              FROM spine GROUP BY 1, 2, 3)
            SELECT event_type, cohort::BIGINT AS cohort, n_g AS n,
                   ((num * 1000000) // (((SELECT m FROM tot) - 1) * n_g * (SELECT N FROM tot)))::BIGINT AS emd_ppm,
                   ((num * 1000000) // (((SELECT m FROM tot) - 1) * n_g * (SELECT N FROM tot))) > 30000 AS breached
            FROM emd ORDER BY 1, 2"""))

  /** Leakage-safe out-of-fold target encoding
    * ([[graft.ml.Features.targetEncodeOOF]] — the K-fold mean-target
    * encoder of the Kaggle/CatBoost lineage, the SUPERVISED feature
    * complement of the leakage-safe splits (q120/q246): l_partkey encoded
    * by mean l_quantity computed WITHOUT the row's own xxhash64 fold, so
    * no row's target feeds its own feature; categories with no
    * out-of-fold evidence fall back to the global out-of-fold prior.
    * Encodings are exact rationals (integral-div ppm); the output pins
    * per-fold row counts, fallback counts, and the enc_ppm checksum.
    * Oracle replays the fold hash (xxhash64 stages), both aggregate
    * levels, and the fallback arithmetic. */
  val q292_target_encoding = Q(
    "q292_target_encoding",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_partkey").as("cat"),
        col("l_quantity").cast("long").as("tgt"),
        pmod(xxhash64(col("l_orderkey") * 8 + col("l_linenumber")), lit(5L)).as("fold"))
      graft.ml.Features.targetEncodeOOF(li, "cat", "tgt", "fold")
        .groupBy("fold")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(when(col("enc_fallback"), 1L).otherwise(0L)).cast("long").as("n_fallback"),
          sum(col("enc_ppm")).cast("long").as("sum_enc_ppm"),
          sum(col("enc_den")).cast("long").as("sum_enc_den"))
        .orderBy("fold")
    },
    Some {
      import graft.tools.OracleSql._
      val hashed = xxhash64LongStages(
        """SELECT l_partkey AS cat, CAST(l_quantity AS BIGINT) AS tgt,
                  l_orderkey * 8 + l_linenumber AS rk FROM lineitem""",
        "rk", "h", pfx = "__f")
      s"""WITH hashed AS ($hashed),
            rows0 AS (SELECT cat, tgt, ((h % 5) + 5) % 5 AS fold FROM hashed),
            partials AS (SELECT cat, fold, SUM(tgt)::BIGINT AS sf, COUNT(*)::BIGINT AS nf
                         FROM rows0 GROUP BY 1, 2),
            cats AS (SELECT cat, SUM(sf) AS sc, SUM(nf) AS nc FROM partials GROUP BY 1),
            folds AS (SELECT fold, SUM(sf) AS sfold, SUM(nf) AS nfold FROM partials GROUP BY 1),
            tot AS (SELECT SUM(sf) AS sall, SUM(nf) AS nall FROM partials),
            enc AS (SELECT p.cat, p.fold, (c.sc - p.sf) AS oof_s, (c.nc - p.nf) AS oof_n
                    FROM partials p JOIN cats c USING (cat)),
            scored AS (
              SELECT r.fold, e.oof_n = 0 AS fb,
                     CASE WHEN e.oof_n = 0 THEN (SELECT sall FROM tot) - f.sfold
                          ELSE e.oof_s END AS num,
                     CASE WHEN e.oof_n = 0 THEN (SELECT nall FROM tot) - f.nfold
                          ELSE e.oof_n END AS den
              FROM rows0 r
              JOIN enc e ON e.cat = r.cat AND e.fold = r.fold
              JOIN folds f ON f.fold = r.fold)
            SELECT fold::BIGINT AS fold, COUNT(*)::BIGINT AS n_rows,
                   SUM(CASE WHEN fb THEN 1 ELSE 0 END)::BIGINT AS n_fallback,
                   SUM((num * 1000000) // den)::BIGINT AS sum_enc_ppm,
                   SUM(den)::BIGINT AS sum_enc_den
            FROM scored GROUP BY 1 ORDER BY 1"""
    })

  /** Exact-integer autocorrelation function
    * ([[graft.operators.Drift.autocorrelation]] — the periodicity
    * detector beside the seasonal-naive forecast (q-family) and CUSUM:
    * per-event-type daily counts densified on the global day spine, ACF
    * at lags 1..7 with the n-scaled centered series so numerator and
    * denominator stay BIGINT-exact; the ppm ratio divides in
    * DECIMAL(38,0) (|num|·10⁶ can pass 2⁶³) with SIGN-MAGNITUDE
    * semantics — both engines truncate toward zero (measured r12), and
    * sign·(|num| div den) agrees under either truncating or flooring
    * semantics, so it stays the spelling. All lags ride one window
    * pass. Oracle replays spine, leads, and HUGEINT division. */
  val q293_acf = Q(
    "q293_acf",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .withColumn("day", expr("CAST(ts AS LONG) div 86400"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x"))
      graft.operators.Drift
        .autocorrelation(daily, Seq("event_type"), "day", "x", maxLag = 7)
        .orderBy("event_type", "lag")
    },
    Some {
      val leads = (1 to 7).map(l => s"LEAD(dv, $l) OVER w AS d$l").mkString(", ")
      val lagCase = (1 to 7).map(l => s"WHEN $l THEN d$l").mkString(" ")
      s"""WITH counts AS (
            SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                   COUNT(*)::BIGINT AS x
            FROM events GROUP BY 1, 2),
          bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM counts),
          spine AS (
            SELECT k.event_type, u.day, COALESCE(c.x, 0)::BIGINT AS x
            FROM (SELECT DISTINCT event_type FROM counts) k
            CROSS JOIN (SELECT unnest(range((SELECT mn FROM bounds),
                                            (SELECT mx FROM bounds) + 1)) AS day) u
            LEFT JOIN counts c ON c.event_type = k.event_type AND c.day = u.day),
          stats AS (SELECT event_type, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS s
                    FROM spine GROUP BY 1),
          dev AS (SELECT sp.event_type, sp.day, (st.n * sp.x - st.s)::BIGINT AS dv, st.n
                  FROM spine sp JOIN stats st USING (event_type)),
          led AS (SELECT event_type, day, dv, $leads
                  FROM dev WINDOW w AS (PARTITION BY event_type ORDER BY day)),
          den AS (SELECT event_type, SUM(dv * dv)::BIGINT AS den, MAX(n)::BIGINT AS n_days
                  FROM dev GROUP BY 1),
          nums AS (
            SELECT event_type, u.lag,
                   SUM(dv * (CASE u.lag $lagCase END))::BIGINT AS num
            FROM led CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7]) AS lag) u
            WHERE (CASE u.lag $lagCase END) IS NOT NULL
            GROUP BY 1, 2)
          SELECT n.event_type, n.lag::BIGINT AS lag, d.n_days,
                 CASE WHEN d.den = 0 THEN NULL
                      ELSE (CASE WHEN n.num < 0 THEN -1 ELSE 1 END
                            * ((abs(n.num)::HUGEINT * 1000000) // d.den))::BIGINT
                 END AS acf_ppm
          FROM nums n JOIN den d USING (event_type) ORDER BY 1, 2"""
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

  /** Stream-stream LEFT OUTER interval join
    * ([[graft.streaming.StreamOps.intervalJoin]] with joinType left_outer
    * — the semantics the inner form (q154) cannot express: an unmatched
    * left row is a RESULT, but only once the global watermark proves no
    * future right row can join it). Sparse left (10% of events) joins
    * dense right (50%) within ±10 minutes; the file stream is fed in
    * three event-time-MONOTONE chunks (explicit mtimes, 1 file/trigger)
    * so watermark progression is deterministic: matched pairs all emit,
    * unmatched lefts emit null-padded iff ts + 10min < final watermark =
    * min(max left ts, max right ts) − 1min delay — the remainder die in
    * state, and the oracle replays that cutoff arithmetic exactly. */
  val q295_stream_outer_join = Q(
    "q295_stream_outer_join",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id").cast("long").as("user_id"), col("event_id"), col("ts"))
        .withColumn("day", expr("CAST(ts AS LONG) div 86400"))
      val minDay = ev.agg(min(col("day"))).head().getLong(0)
      val inDir = java.nio.file.Files.createTempDirectory("graft-q295-in")
      (0 to 2).foreach { c =>
        val stage = java.nio.file.Files.createTempDirectory(s"graft-q295-c$c").toString
        ev.filter(expr(s"(day - $minDay) div 10") === c)
          .drop("day").coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get.toPath
        val target = inDir.resolve(f"chunk$c%03d.parquet")
        java.nio.file.Files.move(part, target)
        java.nio.file.Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + c * 60000L))
      }
      val schema = s.read.parquet(inDir.toString).schema
      val stream = normalizeTs(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString))
      val left = stream.filter(col("event_id") % 10 === 0).drop("event_id")
      val right = stream.filter(col("event_id") % 2 === 1).drop("event_id")
      val joined = graft.streaming.StreamOps.intervalJoin(
        left, right, Seq("user_id"), "ts", within = "10 minutes",
        watermark = "1 minute", joinType = "left_outer")
      val qname = s"graft_q295_${streamRuns.incrementAndGet()}"
      val q = scopedStreamStart(s)(
        joined.writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start())
      q.awaitTermination()
      s.table(qname)
        .groupBy(col("user_id"))
        .agg(sum(when(col("ts_r").isNotNull, 1L).otherwise(0L)).cast("long").as("n_pairs"),
          sum(when(col("ts_r").isNull, 1L).otherwise(0L)).cast("long").as("n_nulls"))
        .orderBy("user_id")
    },
    Some("""WITH ev AS (
              SELECT user_id, event_id, ts FROM events WHERE user_id < 50),
            l AS (SELECT user_id, ts FROM ev WHERE event_id % 10 = 0),
            r AS (SELECT user_id, ts FROM ev WHERE event_id % 2 = 1),
            wm AS (SELECT LEAST((SELECT MAX(ts) FROM l), (SELECT MAX(ts) FROM r))
                          - INTERVAL 1 MINUTE AS w),
            pairs AS (
              SELECT l.user_id, COUNT(*)::BIGINT AS n
              FROM l JOIN r ON l.user_id = r.user_id
                AND r.ts BETWEEN l.ts - INTERVAL 10 MINUTE AND l.ts + INTERVAL 10 MINUTE
              GROUP BY 1),
            nulls AS (
              SELECT l.user_id, COUNT(*)::BIGINT AS n
              FROM l
              WHERE NOT EXISTS (
                  SELECT 1 FROM r WHERE r.user_id = l.user_id
                    AND r.ts BETWEEN l.ts - INTERVAL 10 MINUTE AND l.ts + INTERVAL 10 MINUTE)
                AND l.ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
              GROUP BY 1),
            users AS (SELECT DISTINCT user_id FROM (
              SELECT user_id FROM pairs UNION ALL SELECT user_id FROM nulls))
            SELECT u.user_id::BIGINT AS user_id,
                   COALESCE(p.n, 0)::BIGINT AS n_pairs,
                   COALESCE(x.n, 0)::BIGINT AS n_nulls
            FROM users u
            LEFT JOIN pairs p ON p.user_id = u.user_id
            LEFT JOIN nulls x ON x.user_id = u.user_id
            ORDER BY 1"""))

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

  /** Hidden partitioning — Iceberg partition TRANSFORMS
    * ([[graft.sources.TxnLog.pruneByPartitionRange]], completing the
    * partition story beside equality pruning (q262 DPP, q275 evolution):
    * the table is partitioned by days(ts) — a transform of a data column
    * — and the query filters on RAW ts; the planner derives the day range
    * from the predicate bounds and prunes by tag. The user never names
    * the partition column. A pre-evolution unpartitioned file CANNOT be
    * range-pruned and conservatively stays planned (its rows pass through
    * the residual filter — pruning skips provably-mismatched files,
    * never data). All 30 day files land in ONE partitionBy write. Oracle
    * derives file counts and sums from day arithmetic. */
  val q297_hidden_partitioning = Q(
    "q297_hidden_partitioning",
    (s, dir) => {
      import s.implicits._
      import graft.sources.TxnLog
      val root = java.nio.file.Files.createTempDirectory("graft-q297").toString
      val logDir = s"$root/_log"
      val ev = t(s, dir, "events").select(
        expr("CAST(ts AS LONG)").as("tsec"),
        col("user_id").cast("long").as("user_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      val minDay = ev.agg(min(expr("tsec div 86400"))).head().getLong(0)
      // pre-evolution unpartitioned file: day minDay+12 rows, shifted ids, 7× cents
      val old = TxnLog.writeDataFile(
        ev.filter(expr("tsec div 86400") === minDay + 12)
          .select(col("tsec"), (col("user_id") + 1000000L).as("user_id"),
            (col("cents") * 7).as("cents")), s"$root/old")
      TxnLog.commit(logDir, 0, adds = Seq(old), removes = Nil)
      // the days(ts) layout: ONE partitionBy write, tag = transform value
      val stage = s"$root/staged"
      ev.withColumn("day", expr("tsec div 86400"))
        .repartition(col("day"))
        .write.partitionBy("day").mode("overwrite").parquet(stage)
      val parts = new java.io.File(stage).listFiles().filter(_.getName.startsWith("day="))
        .flatMap { d =>
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => f.getAbsolutePath -> d.getName)
        }.toMap
      TxnLog.commit(logDir, 1, adds = parts.keys.toSeq.sorted, removes = Nil,
        partitions = parts)
      // raw-ts predicate; the planner derives the day range (the transform)
      val t1 = (minDay + 10) * 86400L
      val t2 = (minDay + 15) * 86400L - 1
      val planned = TxnLog.pruneByPartitionRange(logDir, 1, "day",
        t1 / 86400L, t2 / 86400L)
      val agg = s.read.parquet(planned: _*)
        .filter(col("tsec").between(t1, t2)) // residual on the RAW column
        .agg(count(lit(1)).cast("long"), sum(col("cents")).cast("long")).head()
      Seq((TxnLog.liveFiles(logDir, 1).size.toLong, planned.size.toLong,
        agg.getLong(0), agg.getLong(1)))
        .toDF("n_live_files", "n_planned", "n_rows", "sum_cents")
    },
    Some("""WITH ev AS (
              SELECT epoch_us(ts) // 86400000000 AS day,
                     CAST(FLOOR(value * 100) AS BIGINT) AS cents
              FROM events),
            b AS (SELECT MIN(day) AS dmin, COUNT(DISTINCT day) AS ndays FROM ev),
            inr AS (SELECT * FROM ev
                    WHERE day BETWEEN (SELECT dmin FROM b) + 10 AND (SELECT dmin FROM b) + 14)
            SELECT ((SELECT ndays FROM b) + 1)::BIGINT AS n_live_files,
                   6::BIGINT AS n_planned,
                   ((SELECT COUNT(*) FROM inr)
                    + (SELECT COUNT(*) FROM ev WHERE day = (SELECT dmin FROM b) + 12))::BIGINT AS n_rows,
                   ((SELECT SUM(cents) FROM inr)
                    + (SELECT 7 * SUM(cents) FROM ev WHERE day = (SELECT dmin FROM b) + 12))::BIGINT AS sum_cents"""))

  /** Clustering-depth layout metric
    * ([[graft.operators.Zorder.clusteringDepth]] — the layout-QUALITY
    * measure behind OPTIMIZE decisions, completing the layout family
    * beside ZORDER itself (q270) and the skipping triad: depth(x) = files
    * whose [min,max] cover point x = files a point query must open).
    * Two manifests over the same part keys — range-clustered 8 files vs
    * modulo-scattered 8 files — profiled by the exact boundary sweep
    * (+1 at lo, −1 at hi+1, RANGE-frame cumulative so same-boundary
    * opens/closes fold together): clustered scores depth 1, scattered ≈ 8.
    * The sweep runs on the metadata-sized manifest, never the data.
    * Oracle replays both sweeps. */
  val q298_clustering_depth = Q(
    "q298_clustering_depth",
    (s, dir) => {
      val keys = t(s, dir, "part").select(col("p_partkey").cast("long").as("k"))
      val n = keys.agg(max(col("k"))).head().getLong(0)
      def manifest(bucket: org.apache.spark.sql.Column) = keys
        .groupBy(bucket.as("f"))
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      val clustered = manifest(expr(s"((k - 1) * 8) div $n"))
      val scattered = manifest(pmod(col("k"), lit(8L)))
      graft.operators.Zorder.clusteringDepth(clustered, "lo", "hi")
        .select(lit("1_clustered").as("layout"), col("n_files"), col("max_depth"),
          col("avg_depth_ppm"))
        .unionByName(graft.operators.Zorder.clusteringDepth(scattered, "lo", "hi")
          .select(lit("2_scattered").as("layout"), col("n_files"), col("max_depth"),
            col("avg_depth_ppm")))
        .orderBy("layout")
    },
    Some {
      def sweep(bucketExpr: String, tag: String): String =
        s"""SELECT '$tag' AS layout, n_files, max_depth, avg_depth_ppm FROM (
            WITH m AS (
              SELECT $bucketExpr AS f, MIN(k) AS lo, MAX(k) AS hi
              FROM p GROUP BY 1),
            ev AS (SELECT lo AS b, 1 AS d FROM m UNION ALL SELECT hi + 1, -1 FROM m),
            st AS (SELECT b, MAX(dep) AS aft FROM (
                     SELECT b, SUM(d) OVER (ORDER BY b) AS dep FROM ev) GROUP BY b),
            seg AS (SELECT b, aft, LEAD(b) OVER (ORDER BY b) AS nb FROM st)
            SELECT (SELECT COUNT(*) FROM m)::BIGINT AS n_files,
                   MAX(aft)::BIGINT AS max_depth,
                   ((SUM(aft * (nb - b)) * 1000000) // (MAX(nb) - MIN(b)))::BIGINT AS avg_depth_ppm
            FROM seg WHERE nb IS NOT NULL)"""
      s"""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
            nn AS (SELECT MAX(k) AS n FROM p)
          ${sweep("((k - 1) * 8) // (SELECT n FROM nn)", "1_clustered")}
          UNION ALL
          ${sweep("k % 8", "2_scattered")}
          ORDER BY layout"""
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

  /** Discrete-Laplace noisy count release
    * ([[graft.operators.Privacy.noisyCounts]] — the ε = ln 2 two-sided-
    * geometric mechanism of DP count releases, completing the privacy
    * family's OUTPUT side beside the input-side gates (k-anon, l-div,
    * t-closeness) and local-DP randomized response): noise magnitude =
    * trailing zeros of a 32-bit xxhash64 slice (exactly geometric p = ½),
    * sign from the next hash bit — derandomized for end-to-end
    * testability, CSPRNG-swappable in production. Sign bit extracted as
    * pmod-then-div (pmod first keeps every operand non-negative, where
    * truncating and flooring division coincide — both engines truncate,
    * measured r12). Oracle replays the hash and both bit extractions. */
  val q300_dp_counts = Q(
    "q300_dp_counts",
    (s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"), (col("user_id") % 10).as("cohort"))
      graft.operators.Privacy.noisyCounts(ev, Seq("event_type", "cohort"), "q300")
        .select(col("event_type"), col("cohort").cast("long").as("cohort"),
          col("n"), col("noise"), col("noisy_n"))
        .orderBy("event_type", "cohort")
    },
    Some {
      import graft.tools.OracleSql._
      val hashed = xxhash64Stages(
        """SELECT event_type, cohort, n,
                  event_type || chr(1) || CAST(cohort AS VARCHAR) || chr(1) || 'q300' AS gk
           FROM (SELECT event_type, user_id % 10 AS cohort, COUNT(*)::BIGINT AS n
                 FROM events GROUP BY 1, 2)""",
        "gk", "h", pfx = "__x")
      s"""WITH hashed AS ($hashed),
            bits AS (
              SELECT event_type, cohort, n,
                     ((h % 4294967296) + 4294967296) % 4294967296 AS h32,
                     (((h % 8589934592) + 8589934592) % 8589934592) // 4294967296 AS b
              FROM hashed),
            fin AS (
              SELECT event_type, cohort, n,
                     (1 - 2 * b) * (CASE WHEN h32 = 0 THEN 32
                                         ELSE length(bin(h32 & (-h32))) - 1 END) AS noise
              FROM bits)
          SELECT event_type, cohort::BIGINT AS cohort, n,
                 noise::BIGINT AS noise, (n + noise)::BIGINT AS noisy_n
          FROM fin ORDER BY 1, 2"""
    })

  /** Degree assortativity ([[graft.operators.Graph.assortativity]] —
    * Newman PRL 2002, the one-number mixing-pattern health metric beside
    * the repo's structural graph ops): exact-integer Pearson of endpoint
    * degrees over the symmetrized co-purchase edge list, the one-row
    * moment products lifted to DECIMAL(38,0)/HUGEINT (m·Σxy passes 2⁶³ on
    * 10⁹-edge graphs), sign-magnitude ppm division. Oracle replays
    * degrees, moments, and the division. */
  val q301_assortativity = Q(
    "q301_assortativity",
    (s, dir) => {
      val os = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = os.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = os.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("pa").cast("long").as("src"), col("pb").cast("long").as("dst"))
      graft.operators.Graph.assortativity(edges)
    },
    Some("""WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            e0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
                   FROM os a JOIN os b
                     ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                   GROUP BY 1, 2),
            e AS (SELECT pa::BIGINT AS u, pb::BIGINT AS v FROM e0 WHERE w >= 2),
            sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
            deg AS (SELECT a AS node, COUNT(*)::BIGINT AS d FROM sym GROUP BY 1),
            ends AS (SELECT da.d AS dx, db.d AS dy
                     FROM sym JOIN deg da ON da.node = sym.a
                     JOIN deg db ON db.node = sym.b),
            mom AS (SELECT COUNT(*)::HUGEINT AS m, SUM(dx * dy)::HUGEINT AS sxy,
                           SUM(dx)::HUGEINT AS sx, SUM(dx * dx)::HUGEINT AS sxx
                    FROM ends),
            nd AS (SELECT m, m * sxy - sx * sx AS num, m * sxx - sx * sx AS den FROM mom)
            SELECT (m / 2)::BIGINT AS n_edges,
                   CASE WHEN den = 0 THEN NULL
                        ELSE (CASE WHEN num < 0 THEN -1 ELSE 1 END
                              * ((abs(num) * 1000000) // den))::BIGINT
                   END AS r_ppm
            FROM nd"""))

  /** Benford first-digit audit ([[graft.operators.Drift.benfordProfile]]
    * — the fabricated-data / unit-mixup detector for scale-spanning
    * positive quantities): order totals in integer cents profiled against
    * the log₁₀(1 + 1/d) expectation (fixed ppm constants both engines
    * share; the digit extracted from the BIGINT's decimal rendering,
    * never a double's engine-dependent string form); per-digit deviations
    * exact-integer. Oracle replays digit extraction and the deviation
    * arithmetic. */
  val q302_benford = Q(
    "q302_benford",
    (s, dir) => {
      graft.operators.Drift
        .benfordProfile(t(s, dir, "orders"), floor(col("o_totalprice") * 100))
        .orderBy("digit")
    },
    Some("""WITH x AS (
              SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c FROM orders),
            tagged AS (
              SELECT CASE WHEN c > 0
                          THEN CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
                          ELSE 0 END AS digit
              FROM x),
            counts AS (SELECT digit, COUNT(*)::BIGINT AS n FROM tagged GROUP BY 1),
            bf(digit, benford_ppm) AS (VALUES
              (1, 301029), (2, 176091), (3, 124938), (4, 96910), (5, 79181),
              (6, 66946), (7, 57991), (8, 51152), (9, 45757)),
            tot AS (SELECT SUM(n)::BIGINT AS N FROM counts WHERE digit > 0)
            SELECT bf.digit::BIGINT AS digit, COALESCE(c.n, 0)::BIGINT AS n,
                   ((COALESCE(c.n, 0) * 1000000) // (SELECT N FROM tot))::BIGINT AS obs_ppm,
                   bf.benford_ppm::BIGINT AS benford_ppm,
                   abs(COALESCE(c.n, 0) * 1000000 - bf.benford_ppm * (SELECT N FROM tot))::BIGINT AS dev_num
            FROM bf LEFT JOIN counts c ON c.digit = bf.digit
            UNION ALL
            SELECT 0, n, 0, 0, 0 FROM counts WHERE digit = 0
            ORDER BY digit"""))

  /** Multi-source BFS eccentricity ([[graft.operators.Graph.multiSourceBfs]]
    * — exact shortest-path distances, the graph-DISTANCE primitive the
    * structural operators (components, cores, ranks) don't provide;
    * eccentricities lower-bound the diameter): from the 4 smallest nodes
    * of the co-purchase graph, per-seed eccentricity / reached count /
    * distance mass to horizon 20. All seeds' frontiers advance in the
    * same per-round jobs; every iterate checkpointed. Oracle: DuckDB
    * recursive CTE with UNION dedup and the same horizon, min-distance
    * folded after — both sides agree on the reached set by construction. */
  val q303_bfs_eccentricity = Q(
    "q303_bfs_eccentricity",
    (s, dir) => {
      val os = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = os.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = os.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("pa").cast("long").as("src"), col("pb").cast("long").as("dst"))
        .localCheckpoint(true) // seeds scan + BFS rounds
      val seeds = edges.select(col("src").as("n")).union(edges.select(col("dst").as("n")))
        .distinct().orderBy("n").limit(4)
        .collect().map(_.getLong(0)).toSeq
      graft.operators.Graph.multiSourceBfs(edges, seeds, horizon = 20)
        .groupBy("seed")
        .agg(max(col("dist")).cast("long").as("ecc"),
          count(lit(1)).cast("long").as("n_reached"),
          sum(col("dist")).cast("long").as("sum_dist"))
        .orderBy("seed")
    },
    Some("""WITH RECURSIVE os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            e0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
                   FROM os a JOIN os b
                     ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                   GROUP BY 1, 2),
            e AS (SELECT pa::BIGINT AS u, pb::BIGINT AS v FROM e0 WHERE w >= 2),
            sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
            seeds AS (SELECT DISTINCT a AS seed FROM sym ORDER BY 1 LIMIT 4),
            bfs(seed, node, d) AS (
              SELECT seed, seed, 0 FROM seeds
              UNION
              SELECT b.seed, s.b, b.d + 1
              FROM bfs b JOIN sym s ON s.a = b.node WHERE b.d < 20),
            md AS (SELECT seed, node, MIN(d) AS dist FROM bfs GROUP BY 1, 2)
            SELECT seed::BIGINT AS seed, MAX(dist)::BIGINT AS ecc,
                   COUNT(*)::BIGINT AS n_reached, SUM(dist)::BIGINT AS sum_dist
            FROM md GROUP BY 1 ORDER BY 1"""))

  /** k-truss decomposition ([[graft.operators.Graph.kTruss]] — the
    * cohesion rung above k-core: an edge must sit in ≥ k−2 triangles, and
    * peeling one edge can starve its neighbors, so the cascade is
    * genuinely iterative). The graph is CONSTRUCTED from part keys: 6-
    * cliques (every edge in 4 triangles — survive the 4-truss), a
    * triangle STAIRCASE whose rung edges have support 1 and whose spine
    * then cascades to support 0 (fully peels over two rounds), and a
    * support-0 cycle (peels instantly). Expected truss = exactly the
    * clique edges; the oracle derives that set independently from the
    * same key arithmetic — a leaked staircase edge or lost clique edge
    * changes every census number. */
  val q304_ktruss = Q(
    "q304_ktruss",
    (s, dir) => {
      import s.implicits._
      val leaders = t(s, dir, "part").select(col("p_partkey").cast("long").as("k"))
        .filter(col("k") % 50 === 0)
      val pairIdx = (for { i <- 0 to 5; j <- i + 1 to 5 } yield (i.toLong, j.toLong))
        .toDF("i", "j")
      val cliques = leaders.crossJoin(broadcast(pairIdx))
        .select((col("k") * 100 + col("i")).as("src"), (col("k") * 100 + col("j")).as("dst"))
      val sb = 1000000000L
      val cb = 2000000000L
      val extra = ((0L to 8L).map(i => (sb + i, sb + i + 1)) ++
        (0L to 7L).map(i => (sb + i, sb + i + 2)) ++
        (0L until 12L).map(i => (cb + i, cb + (i + 1) % 12))).toDF("src", "dst")
      val truss = graft.operators.Graph.kTruss(cliques.unionByName(extra), k = 4)
        .localCheckpoint(true) // census + node count
      val nodes = truss.select(col("u").as("n")).union(truss.select(col("v").as("n")))
        .distinct().agg(count(lit(1)).cast("long").as("n_nodes"))
      truss.agg(count(lit(1)).cast("long").as("n_edges"),
        sum(col("u")).cast("long").as("sum_u"), sum(col("v")).cast("long").as("sum_v"))
        .crossJoin(nodes)
        .select(col("n_edges"), col("n_nodes"), col("sum_u"), col("sum_v"))
    },
    Some("""WITH leaders AS (
              SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey % 50 = 0),
            pairs AS (
              SELECT a.i, b.j
              FROM (SELECT unnest(range(0, 6)) AS i) a,
                   (SELECT unnest(range(0, 6)) AS j) b
              WHERE a.i < b.j),
            ce AS (SELECT k * 100 + i AS u, k * 100 + j AS v FROM leaders, pairs)
            SELECT (SELECT COUNT(*) FROM ce)::BIGINT AS n_edges,
                   (SELECT COUNT(*) FROM (SELECT DISTINCT u AS n FROM ce
                                          UNION SELECT DISTINCT v FROM ce))::BIGINT AS n_nodes,
                   (SELECT SUM(u) FROM ce)::BIGINT AS sum_u,
                   (SELECT SUM(v) FROM ce)::BIGINT AS sum_v"""))

  /** Format-preserving pseudonymization
    * ([[graft.operators.Privacy.feistelPermute]] — a keyed Feistel
    * PERMUTATION of the 62-bit space, the INVERTIBLE counterpart of the
    * one-way sha2 pseudonyms: key-holder re-identification, cross-system
    * token joins, zero collisions by construction): customer keys
    * tokenized, bijection evidenced by distinct_ids = distinct_tokens in
    * BOTH engines' independent computations; halves split by SHIFTS (a
    * double quotient loses bits past 2⁵³). Oracle replays all four
    * Feistel rounds through the xxhash64 long stages. The sum checksum
    * rides token mod 10⁹ — raw 62-bit tokens would overflow a BIGINT
    * sum under ANSI. */
  val q305_feistel_tokens = Q(
    "q305_feistel_tokens",
    (s, dir) => {
      val ids = t(s, dir, "orders").select(col("o_custkey").cast("long").as("id"))
      val toks = ids.withColumn("token",
        graft.operators.Privacy.feistelPermute(col("id"), "q305"))
      toks.agg(
        count(lit(1)).cast("long").as("n"),
        countDistinct(col("id")).cast("long").as("distinct_ids"),
        countDistinct(col("token")).cast("long").as("distinct_tokens"),
        sum(pmod(col("token"), lit(1000000000L))).cast("long").as("sum_token_mod"),
        min(col("token")).cast("long").as("min_token"),
        max(col("token")).cast("long").as("max_token"))
    },
    Some {
      import graft.tools.OracleSql._
      val keyMod = "q305".foldLeft(0L)((a, c) => (a * 31 + c) % 1024L)
      val half = 2147483648L
      var rel = s"""SELECT CAST(o_custkey AS BIGINT) AS id,
                           CAST(o_custkey AS BIGINT) >> 31 AS l,
                           CAST(o_custkey AS BIGINT) & ${half - 1} AS r
                    FROM orders"""
      for (i <- 0 until 4) {
        val withInp =
          s"SELECT *, r + ${(i + 1).toLong * half + keyMod * 68719476736L} AS inp$i FROM ($rel)"
        val hashed = xxhash64LongStages(withInp, s"inp$i", s"h$i", pfx = s"__f$i")
        rel = s"""SELECT id, r AS l, xor(l, ((h$i % $half) + $half) % $half) AS r
                  FROM ($hashed)"""
      }
      s"""WITH toks AS (SELECT id, (l << 31) + r AS token FROM ($rel))
          SELECT COUNT(*)::BIGINT AS n,
                 COUNT(DISTINCT id)::BIGINT AS distinct_ids,
                 COUNT(DISTINCT token)::BIGINT AS distinct_tokens,
                 SUM(token % 1000000000)::BIGINT AS sum_token_mod,
                 MIN(token)::BIGINT AS min_token,
                 MAX(token)::BIGINT AS max_token
          FROM toks"""
    })

  /** Bitemporal as-of query — VALID time (q131's SCD2 intervals) crossed
    * with TRANSACTION time (the txn log's versions): "what did the system
    * BELIEVE at version S about the state valid at time V". An SCD2 rate
    * table lives in a txn-log table; v1 applies a forward-dated rate
    * change (close + open intervals for even keys), v2 applies a
    * RETROACTIVE correction (rewrites the historical interval for keys
    * %10). The probe grid shows the two time axes are independent:
    * (S=1, V=5) still returns the uncorrected history while (S=2, V=5)
    * returns the corrected one, and both return the same V=15 state.
    * Snapshot isolation comes from time travel, interval resolution from
    * the SCD2 filter — no new operator, the COMPOSITION is the object.
    * Oracle derives every probe from the construction arithmetic. */
  val q306_bitemporal = Q(
    "q306_bitemporal",
    (s, dir) => {
      import s.implicits._
      import graft.sources.TxnLog
      val root = java.nio.file.Files.createTempDirectory("graft-q306").toString
      val logDir = s"$root/_log"
      val base = t(s, dir, "part").select(col("p_partkey").cast("long").as("k"))
      // v0: one open interval per key, rate 2k, valid [0, ∞)
      val v0 = TxnLog.writeDataFile(base.select(col("k"),
        lit(0L).as("valid_from"), lit(Long.MaxValue).as("valid_to"),
        (col("k") * 2).as("rate")), s"$root/v0")
      TxnLog.commit(logDir, 0, adds = Seq(v0), removes = Nil)
      // v1: forward-dated change for even keys — close at day 10, open 3k
      val evens = base.filter(col("k") % 2 === 0)
      val v1closed = TxnLog.writeDataFile(evens.select(col("k"),
        lit(0L).as("valid_from"), lit(10L).as("valid_to"), (col("k") * 2).as("rate")), s"$root/v1c")
      val v1open = TxnLog.writeDataFile(evens.select(col("k"),
        lit(10L).as("valid_from"), lit(Long.MaxValue).as("valid_to"),
        (col("k") * 3).as("rate")), s"$root/v1o")
      val v1odd = TxnLog.writeDataFile(base.filter(col("k") % 2 =!= 0).select(col("k"),
        lit(0L).as("valid_from"), lit(Long.MaxValue).as("valid_to"),
        (col("k") * 2).as("rate")), s"$root/v1odd")
      TxnLog.commit(logDir, 1, adds = Seq(v1closed, v1open, v1odd), removes = Seq(v0))
      // v2: retroactive correction for k % 10 == 0 — the HISTORICAL
      // interval's rate was wrong (2k → 2k + 1); CoW-rewrite the closed file
      val v2closed = TxnLog.writeDataFile(evens.select(col("k"),
        lit(0L).as("valid_from"), lit(10L).as("valid_to"),
        when(col("k") % 10 === 0, col("k") * 2 + 1).otherwise(col("k") * 2).as("rate")),
        s"$root/v2c")
      TxnLog.commit(logDir, 2, adds = Seq(v2closed), removes = Seq(v1closed))
      val probes = Seq((0L, 5L), (1L, 5L), (1L, 15L), (2L, 5L), (2L, 15L))
      probes.map { case (sv, vv) =>
        val snap = TxnLog.readAsOf(s, logDir, sv)
          .filter(col("valid_from") <= vv && col("valid_to") > vv)
        snap.agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("rate")).cast("long").as("sum_rate"))
          .select(lit(sv).as("sys_version"), lit(vv).as("valid_at"),
            col("n_rows"), col("sum_rate"))
      }.reduce(_ unionByName _).orderBy("sys_version", "valid_at")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
            tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(k)::BIGINT AS sk FROM p),
            ev AS (SELECT COUNT(*)::BIGINT AS n, SUM(k)::BIGINT AS sk FROM p WHERE k % 2 = 0),
            ten AS (SELECT COUNT(*)::BIGINT AS n FROM p WHERE k % 10 = 0)
            SELECT 0::BIGINT AS sys_version, 5::BIGINT AS valid_at,
                   (SELECT n FROM tot) AS n_rows, (SELECT 2 * sk FROM tot) AS sum_rate
            UNION ALL SELECT 1, 5, (SELECT n FROM tot), (SELECT 2 * sk FROM tot)
            UNION ALL SELECT 1, 15, (SELECT n FROM tot),
              (SELECT 2 * sk FROM tot) + (SELECT sk FROM ev)
            UNION ALL SELECT 2, 5, (SELECT n FROM tot),
              (SELECT 2 * sk FROM tot) + (SELECT n FROM ten)
            UNION ALL SELECT 2, 15, (SELECT n FROM tot),
              (SELECT 2 * sk FROM tot) + (SELECT sk FROM ev)
            ORDER BY sys_version, valid_at"""))

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

  /** SQL-text PIVOT surface (the q09 reshape operator reachable from pure
    * SQL — Spark 4's PIVOT clause): per-nation account balances pivoted
    * into one column per market segment, straight from a `spark.sql`
    * string. The oracle spells the same table as conditional aggregation
    * (engine-neutral; DuckDB's own PIVOT has different syntax — the
    * VALUES, not the dialect, are the contract). */
  val q308_sql_pivot = Q(
    "q308_sql_pivot",
    (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q308_customer")
      s.sql("""
        SELECT * FROM (
          SELECT c_nationkey, c_mktsegment, c_acctbal FROM q308_customer)
        PIVOT (ROUND(SUM(c_acctbal), 2)
               FOR c_mktsegment IN ('AUTOMOBILE' AS automobile, 'BUILDING' AS building,
                 'FURNITURE' AS furniture, 'HOUSEHOLD' AS household, 'MACHINERY' AS machinery))
        ORDER BY c_nationkey""")
        .select(col("c_nationkey").cast("long").as("c_nationkey"),
          col("automobile"), col("building"), col("furniture"),
          col("household"), col("machinery"))
    },
    Some("""SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
                   ROUND(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_acctbal END), 2) AS automobile,
                   ROUND(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END), 2) AS building,
                   ROUND(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN c_acctbal END), 2) AS furniture,
                   ROUND(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN c_acctbal END), 2) AS household,
                   ROUND(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal END), 2) AS machinery
            FROM customer GROUP BY 1 ORDER BY 1"""))

  /** Functional-dependency discovery
    * ([[graft.operators.TableStats.fdViolations]] — the schema-profiling
    * step of data-integration/normalization audits, beside the per-column
    * profile (q126) and the quality suite (q290)): all 12 ordered column
    * pairs of orders audited in ONE pass — per-row k·(k−1) pair explosion
    * immediately partially aggregated (the Gram-matrix no-join
    * discipline); "o_orderkey → everything" falls out as the key, the
    * rest report exact violating-group counts. NULL rhs counts as a
    * value. Oracle replays the pair explosion and both aggregate
    * levels. */
  val q309_fd_discovery = Q(
    "q309_fd_discovery",
    (s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      graft.operators.TableStats.fdViolations(t(s, dir, "orders"), cols)
        .orderBy("fd")
    },
    Some {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      val union = (for { a <- cols; b <- cols if a != b } yield
        s"""SELECT '$a->$b' AS fd, CAST($a AS VARCHAR) AS lhs,
                   CAST($b AS VARCHAR) AS rhs FROM orders""")
        .mkString(" UNION ALL ")
      s"""WITH p AS ($union),
            g AS (
              SELECT fd, lhs,
                     COUNT(DISTINCT rhs)
                       + CASE WHEN SUM(CASE WHEN rhs IS NULL THEN 1 ELSE 0 END) > 0
                              THEN 1 ELSE 0 END AS ndv
              FROM p GROUP BY 1, 2)
          SELECT fd, COUNT(*)::BIGINT AS n_groups,
                 SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
                 SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) = 0 AS holds
          FROM g GROUP BY 1 ORDER BY fd"""
    })

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

  val all: Seq[Q] =
    Seq(q287_recursive_cte, q288_record_linkage, q289_link_prediction, q290_quality_suite,
      q291_t_closeness, q292_target_encoding, q293_acf, q294_gram_matrix,
      q295_stream_outer_join, q296_proximity_search, q297_hidden_partitioning,
      q298_clustering_depth, q299_golden_record, q300_dp_counts,
      q301_assortativity, q302_benford, q303_bfs_eccentricity, q304_ktruss,
      q305_feistel_tokens, q306_bitemporal, q307_water_filling, q308_sql_pivot,
      q309_fd_discovery, q310_qgram_edit_join, q311_consistent_hashing,
      q312_encoding_plan)

  /** Dictionary-encoding storage planner
    * ([[graft.operators.TableStats.encodingPlan]] — the per-column layout
    * decision every columnar writer makes, beside the skipping triad and
    * the clustering-depth metric: exact plain bytes vs dictionary bytes
    * (distinct values + byte-rounded ⌈log₂ ndv⌉-bit codes), with the
    * verdict). Low-cardinality orders columns recommend dictionaries, the
    * stringified customer key does not. Oracle replays both cost models
    * in exact integers. */
  lazy val q312_encoding_plan = Q(
    "q312_encoding_plan",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("custkey_str", col("o_custkey").cast("string"))
      graft.operators.TableStats
        .encodingPlan(o, Seq("o_orderstatus", "o_orderpriority", "custkey_str"))
        .orderBy("col_name")
    },
    Some {
      def one(c: String, src: String): String =
        s"""SELECT '$c' AS col_name, SUM(cnt)::BIGINT AS n, COUNT(*)::BIGINT AS ndv,
                   SUM(cnt * len)::BIGINT AS plain_bytes,
                   (SUM(len) + (SUM(cnt) * (CASE WHEN COUNT(*) <= 1 THEN 0
                        ELSE length(bin(COUNT(*) - 1)) END) + 7) // 8)::BIGINT AS dict_bytes,
                   (SUM(len) + (SUM(cnt) * (CASE WHEN COUNT(*) <= 1 THEN 0
                        ELSE length(bin(COUNT(*) - 1)) END) + 7) // 8)
                     < SUM(cnt * len) AS use_dictionary
            FROM (SELECT v, COUNT(*) AS cnt, COALESCE(strlen(v), 0) AS len
                  FROM (SELECT $src AS v FROM orders) GROUP BY v)"""
      s"""${one("custkey_str", "CAST(o_custkey AS VARCHAR)")}
          UNION ALL ${one("o_orderpriority", "o_orderpriority")}
          UNION ALL ${one("o_orderstatus", "o_orderstatus")}
          ORDER BY col_name"""
    })
}
