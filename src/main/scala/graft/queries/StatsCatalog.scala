package graft

import org.apache.spark.sql.functions._

import graft.QueryDsl._

/** Catalog family, statistics sub-family: inference with exact integer
  * numerators — rank tests, correlation, regression, bootstrap and
  * permutation CIs, A/B readouts, rater agreement, survival comparison,
  * and model/ranking evaluation metrics. COVERAGE.md statistics rows.
  * Registered in [[graft.Queries]]. */
private[graft] object StatsCatalog {

  /** A/B experiment readout with an integer-exact decision statistic:
    * users hash-split into arms, per-event-type 2×2 contingency tables,
    * and significance decided by the cross-multiplied Pearson χ² test
    * `25·N·(ad−bc)² ≥ 96·r₁·r₂·c₁·c₂` (χ²₁ ≥ 3.84 as the exact rational
    * 96/25) — no libm, no float flap; the same integer-decision move as
    * the TVD/CUSUM monitors. BIGINT products are safe through ~sf0.3
    * (documented bound: N·(ad−bc)² < 2⁶³/25); beyond that the statistic
    * needs the decimal path. */
  val q210_ab_chisq = Q(
    "q210_ab_chisq",
    (s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(max(col("value") > 75.0).as("conv"))
        .withColumn("arm", pmod(xxhash64(col("user_id")), lit(2)))
      perUser
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("arm") === 0 && col("conv"), 1L).otherwise(0L)).as("a"),
          sum(when(col("arm") === 0 && !col("conv"), 1L).otherwise(0L)).as("b"),
          sum(when(col("arm") === 1 && col("conv"), 1L).otherwise(0L)).as("c"),
          sum(when(col("arm") === 1 && !col("conv"), 1L).otherwise(0L)).as("d"))
        .withColumn("lhs",
          lit(25L) * (col("a") + col("b") + col("c") + col("d")) *
            (col("a") * col("d") - col("b") * col("c")) *
            (col("a") * col("d") - col("b") * col("c")))
        .withColumn("rhs",
          lit(96L) * (col("a") + col("b")) * (col("c") + col("d")) *
            (col("a") + col("c")) * (col("b") + col("d")))
        .withColumn("significant",
          when(col("rhs") > 0 && col("lhs") >= col("rhs"), 1L).otherwise(0L))
        .select(col("event_type"),
          col("a").cast("long").as("a"), col("b").cast("long").as("b"),
          col("c").cast("long").as("c"), col("d").cast("long").as("d"),
          col("significant"))
        .orderBy("event_type")
    },
    Some {
      import graft.tools.OracleSql._
      val pu = "SELECT event_type, user_id, " +
        "MAX(CASE WHEN value > 75.0 THEN 1 ELSE 0 END) AS conv " +
        "FROM events GROUP BY 1, 2"
      val hashed = xxhash64LongStages(pu, "user_id", "h")
      s"""WITH hashed AS ($hashed),
            armd AS (SELECT event_type, conv, ((h % 2) + 2) % 2 AS arm FROM hashed),
            ct AS (SELECT event_type,
                     CAST(SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
                     CAST(SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
                     CAST(SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                     CAST(SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
                   FROM armd GROUP BY 1)
          SELECT event_type, a, b, c, d,
                 CAST(CASE WHEN 96 * (a + b) * (c + d) * (a + c) * (b + d) > 0
                            AND 25 * (a + b + c + d) * (a * d - b * c) * (a * d - b * c)
                                >= 96 * (a + b) * (c + d) * (a + c) * (b + d)
                           THEN 1 ELSE 0 END AS BIGINT) AS significant
          FROM ct ORDER BY 1"""
    })

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

  // ------------------------------------------------------------------
  // Rank-statistics family (operators/RankStats.scala) — distribution
  // tests with EXACT integer numerators via the distinct-value census
  // (rank2 = doubled tie-averaged ranks), never a global per-row sort.
  // ------------------------------------------------------------------

  /** Two-sample Kolmogorov–Smirnov drift test
    * ([[graft.operators.RankStats.ksTest]] — D carried as the exact
    * integer max|cumA·nB − cumB·nA| over the merged distinct-value
    * census; the ECDF gap peaks at a data point, so the census sweep IS
    * the test; d_ppm via positive integer division). click-vs-purchase
    * value distributions per user cohort. */
  val q321_ks_test = Q(
    "q321_ks_test",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("cohort", pmod(col("user_id"), lit(4L)))
      graft.operators.RankStats
        .ksTest(ev, "value", "event_type", "click", "purchase", Seq("cohort"))
        .orderBy("cohort")
    },
    Some("""WITH e AS (
              SELECT user_id % 4 AS cohort, value, event_type
              FROM events WHERE event_type IN ('click', 'purchase')),
            cen AS (
              SELECT cohort, value,
                     SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
                     SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
              FROM e GROUP BY 1, 2),
            sw AS (
              SELECT cohort,
                     SUM(ca) OVER (PARTITION BY cohort ORDER BY value) AS cuma,
                     SUM(cb) OVER (PARTITION BY cohort ORDER BY value) AS cumb,
                     SUM(ca) OVER (PARTITION BY cohort) AS na,
                     SUM(cb) OVER (PARTITION BY cohort) AS nb
              FROM cen)
            SELECT cohort::BIGINT AS cohort, MAX(na)::BIGINT AS n_a,
                   MAX(nb)::BIGINT AS n_b,
                   MAX(ABS(cuma * nb - cumb * na))::BIGINT AS d_num,
                   ((MAX(ABS(cuma * nb - cumb * na)) * 1000000)
                      // (MAX(na) * MAX(nb)))::BIGINT AS d_ppm
            FROM sw GROUP BY 1 ORDER BY 1"""))

  /** Mann–Whitney U ([[graft.operators.RankStats.mannWhitney]] — U doubled
    * so tie-averaged ranks stay integer: u2 = 2ΣR_A − n_a(n_a+1) over the
    * pooled rank2 census; u_ppm = the common-language effect size
    * P(A>B)+½P(A=B)). view-vs-signup values per cohort. */
  val q322_mann_whitney = Q(
    "q322_mann_whitney",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("cohort", pmod(col("user_id"), lit(4L)))
      graft.operators.RankStats
        .mannWhitney(ev, "value", "event_type", "view", "signup", Seq("cohort"))
        .orderBy("cohort")
    },
    Some("""WITH e AS (
              SELECT user_id % 4 AS cohort, value, event_type
              FROM events WHERE event_type IN ('view', 'signup')),
            cen AS (
              SELECT cohort, value, COUNT(*) AS cnt,
                     SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca
              FROM e GROUP BY 1, 2),
            rk AS (
              SELECT cohort, cnt, ca,
                     2 * COALESCE(SUM(cnt) OVER (PARTITION BY cohort ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS rank2
              FROM cen),
            ag AS (
              SELECT cohort, SUM(ca) AS na, SUM(cnt - ca) AS nb,
                     SUM(ca * rank2) AS sr
              FROM rk GROUP BY 1)
            SELECT cohort::BIGINT AS cohort, na::BIGINT AS n_a, nb::BIGINT AS n_b,
                   (sr - na * (na + 1))::BIGINT AS u2,
                   (((sr - na * (na + 1)) * 1000000) // (2 * na * nb))::BIGINT AS u_ppm
            FROM ag WHERE na > 0 AND nb > 0 ORDER BY 1"""))

  /** Spearman rank correlation ([[graft.operators.RankStats.spearman]] —
    * tie-averaged Σd² form with d2sum4 = Σ(rank2_x − rank2_y)² exact;
    * rho_ppm = (2D − 3·d2sum4)·10⁶ / 2D, D = n(n²−1), in sign-magnitude
    * DECIMAL/HUGEINT division; plus the r13 tie completion rho_b_ppm =
    * full Pearson-on-ranks from exact BIGINT moment sums and
    * identically-spelled IEEE SQRT). quantity-vs-price monotone
    * association per (returnflag, ship month). */
  val q323_spearman = Q(
    "q323_spearman",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag"),
        month(col("l_shipdate")).cast("long").as("mo"),
        col("l_quantity").as("x"),
        col("l_extendedprice").as("y"))
      graft.operators.RankStats.spearman(li, "x", "y", Seq("l_returnflag", "mo"))
        .orderBy("l_returnflag", "mo")
    },
    Some("""WITH li AS (
              SELECT l_returnflag, CAST(month(l_shipdate) AS BIGINT) AS mo,
                     l_quantity AS x, l_extendedprice AS y
              FROM lineitem),
            cx AS (SELECT l_returnflag, mo, x, COUNT(*) AS cnt FROM li GROUP BY 1, 2, 3),
            rx AS (
              SELECT l_returnflag, mo, x,
                     2 * COALESCE(SUM(cnt) OVER (PARTITION BY l_returnflag, mo ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS r2x
              FROM cx),
            cy AS (SELECT l_returnflag, mo, y, COUNT(*) AS cnt FROM li GROUP BY 1, 2, 3),
            ry AS (
              SELECT l_returnflag, mo, y,
                     2 * COALESCE(SUM(cnt) OVER (PARTITION BY l_returnflag, mo ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS r2y
              FROM cy),
            j AS (
              SELECT li.l_returnflag, li.mo, rx.r2x, ry.r2y
              FROM li
              JOIN rx ON li.l_returnflag = rx.l_returnflag AND li.mo = rx.mo AND li.x = rx.x
              JOIN ry ON li.l_returnflag = ry.l_returnflag AND li.mo = ry.mo AND li.y = ry.y),
            ag AS (
              SELECT l_returnflag, mo, COUNT(*) AS n,
                     SUM((r2x - r2y) * (r2x - r2y)) AS d2sum4,
                     CAST(SUM(r2x * r2y) AS BIGINT) AS sxy,
                     CAST(SUM(r2x * r2x) AS BIGINT) AS sxx,
                     CAST(SUM(r2y * r2y) AS BIGINT) AS syy
              FROM j GROUP BY 1, 2),
            mm AS (
              SELECT l_returnflag, mo, n, d2sum4,
                     n * sxy - (n * (n + 1)) * (n * (n + 1)) AS pnum,
                     n * sxx - (n * (n + 1)) * (n * (n + 1)) AS dx,
                     n * syy - (n * (n + 1)) * (n * (n + 1)) AS dy
              FROM ag)
            SELECT l_returnflag, mo, n::BIGINT AS n, d2sum4::BIGINT AS d2sum4,
                   ((CASE WHEN 2 * n * (n * n - 1) - 3 * d2sum4 < 0 THEN -1 ELSE 1 END)
                    * ((ABS(2 * n * (n * n - 1) - 3 * d2sum4)::HUGEINT * 1000000)
                       // (2 * n * (n * n - 1))))::BIGINT AS rho_ppm,
                   CASE WHEN dx = 0 OR dy = 0 THEN NULL
                        ELSE CAST(FLOOR((CAST(pnum AS DOUBLE) * 1000000.0)
                          / (SQRT(CAST(dx AS DOUBLE)) * SQRT(CAST(dy AS DOUBLE))))
                          AS BIGINT) END AS rho_b_ppm
            FROM mm WHERE n >= 2 ORDER BY 1, 2"""))

  /** ROC-AUC as the Mann–Whitney effect size
    * ([[graft.operators.RankStats.rocAuc]] — AUC = P(s⁺>s⁻)+½P(=) exactly,
    * so the rank2 census gives the exact integer u2 and auc_ppm without a
    * single float; the model-eval operator every filter-training loop
    * needs). Planted discrete classifier over lineitem: label from
    * partkey residue, score = 7·label + hash noise in 0..12 → overlapping
    * but separable, per returnflag. */
  val q324_roc_auc = Q(
    "q324_roc_auc",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag"),
        (pmod(col("l_partkey"), lit(5L)) === 0L).as("lab"),
        (when(pmod(col("l_partkey"), lit(5L)) === 0L, 7L).otherwise(0L) +
          pmod(col("l_orderkey") * 48271L, lit(13L))).as("score"))
      graft.operators.RankStats.rocAuc(li, "score", "lab", Seq("l_returnflag"))
        .orderBy("l_returnflag")
    },
    Some("""WITH d AS (
              SELECT l_returnflag,
                     (l_partkey % 5 = 0) AS lab,
                     (CASE WHEN l_partkey % 5 = 0 THEN 7 ELSE 0 END)
                       + (l_orderkey * 48271) % 13 AS score
              FROM lineitem),
            cen AS (
              SELECT l_returnflag, score, COUNT(*) AS cnt,
                     SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS ca
              FROM d GROUP BY 1, 2),
            rk AS (
              SELECT l_returnflag, cnt, ca,
                     2 * COALESCE(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS rank2
              FROM cen),
            ag AS (
              SELECT l_returnflag, SUM(ca) AS np, SUM(cnt - ca) AS nn,
                     SUM(ca * rank2) AS sr
              FROM rk GROUP BY 1)
            SELECT l_returnflag, np::BIGINT AS n_pos, nn::BIGINT AS n_neg,
                   (sr - np * (np + 1))::BIGINT AS u2,
                   (((sr - np * (np + 1)) * 1000000) // (2 * np * nn))::BIGINT AS auc_ppm
            FROM ag WHERE np > 0 AND nn > 0 ORDER BY 1"""))

  /** Exact multiple regression via distributed normal equations
    * ([[graft.ml.Regress.olsFitPpm]] — ONE map-side-combinable pass builds
    * XᵀX/Xᵀy (metadata-sized), the solve is exact BigInt Cramer on the
    * driver, coefficients emerge as floor-divided ppm rationals —
    * bit-identical under any partitioning, no gradient iterations, no
    * float order-dependence; HUGEINT replays the determinants in SQL).
    * Planted linear target y = 3x₁ − 2x₂ + 7 + uniform-ish hash noise:
    * the fit recovers the plan within the noise floor, r2_ppm included. */
  val q325_normal_equations = Q(
    "q325_normal_equations",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        pmod(col("l_partkey"), lit(17L)).as("x1"),
        pmod(col("l_suppkey"), lit(13L)).as("x2"),
        (lit(3L) * pmod(col("l_partkey"), lit(17L))
          - lit(2L) * pmod(col("l_suppkey"), lit(13L)) + 7L
          + pmod(col("l_orderkey") * 48271L, lit(11L)) - 5L).as("y"))
      graft.ml.Regress.olsFitPpm(li, Seq("x1", "x2"), "y")
    },
    Some("""WITH d AS (
              SELECT l_partkey % 17 AS x1, l_suppkey % 13 AS x2,
                     3 * (l_partkey % 17) - 2 * (l_suppkey % 13) + 7
                       + (l_orderkey * 48271) % 11 - 5 AS y
              FROM lineitem),
            m AS (
              SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                     CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
                     CAST(SUM(x1 * x1) AS HUGEINT) AS s11,
                     CAST(SUM(x1 * x2) AS HUGEINT) AS s12,
                     CAST(SUM(x2 * x2) AS HUGEINT) AS s22,
                     CAST(SUM(y) AS HUGEINT) AS sy,
                     CAST(SUM(x1 * y) AS HUGEINT) AS s1y,
                     CAST(SUM(x2 * y) AS HUGEINT) AS s2y,
                     CAST(SUM(y * y) AS HUGEINT) AS syy
              FROM d),
            c AS (
              SELECT n, sy, syy,
                     s11 * (s22 * n - s2 * s2) - s12 * (s12 * n - s2 * s1)
                       + s1 * (s12 * s2 - s22 * s1) AS det,
                     s1y * (s22 * n - s2 * s2) - s12 * (s2y * n - s2 * sy)
                       + s1 * (s2y * s2 - s22 * sy) AS det1,
                     s11 * (s2y * n - s2 * sy) - s1y * (s12 * n - s2 * s1)
                       + s1 * (s12 * sy - s2y * s1) AS det2,
                     s11 * (s22 * sy - s2y * s2) - s12 * (s12 * sy - s2y * s1)
                       + s1y * (s12 * s2 - s22 * s1) AS det3,
                     s1y AS b1, s2y AS b2
              FROM m),
            r AS (
              SELECT n, det, det1, det2, det3,
                     det * syy - (det1 * b1 + det2 * b2 + det3 * sy) AS ssenum,
                     n * syy - sy * sy AS sstnum
              FROM c)
            SELECT n::BIGINT AS n,
                   ((det1 * 1000000) // det)::BIGINT AS ppm_x1,
                   ((det2 * 1000000) // det)::BIGINT AS ppm_x2,
                   ((det3 * 1000000) // det)::BIGINT AS ppm_intercept,
                   (((sstnum * det - ssenum * n) * 1000000)
                      // (sstnum * det))::BIGINT AS r2_ppm
            FROM r"""))

  /** Poisson bootstrap confidence interval
    * ([[graft.operators.Resample.bootstrapMeanCi]] — the resampling that
    * distributes: deterministic Poisson(1) weights from
    * xxhash64(id·B + rep) cut against cumulative-ppm thresholds, all B
    * replicates riding ONE aggregation pass as 2B partial-agg columns —
    * no row explosion, no extra shuffle; CI = exact order statistics of
    * the B replicate means in ppm). 95%-ish band (ranks 2/63 of 64) for
    * mean event value in cents, per event type. The oracle replays every
    * draw through the XXH64 stages. */
  val q326_bootstrap_ci = Q(
    "q326_bootstrap_ci",
    (s, dir) => {
      // the even-user slice halves the ORACLE's 64-replicate hash replay
      // (its only superlinear consumer); the operator itself is one scan
      val ev = t(s, dir, "events").filter(pmod(col("user_id"), lit(2L)) === 0L)
        .select(
          col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.operators.Resample
        .bootstrapMeanCi(ev, "event_id", "cents", reps = 64,
          loRank = 2, hiRank = 63, groupCols = Seq("event_type"))
        .orderBy("event_type")
    },
    Some {
      val hashed = graft.tools.OracleSql.xxhash64LongStages(
        """SELECT event_type, cents, r AS rep, event_id * 64 + r AS hk
           FROM (SELECT event_id, event_type,
                        CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
                 WHERE user_id % 2 = 0)
           CROSS JOIN (SELECT unnest(range(0, 64)) AS r)""",
        "hk", "h", pfx = "__bs")
      s"""WITH hh AS ($hashed),
            ww AS (
              SELECT event_type, cents, rep,
                     CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                          WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                          WHEN u < 996340 THEN 4 ELSE 5 END AS w
              FROM (SELECT *, ((h % 1000000) + 1000000) % 1000000 AS u FROM hh)),
            rs AS (
              SELECT event_type, rep, SUM(w) AS n_w, SUM(w * cents) AS sum_w
              FROM ww GROUP BY 1, 2),
            rm AS (
              SELECT event_type, rep,
                     CAST((CASE WHEN sum_w < 0 THEN -1 ELSE 1 END)
                       * ((ABS(sum_w)::HUGEINT * 1000000) // n_w) AS BIGINT) AS mean_ppm
              FROM rs WHERE n_w > 0),
            rk AS (
              SELECT event_type, mean_ppm,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY mean_ppm, rep) AS rk
              FROM rm),
            band AS (
              SELECT event_type,
                     MAX(CASE WHEN rk = 2 THEN mean_ppm END) AS lo_ppm,
                     MAX(CASE WHEN rk = 63 THEN mean_ppm END) AS hi_ppm
              FROM rk GROUP BY 1),
            pt AS (
              SELECT event_type, COUNT(*)::BIGINT AS n,
                     CAST((SUM(CAST(ROUND(value * 100) AS BIGINT))::HUGEINT * 1000000)
                       // COUNT(*) AS BIGINT) AS mean_ppm
              FROM events WHERE user_id % 2 = 0 GROUP BY 1)
            SELECT pt.event_type, pt.n, pt.mean_ppm, band.lo_ppm, band.hi_ppm
            FROM pt JOIN band ON pt.event_type = band.event_type
            ORDER BY 1"""
    })

  /** Kendall rank correlation ([[graft.operators.RankStats.kendallPairs]]
    * — concordant/discordant pair counts via the joint-value-census
    * self-join: cost is census², row count never enters the join;
    * explicit-N repartition before the census² expansion per the q115
    * rule; τ_a in sign-magnitude ppm with exact C/D/n alongside, plus
    * the r13 tie completion: exact marginal tie-pair sums n1/n2 from two
    * census aggregates and tie-corrected τ_b via identically-spelled
    * IEEE SQRT on both engines). quantity vs 10k-dollar price bucket per
    * returnflag. */
  val q327_kendall = Q(
    "q327_kendall",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        floor(col("l_extendedprice") / 10000.0).cast("long").as("y"))
      graft.operators.RankStats.kendallPairs(li, "x", "y", Seq("l_returnflag"))
        .orderBy("l_returnflag")
    },
    Some("""WITH li AS (
              SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                     CAST(FLOOR(l_extendedprice / 10000.0) AS BIGINT) AS y
              FROM lineitem),
            cen AS (SELECT l_returnflag, x, y, COUNT(*) AS c FROM li GROUP BY 1, 2, 3),
            pairs AS (
              SELECT a.l_returnflag,
                     SUM(CASE WHEN b.x > a.x AND b.y > a.y THEN a.c * b.c ELSE 0 END) AS cp,
                     SUM(CASE WHEN b.x > a.x AND b.y < a.y THEN a.c * b.c ELSE 0 END) AS dp
              FROM cen a JOIN cen b ON a.l_returnflag = b.l_returnflag
              GROUP BY 1),
            tot AS (SELECT l_returnflag, COUNT(*) AS n FROM li GROUP BY 1),
            tx AS (
              SELECT l_returnflag, CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS n1
              FROM (SELECT l_returnflag, x, SUM(c) AS t FROM cen GROUP BY 1, 2)
              GROUP BY 1),
            ty AS (
              SELECT l_returnflag, CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS n2
              FROM (SELECT l_returnflag, y, SUM(c) AS t FROM cen GROUP BY 1, 2)
              GROUP BY 1)
            SELECT t.l_returnflag, n::BIGINT AS n, cp::BIGINT AS c_pairs,
                   dp::BIGINT AS d_pairs,
                   CAST((CASE WHEN cp - dp < 0 THEN -1 ELSE 1 END)
                     * ((ABS(cp - dp)::HUGEINT * 1000000) // ((n * (n - 1)) // 2))
                     AS BIGINT) AS tau_a_ppm,
                   n1 AS tie_x_pairs, n2 AS tie_y_pairs,
                   CASE WHEN (n * (n - 1)) // 2 = n1 OR (n * (n - 1)) // 2 = n2
                        THEN NULL
                        ELSE CAST(FLOOR((CAST(CAST(cp - dp AS BIGINT) AS DOUBLE)
                            * 1000000.0)
                          / (SQRT(CAST((n * (n - 1)) // 2 - n1 AS DOUBLE))
                           * SQRT(CAST((n * (n - 1)) // 2 - n2 AS DOUBLE))))
                          AS BIGINT) END AS tau_b_ppm
            FROM pairs p
            JOIN tot t ON p.l_returnflag = t.l_returnflag
            JOIN tx ON t.l_returnflag = tx.l_returnflag
            JOIN ty ON t.l_returnflag = ty.l_returnflag
            WHERE n >= 2 ORDER BY 1"""))

  /** Theil–Sen robust trend ([[graft.operators.EventAnalytics
    * .theilSenSlope]] — the outlier-immune counterpart of q197's exact
    * OLS: median of pairwise slopes, < 29% breakdown; the median is a
    * PICK — pairs sort by IEEE slope with a total integer tie-break and
    * the ⌈m/2⌉-th pair's EXACT (dy, dx) is the answer, so the rational
    * never touches float rounding). Per-event-type daily-count series. */
  val q337_theil_sen = Q(
    "q337_theil_sen",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("event_type"), to_date(col("ts")).as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("y"))
        .withColumn("x", datediff(col("day"),
          min(col("day")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_type")))).cast("long"))
      graft.operators.EventAnalytics
        .theilSenSlope(daily, "event_type", "x", "y")
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
              FROM events GROUP BY 1, 2),
            ser AS (
              SELECT event_type,
                     datediff('day', MIN(day) OVER (PARTITION BY event_type), day) AS x,
                     y
              FROM daily),
            pr AS (
              SELECT a.event_type,
                     b.y - a.y AS dy, b.x - a.x AS dx, a.x AS xi, b.x AS xj,
                     CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS sl
              FROM ser a JOIN ser b
                ON a.event_type = b.event_type AND a.x < b.x),
            rk AS (
              SELECT event_type, dy, dx,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY sl, dy, dx, xi, xj) AS r,
                     COUNT(*) OVER (PARTITION BY event_type) AS m
              FROM pr),
            np AS (SELECT event_type, COUNT(*) AS n_points FROM ser GROUP BY 1)
            SELECT rk.event_type, n_points::BIGINT AS n_points, m::BIGINT AS n_pairs,
                   dy::BIGINT AS dy, dx::BIGINT AS dx,
                   CAST((CASE WHEN dy < 0 THEN -1 ELSE 1 END)
                     * ((ABS(dy)::HUGEINT * 1000000) // dx) AS BIGINT) AS slope_ppm
            FROM rk JOIN np ON rk.event_type = np.event_type
            WHERE r = (m + 1) // 2
            ORDER BY 1"""))

  /** Isotonic calibration ([[graft.ml.Regress.isotonicFitPpm]] — PAVA's
    * result WITHOUT sequential pooling: the minimax identity
    * f(i) = max_{j≤i} min_{k≥i} avg(y[j..k]) distributes as two window
    * passes over the positions² pair table; floor commutes with min/max,
    * so fit_ppm = floor(10⁶·f_true) EXACTLY with zero floats, and the
    * output is provably nondecreasing). Calibrating q324's planted
    * classifier: per returnflag, empirical P(positive | score) made
    * monotone over the 20 discrete scores. */
  val q339_isotonic = Q(
    "q339_isotonic",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag"),
        (when(pmod(col("l_partkey"), lit(5L)) === 0L, 7L).otherwise(0L) +
          pmod(col("l_orderkey") * 48271L, lit(13L))).as("score"),
        when(pmod(col("l_partkey"), lit(5L)) === 0L, 1L).otherwise(0L).as("pos"))
      graft.ml.Regress.isotonicFitPpm(li, "score", "pos", Seq("l_returnflag"))
        .orderBy("l_returnflag", "score")
    },
    Some("""WITH d AS (
              SELECT l_returnflag,
                     (CASE WHEN l_partkey % 5 = 0 THEN 7 ELSE 0 END)
                       + (l_orderkey * 48271) % 13 AS score,
                     CASE WHEN l_partkey % 5 = 0 THEN 1 ELSE 0 END AS pos
              FROM lineitem),
            cen AS (
              SELECT l_returnflag, score, COUNT(*) AS nx, SUM(pos) AS sx
              FROM d GROUP BY 1, 2),
            pos AS (
              SELECT l_returnflag, score, nx,
                     ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY score) AS r,
                     SUM(sx) OVER (PARTITION BY l_returnflag ORDER BY score
                       ROWS UNBOUNDED PRECEDING) AS s,
                     SUM(nx) OVER (PARTITION BY l_returnflag ORDER BY score
                       ROWS UNBOUNDED PRECEDING) AS cn,
                     COALESCE(SUM(sx) OVER (PARTITION BY l_returnflag ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ps,
                     COALESCE(SUM(nx) OVER (PARTITION BY l_returnflag ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pn
              FROM cen),
            pairs AS (
              SELECT a.l_returnflag, a.r AS j, b.r AS k, b.score, b.nx,
                     ((b.s - a.ps) * 1000000) // (b.cn - a.pn) AS key
              FROM pos a JOIN pos b
                ON a.l_returnflag = b.l_returnflag AND a.r <= b.r),
            sufmin AS (
              SELECT l_returnflag, j, k, score, nx,
                     MIN(key) OVER (PARTITION BY l_returnflag, j ORDER BY k DESC
                       ROWS UNBOUNDED PRECEDING) AS mk
              FROM pairs)
            SELECT l_returnflag, score::BIGINT AS score, nx::BIGINT AS n_x,
                   MAX(mk)::BIGINT AS fit_ppm
            FROM sufmin GROUP BY 1, 2, 3 ORDER BY 1, 2"""))

  /** Kruskal–Wallis H ([[graft.operators.RankStats.kruskalWallis]] — the
    * k-sample rung above Mann–Whitney q322: does ANY of the k event types
    * differ in value distribution? pooled rank2 census joined back to the
    * per-side census, dev_g = S2_g − n_g(n+1) zero-mean by construction,
    * H via the defined two-floor DECIMAL/HUGEINT recipe). Five event
    * types per user cohort. */
  val q340_kruskal_wallis = Q(
    "q340_kruskal_wallis",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("cohort", pmod(col("user_id"), lit(4L)))
      graft.operators.RankStats
        .kruskalWallis(ev, "value", "event_type", Seq("cohort"))
        .orderBy("cohort")
    },
    Some("""WITH e AS (SELECT user_id % 4 AS cohort, value, event_type FROM events),
            vc AS (SELECT cohort, value, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
            rk AS (
              SELECT cohort, value,
                     2 * COALESCE(SUM(cnt) OVER (PARTITION BY cohort ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS rank2
              FROM vc),
            ps AS (
              SELECT cohort, event_type, value, COUNT(*) AS scnt
              FROM e GROUP BY 1, 2, 3),
            ag AS (
              SELECT ps.cohort, ps.event_type,
                     SUM(scnt) AS ng, SUM(scnt * rank2) AS s2
              FROM ps JOIN rk ON ps.cohort = rk.cohort AND ps.value = rk.value
              GROUP BY 1, 2),
            tot AS (
              SELECT cohort, COUNT(*) AS k_sides, SUM(ng) AS n
              FROM ag GROUP BY 1),
            dev AS (
              SELECT ag.cohort, k_sides, n,
                     ((s2 - ng * (n + 1))::HUGEINT
                       * (s2 - ng * (n + 1)) * 1000000) // ng AS t
              FROM ag JOIN tot ON ag.cohort = tot.cohort
              WHERE k_sides >= 2)
            SELECT cohort::BIGINT AS cohort, k_sides::BIGINT AS k_sides,
                   n::BIGINT AS n,
                   ((3 * SUM(t)) // (n * (n + 1)))::BIGINT AS h_uppm
            FROM dev GROUP BY cohort, k_sides, n ORDER BY 1"""))

  /** Bootstrap CI for a RATIO metric
    * ([[graft.operators.Resample.bootstrapRatioCi]] — the A/B workhorse
    * the mean CI cannot cover: Poisson weights resample numerator and
    * denominator TOGETHER, preserving their per-row correlation; same
    * one-pass 3B-column aggregation, rank-band CI). Share of event value
    * carried by big-ticket (> $100) events per type, 95%-ish band. Odd
    * users — the q326 slice discipline for the oracle's 64× hash replay. */
  val q343_bootstrap_ratio = Q(
    "q343_bootstrap_ratio",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(pmod(col("user_id"), lit(2L)) === 1L)
        .select(
          col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("big", when(col("cents") > 10000L, col("cents")).otherwise(0L))
      graft.operators.Resample
        .bootstrapRatioCi(ev, "event_id", "big", "cents", reps = 64,
          loRank = 2, hiRank = 63, groupCols = Seq("event_type"))
        .orderBy("event_type")
    },
    Some {
      val hashed = graft.tools.OracleSql.xxhash64LongStages(
        """SELECT event_type, cents,
                  CASE WHEN cents > 10000 THEN cents ELSE 0 END AS big,
                  r AS rep, event_id * 64 + r AS hk
           FROM (SELECT event_id, event_type,
                        CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
                 WHERE user_id % 2 = 1)
           CROSS JOIN (SELECT unnest(range(0, 64)) AS r)""",
        "hk", "h", pfx = "__br")
      s"""WITH hh AS ($hashed),
            ww AS (
              SELECT event_type, cents, big, rep,
                     CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                          WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                          WHEN u < 996340 THEN 4 ELSE 5 END AS w
              FROM (SELECT *, ((h % 1000000) + 1000000) % 1000000 AS u FROM hh)),
            rs AS (
              SELECT event_type, rep, SUM(w * big) AS sn, SUM(w * cents) AS sd
              FROM ww GROUP BY 1, 2),
            rm AS (
              SELECT event_type, rep,
                     CAST((CASE WHEN sn < 0 THEN -1 ELSE 1 END)
                       * ((ABS(sn)::HUGEINT * 1000000) // sd) AS BIGINT) AS ratio_ppm
              FROM rs WHERE sd > 0),
            rk AS (
              SELECT event_type, ratio_ppm,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY ratio_ppm, rep) AS rk
              FROM rm),
            band AS (
              SELECT event_type,
                     MAX(CASE WHEN rk = 2 THEN ratio_ppm END) AS lo_ppm,
                     MAX(CASE WHEN rk = 63 THEN ratio_ppm END) AS hi_ppm
              FROM rk GROUP BY 1),
            pt AS (
              SELECT event_type, COUNT(*)::BIGINT AS n,
                     CAST((SUM(CASE WHEN cents > 10000 THEN cents ELSE 0 END)::HUGEINT
                       * 1000000) // SUM(cents) AS BIGINT) AS ratio_ppm
              FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
                    FROM events WHERE user_id % 2 = 1)
              GROUP BY 1 HAVING SUM(cents) > 0)
            SELECT pt.event_type, pt.n, pt.ratio_ppm, band.lo_ppm, band.hi_ppm
            FROM pt JOIN band ON pt.event_type = band.event_type
            ORDER BY 1"""
    })

  /** Ranking-quality metrics ([[graft.operators.RankingEval.metricsAtK]]
    * — precision@k / recall@k / reciprocal rank / NDCG@k per query in
    * exact integers, the retrieval-eval surface beside ROC-AUC: the log₂
    * discount rides the library's 1/16 fixed-point floor-log₂, the ideal
    * DCG is a k-element literal prefix-sum array, and everything else is
    * integral division — no float anywhere). Synthetic retrieval over
    * orders: 200 queries by custkey residue, hash-ranked candidates,
    * planted relevance on a 1/13 residue; the oracle derives the ideal-DCG
    * table independently from the same flog macro over range(1, k+1). */
  val q345_ranking_eval = Q(
    "q345_ranking_eval",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders").select(
        pmod(col("o_custkey"), lit(200L)).as("qid"),
        col("o_orderkey").as("id"),
        pmod(col("o_orderkey") * 48271L, lit(100000L)).as("score"),
        (pmod(col("o_orderkey"), lit(13L)) === 0L).as("rel"))
      val ranked = o.withColumn("rk",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score"), col("id"))))
      graft.operators.RankingEval.metricsAtK(ranked, "rk", "rel", k = 10, Seq("qid"))
        .orderBy("qid")
    },
    Some {
      s"""WITH d AS (
              SELECT o_custkey % 200 AS qid, o_orderkey AS id,
                     (o_orderkey * 48271) % 100000 AS score,
                     (o_orderkey % 13 = 0) AS rel
              FROM orders),
            r AS (
              SELECT qid, rel,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score, id) AS rk
              FROM d),
            iw AS (
              SELECT r, 16000000 // ${flog("r + 1")} AS w
              FROM (SELECT unnest(range(1, 11)) AS r)),
            icum AS (
              SELECT r AS j,
                     CAST(SUM(w) OVER (ORDER BY r
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS idcg
              FROM iw),
            ag AS (
              SELECT qid, COUNT(*) AS n_ranked,
                     SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS n_rel,
                     SUM(CASE WHEN rel AND rk <= 10 THEN 1 ELSE 0 END) AS hits,
                     MIN(CASE WHEN rel THEN rk END) AS fr,
                     SUM(CASE WHEN rel AND rk <= 10
                              THEN 16000000 // ${flog("rk + 1")} ELSE 0 END) AS dcg
              FROM r GROUP BY 1)
            SELECT qid::BIGINT AS qid, n_ranked::BIGINT AS n_ranked,
                   n_rel::BIGINT AS n_rel, hits::BIGINT AS hits_at_k,
                   dcg::BIGINT AS dcg_upm,
                   ((hits * 1000000) // 10)::BIGINT AS prec_at_k_ppm,
                   CASE WHEN n_rel > 0
                        THEN ((hits * 1000000) // n_rel)::BIGINT END AS recall_at_k_ppm,
                   (CASE WHEN fr IS NOT NULL THEN 1000000 // fr ELSE 0 END)::BIGINT AS rr_ppm,
                   CASE WHEN n_rel > 0
                        THEN ((dcg * 1000000) // icum.idcg)::BIGINT END AS ndcg_ppm
            FROM ag LEFT JOIN icum
              ON icum.j = LEAST(GREATEST(n_rel, 1), 10)
            ORDER BY 1"""
    })

  /** Average precision per group ([[graft.operators.RankingEval.averagePrecision]]
    * — threshold-sweep AP over the score CENSUS in exact truncating ppm:
    * the imbalanced-label / retrieval metric pairing ROC-AUC q324. Planted
    * +300 score shift on the 1/7-residue positives over orders. */
  val q352_avg_precision = Q(
    "q352_avg_precision",
    (s, dir) => {
      val d = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        (pmod(col("o_orderkey") * 48271L, lit(1000L)) +
          when(pmod(col("o_orderkey"), lit(7L)) === 0L, 300L).otherwise(0L)).as("score"),
        (pmod(col("o_orderkey"), lit(7L)) === 0L).as("lbl"))
      graft.operators.RankingEval.averagePrecision(d, "score", "lbl", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g,
                     (o_orderkey * 48271) % 1000
                       + CASE WHEN o_orderkey % 7 = 0 THEN 300 ELSE 0 END AS score,
                     (o_orderkey % 7 = 0) AS lbl
              FROM orders),
            cen AS (
              SELECT g, score, COUNT(*) AS n_at,
                     SUM(CASE WHEN lbl THEN 1 ELSE 0 END) AS pos_at
              FROM d GROUP BY 1, 2),
            w AS (
              SELECT g, n_at, pos_at,
                     SUM(n_at) OVER (PARTITION BY g ORDER BY score DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
                     SUM(pos_at) OVER (PARTITION BY g ORDER BY score DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
              FROM cen)
            SELECT g, SUM(n_at)::BIGINT AS n, SUM(pos_at)::BIGINT AS n_pos,
                   (SUM(pos_at * ((cum_pos * 1000000) // cum_n))
                      // SUM(pos_at))::BIGINT AS ap_ppm
            FROM w GROUP BY 1 ORDER BY 1"""))

  /** Reliability bins + exact ECE ([[graft.ml.Calibrate.reliabilityBins]]
    * — per-bucket accuracy vs claimed confidence, and the integer ECE
    * identity Σ|pos_b·10⁶ − Σscore_b| div n where the n_b denominators
    * cancel so the scalar has NO intermediate rounding). The score is a
    * hash in ppm and the label an INDEPENDENT hash cut at that score —
    * calibrated by construction, so deviations measure finite-sample
    * noise and the bins read sane. */
  val q353_calibration_ece = Q(
    "q353_calibration_ece",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        pmod(col("o_orderkey") * 48271L, lit(1000000L)).as("score_ppm"),
        (pmod(col("o_orderkey") * 16807L, lit(1000000L)) <
          pmod(col("o_orderkey") * 48271L, lit(1000000L))).as("lbl"))
      val bins = graft.ml.Calibrate.reliabilityBins(d, "score_ppm", "lbl",
        bucketWidthPpm = 100000L, groupCols = Seq("g"))
      val wg = Window.partitionBy(col("g"))
      graft.operators.RankStats.withPpm(
          bins.withColumn("__q_dev", sum(col("abs_dev")).over(wg))
            .withColumn("__q_n", sum(col("n_b")).over(wg) * 1000000L),
          col("__q_dev"), col("__q_n"), "ece_ppm")
        .drop("__q_dev", "__q_n")
        .orderBy("g", "bucket")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g,
                     (o_orderkey * 48271) % 1000000 AS s,
                     ((o_orderkey * 16807) % 1000000 < (o_orderkey * 48271) % 1000000) AS lbl
              FROM orders),
            b AS (
              SELECT g, s // 100000 AS bucket, COUNT(*) AS n_b,
                     SUM(CASE WHEN lbl THEN 1 ELSE 0 END) AS pos_b,
                     SUM(s) AS sum_score
              FROM d GROUP BY 1, 2),
            w AS (
              SELECT g, bucket, n_b, pos_b, sum_score,
                     (pos_b * 1000000) // n_b AS acc_ppm,
                     sum_score // n_b AS conf_ppm,
                     ABS(pos_b * 1000000 - sum_score) AS abs_dev,
                     SUM(ABS(pos_b * 1000000 - sum_score)) OVER (PARTITION BY g) AS gdev,
                     SUM(n_b) OVER (PARTITION BY g) AS gn
              FROM b)
            SELECT g, bucket::BIGINT AS bucket, n_b::BIGINT AS n_b,
                   pos_b::BIGINT AS pos_b, sum_score::BIGINT AS sum_score,
                   acc_ppm::BIGINT AS acc_ppm, conf_ppm::BIGINT AS conf_ppm,
                   abs_dev::BIGINT AS abs_dev,
                   ((gdev * 1000000) // (gn * 1000000))::BIGINT AS ece_ppm
            FROM w ORDER BY 1, 2"""))

  /** Wald SPRT over batch censuses ([[graft.operators.Sequential.sprt]]
    * — anytime-valid sequential decision with the log-likelihood ratio as
    * an exact BIGINT sum of two micro-log₂ driver constants (the oracle
    * carries the SAME inlined literals — the replay contract is the
    * constants, not libm; the 1/16 fixed point was measurably too coarse
    * here: it flipped the H₁ drift sign and 1-URGENT wrongly accepted).
    * The 1-URGENT group carries a planted elevated success rate (extra
    * 1/11 residue) so the catalog exercises reject, while baseline groups
    * drift toward accept. p0 = 76923 ppm (1/13), p1 = 150000 ppm, Wald
    * boundaries ±log₂(19)·10⁶ ≈ ±4.25e6 at α = β = 0.05. */
  val q354_sprt = Q(
    "q354_sprt",
    (s, dir) => {
      val cen = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        pmod(col("o_orderkey"), lit(50L)).as("t"),
        (pmod(col("o_orderkey"), lit(13L)) === 0L ||
          (col("o_orderpriority") === "1-URGENT" &&
            pmod(col("o_orderkey"), lit(11L)) === 0L)).as("succ"))
        .groupBy("g", "t")
        .agg(sum(when(col("succ"), 1L).otherwise(0L)).as("s"),
          count(lit(1)).cast("long").as("n"))
      graft.operators.Sequential.sprt(cen, "t", "s", "n",
          p0Ppm = 76923L, p1Ppm = 150000L,
          upperMicro = 4247927L, lowerMicro = -4247927L,
          groupCols = Seq("g"))
        .orderBy("g")
    },
    Some {
      val (lsW, lfW) = graft.operators.Sequential.llrWeightsMicroLog2(76923L, 150000L)
      val ls = s"($lsW)"
      val lf = s"($lfW)"
      s"""WITH d AS (
              SELECT o_orderpriority AS g, o_orderkey % 50 AS t,
                     (o_orderkey % 13 = 0 OR (o_orderpriority = '1-URGENT'
                        AND o_orderkey % 11 = 0)) AS succ
              FROM orders),
            cen AS (
              SELECT g, t, SUM(CASE WHEN succ THEN 1 ELSE 0 END) AS s,
                     COUNT(*) AS n
              FROM d GROUP BY 1, 2),
            w AS (
              SELECT g, t, s, n,
                     CAST(SUM(s * $ls + (n - s) * $lf) OVER (PARTITION BY g ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS llr
              FROM cen),
            x AS (
              SELECT g, t, s, n, llr,
                     CASE WHEN llr >= 4247927 THEN 'reject_h0'
                          WHEN llr <= -4247927 THEN 'accept_h0' END AS cr
              FROM w),
            fst AS (
              SELECT g, MIN(t) AS decided_t FROM x WHERE cr IS NOT NULL GROUP BY 1)
            SELECT x.g, COUNT(*)::BIGINT AS n_steps, SUM(n)::BIGINT AS n_trials,
                   SUM(s)::BIGINT AS n_successes,
                   MAX(t)::BIGINT AS last_t,
                   (MAX_BY(llr, t))::BIGINT AS final_llr,
                   COALESCE(MAX(CASE WHEN t = fst.decided_t THEN cr END),
                     'continue') AS decision,
                   (MAX(fst.decided_t))::BIGINT AS decided_t,
                   (MAX(CASE WHEN t = fst.decided_t THEN llr END))::BIGINT AS llr_at_decision
            FROM x LEFT JOIN fst ON x.g = fst.g
            GROUP BY 1 ORDER BY 1"""
    })

  /** Split-conformal prediction interval + coverage
    * ([[graft.ml.Calibrate.splitConformal]] — the radius is a RANK PICK
    * of the ⌈(n+1)(1−α)⌉-th calibration residual from the residual census
    * (quantiles that must hash-match are picks, never interpolations);
    * test-half coverage then verifies the ≥ 90% guarantee empirically).
    * Residuals: order cents against a crude per-residue linear proxy —
    * the point is the machinery, the guarantee holds for ANY model. */
  val q356_conformal = Q(
    "q356_conformal",
    (s, dir) => {
      val d = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        abs(floor(col("o_totalprice") * 100).cast("long") -
          (lit(15000000L) + pmod(col("o_orderkey"), lit(7L)) * 100000L)).as("resid"),
        (pmod(col("o_orderkey"), lit(2L)) === 0L).as("is_cal"))
      graft.ml.Calibrate.splitConformal(d, "resid", "is_cal",
          alphaPpm = 100000L, groupCols = Seq("g"))
        .orderBy("g")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g,
                     ABS(CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                       - (15000000 + (o_orderkey % 7) * 100000)) AS resid,
                     (o_orderkey % 2 = 0) AS is_cal
              FROM orders),
            sz AS (
              SELECT g, COUNT(*) AS n_cal,
                     ((COUNT(*) + 1) * 900000 + 999999) // 1000000 AS k_rank
              FROM d WHERE is_cal GROUP BY 1),
            cen AS (
              SELECT g, resid, COUNT(*) AS c FROM d WHERE is_cal GROUP BY 1, 2),
            cum AS (
              SELECT g, resid,
                     SUM(c) OVER (PARTITION BY g ORDER BY resid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl
              FROM cen),
            qh AS (
              SELECT cum.g, MIN(resid) AS qhat
              FROM cum JOIN sz ON cum.g = sz.g AND cum.cl >= sz.k_rank
              GROUP BY 1),
            tst AS (
              SELECT g, COUNT(*) AS n_test,
                     SUM(CASE WHEN resid <= (SELECT qhat FROM qh WHERE qh.g = d.g)
                         THEN 1 ELSE 0 END) AS cov
              FROM d WHERE NOT is_cal GROUP BY 1)
            SELECT sz.g, n_cal::BIGINT AS n_cal, n_test::BIGINT AS n_test,
                   k_rank::BIGINT AS k_rank, qhat::BIGINT AS qhat,
                   CAST(CASE WHEN qhat IS NULL THEN NULL
                        ELSE (cov * 1000000) // n_test END AS BIGINT) AS coverage_ppm
            FROM sz LEFT JOIN qh ON sz.g = qh.g LEFT JOIN tst ON sz.g = tst.g
            ORDER BY 1"""))

  /** Cumulative gains / lift table
    * ([[graft.operators.RankingEval.cumulativeGains]] — the decile chart:
    * per descending score bucket, the exact ppm share of positives
    * captured and the lift over random via a DECIMAL(38,0) cross-product;
    * census-sized). Planted +200 score shift on 1/5-residue positives
    * over lineitem, 100-wide buckets per returnflag. */
  val q357_gains = Q(
    "q357_gains",
    (s, dir) => {
      val d = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        (pmod(col("l_orderkey") * 48271L, lit(1000L)) +
          when(pmod(col("l_orderkey"), lit(5L)) === 0L, 200L).otherwise(0L)).as("score"),
        (pmod(col("l_orderkey"), lit(5L)) === 0L).as("lbl"))
      graft.operators.RankingEval.cumulativeGains(d, "score", "lbl",
          bucketWidth = 100L, groupCols = Seq("g"))
        .orderBy("g", "bucket")
    },
    Some("""WITH d AS (
              SELECT l_returnflag AS g,
                     ((l_orderkey * 48271) % 1000
                       + CASE WHEN l_orderkey % 5 = 0 THEN 200 ELSE 0 END) // 100 AS bucket,
                     (l_orderkey % 5 = 0) AS lbl
              FROM lineitem),
            cen AS (
              SELECT g, bucket, COUNT(*) AS n_at,
                     SUM(CASE WHEN lbl THEN 1 ELSE 0 END) AS pos_at
              FROM d GROUP BY 1, 2),
            w AS (
              SELECT g, bucket, n_at, pos_at,
                     SUM(n_at) OVER (PARTITION BY g ORDER BY bucket DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
                     SUM(pos_at) OVER (PARTITION BY g ORDER BY bucket DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
                     SUM(n_at) OVER (PARTITION BY g) AS tn,
                     SUM(pos_at) OVER (PARTITION BY g) AS tp
              FROM cen)
            SELECT g, bucket::BIGINT AS bucket, n_at::BIGINT AS n_at,
                   pos_at::BIGINT AS pos_at, cum_n::BIGINT AS cum_n,
                   cum_pos::BIGINT AS cum_pos,
                   CASE WHEN tp > 0 THEN ((cum_pos * 1000000) // tp)::BIGINT END AS gain_ppm,
                   CASE WHEN tp > 0 AND cum_n > 0
                        THEN ((cum_pos::HUGEINT * tn * 1000000)
                              // (cum_n::HUGEINT * tp))::BIGINT END AS lift_ppm
            FROM w ORDER BY 1, 2"""))

  /** Benjamini–Hochberg FDR control ([[graft.operators.Sequential.bhFdr]]
    * — the step-up cut k* = max{k : p₍ₖ₎·m ≤ k·α} decided by exact
    * integer cross-multiplication over the per-group hypothesis table;
    * ties on p break by id so the cut is total-order deterministic).
    * 40 hypotheses per priority group, each cell's p the MAX over its
    * ~75 member rows (the max keeps null cells near 10⁶ — a min would
    * drive every cell's p to ~1/cell-size and reject everything); the
    * planted 1/8 slice divides by 500, landing under the rank-1 BH
    * threshold α/m for every draw, so rejected = exactly the planted
    * hypotheses; α = 10%. */
  val q360_bh_fdr = Q(
    "q360_bh_fdr",
    (s, dir) => {
      val hyp = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        pmod(col("o_orderkey"), lit(40L)).as("h"),
        expr("CASE WHEN (o_orderkey % 40) % 8 = 0" +
          " THEN pmod(o_orderkey * 48271, 1000000) div 500" +
          " ELSE pmod(o_orderkey * 48271, 1000000) END").as("p0"))
        .groupBy("g", "h").agg(max(col("p0")).cast("long").as("p_ppm"))
      graft.operators.Sequential.bhFdr(hyp, "p_ppm", "h", alphaPpm = 100000L, Seq("g"))
        .orderBy("g", "rank")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g, o_orderkey % 40 AS h,
                     CASE WHEN (o_orderkey % 40) % 8 = 0
                          THEN ((o_orderkey * 48271) % 1000000) // 500
                          ELSE (o_orderkey * 48271) % 1000000 END AS p0
              FROM orders),
            hyp AS (SELECT g, h, MAX(p0) AS p_ppm FROM d GROUP BY 1, 2),
            r AS (
              SELECT g, h, p_ppm,
                     ROW_NUMBER() OVER (PARTITION BY g ORDER BY p_ppm, h) AS rank,
                     COUNT(*) OVER (PARTITION BY g) AS m
              FROM hyp),
            ks AS (
              SELECT g, COALESCE(MAX(CASE WHEN p_ppm * m <= rank * 100000
                                          THEN rank END), 0) AS k_star
              FROM r GROUP BY 1)
            SELECT r.g, r.h::BIGINT AS h, r.p_ppm::BIGINT AS p_ppm,
                   r.rank::BIGINT AS rank, ks.k_star::BIGINT AS k_star,
                   (r.rank <= ks.k_star) AS rejected
            FROM r JOIN ks ON r.g = ks.g
            ORDER BY 1, 4"""))

  /** Monitoring-stack composition ([[graft.operators.Drift.chi2Homogeneity]]
    * → [[graft.operators.Sequential.bhFdr]] — the r13 verdict's item 6:
    * the drift, multiple-testing and alarm pieces exist as separate
    * queries; a real pipeline CHAINS them. Per (returnflag, partkey-slice)
    * the two order-parity windows are compared by exact-integer Pearson
    * χ² over 10 value bins; the conservative Markov p-values then ride
    * BH-FDR per returnflag across the 8 slices. ONE slice is planted
    * drifted (returnflag R, slice 3: the current window's values collapse
    * into the low bins) — it and only it alarms; the spec pins that, the
    * oracle replays the whole chain). */
  val q362_drift_fdr_monitor = Q(
    "q362_drift_fdr_monitor",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        pmod(col("l_partkey"), lit(8L)).as("h"),
        (pmod(col("l_orderkey"), lit(2L)) === 1L).as("cur"),
        pmod(col("l_orderkey") * 48271L + col("l_linenumber") * 1009L, lit(1000L))
          .as("__v"))
        .withColumn("bin",
          expr("CASE WHEN g = 'R' AND h = 3 AND cur THEN (__v % 200) div 100 " +
            "ELSE __v div 100 END"))
      val pvals = graft.operators.Drift.chi2Homogeneity(li, "bin", "cur", Seq("g", "h"))
      graft.operators.Sequential.bhFdr(pvals, "p_ppm", "h", alphaPpm = 100000L, Seq("g"))
        .orderBy("g", "rank")
    },
    Some("""WITH d AS (
              SELECT l_returnflag AS g, l_partkey % 8 AS h,
                     (l_orderkey % 2 = 1) AS cur,
                     (l_orderkey * 48271 + l_linenumber * 1009) % 1000 AS v
              FROM lineitem),
            binned AS (
              SELECT g, h, cur,
                     CASE WHEN g = 'R' AND h = 3 AND cur THEN (v % 200) // 100
                          ELSE v // 100 END AS bin
              FROM d),
            cen AS (
              SELECT g, h, bin,
                     SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS oref,
                     SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS ocur
              FROM binned GROUP BY 1, 2, 3),
            cells AS (
              SELECT g, h, bin, oref, ocur,
                     SUM(oref) OVER (PARTITION BY g, h) AS rref,
                     SUM(ocur) OVER (PARTITION BY g, h) AS rcur,
                     oref + ocur AS c,
                     SUM(oref + ocur) OVER (PARTITION BY g, h) AS n,
                     COUNT(*) OVER (PARTITION BY g, h) AS nb
              FROM cen),
            terms AS (
              SELECT g, h, rref, rcur, nb,
                CASE WHEN rref = 0 THEN 0 ELSE
                  CAST((CAST(n AS HUGEINT) * oref - CAST(rref AS HUGEINT) * c)
                     * (CAST(n AS HUGEINT) * oref - CAST(rref AS HUGEINT) * c)
                     * 1000000 // (CAST(n AS HUGEINT) * rref * c) AS BIGINT) END +
                CASE WHEN rcur = 0 THEN 0 ELSE
                  CAST((CAST(n AS HUGEINT) * ocur - CAST(rcur AS HUGEINT) * c)
                     * (CAST(n AS HUGEINT) * ocur - CAST(rcur AS HUGEINT) * c)
                     * 1000000 // (CAST(n AS HUGEINT) * rcur * c) AS BIGINT) END AS t
              FROM cells),
            chi AS (
              SELECT g, h, MAX(rref) AS n_ref, MAX(rcur) AS n_cur,
                     MAX(nb) AS n_bins, SUM(t) AS chi2_upm
              FROM terms GROUP BY 1, 2),
            pv AS (
              SELECT g, h, n_ref, n_cur, n_bins, chi2_upm,
                     CASE WHEN chi2_upm <= 0 OR n_ref = 0 OR n_cur = 0 THEN 1000000
                          ELSE LEAST(1000000,
                            (2 * (n_bins - 1) * 1000000000000) // chi2_upm) END AS p_ppm
              FROM chi),
            r AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY p_ppm, h) AS rank,
                     COUNT(*) OVER (PARTITION BY g) AS m
              FROM pv),
            ks AS (
              SELECT g, COALESCE(MAX(CASE WHEN p_ppm * m <= rank * 100000
                                          THEN rank END), 0) AS k_star
              FROM r GROUP BY 1)
            SELECT r.g, r.h::BIGINT AS h, r.n_ref::BIGINT AS n_ref,
                   r.n_cur::BIGINT AS n_cur, r.n_bins::BIGINT AS n_bins,
                   r.chi2_upm::BIGINT AS chi2_upm, r.p_ppm::BIGINT AS p_ppm,
                   r.rank::BIGINT AS rank, ks.k_star::BIGINT AS k_star,
                   (r.rank <= ks.k_star) AS rejected
            FROM r JOIN ks ON r.g = ks.g
            ORDER BY 1, 8"""))

  /** Cohen's κ ([[graft.operators.Agreement.cohenKappa]] — two synthetic
    * annotators over documents: both start from the residue-derived true
    * label, A flips every 10th doc by +1, B every 7th by +2, so agreement
    * is high but imperfect and the marginals differ; per language). */
  val q363_cohen_kappa = Q(
    "q363_cohen_kappa",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("lang"),
        pmod(col("doc_id"), lit(4L)).as("__t"),
        col("doc_id"))
        .withColumn("ra", when(pmod(col("doc_id"), lit(10L)) === 0L,
          pmod(col("__t") + 1L, lit(4L))).otherwise(col("__t")))
        .withColumn("rb", when(pmod(col("doc_id"), lit(7L)) === 0L,
          pmod(col("__t") + 2L, lit(4L))).otherwise(col("__t")))
      graft.operators.Agreement.cohenKappa(d, "ra", "rb", Seq("lang"))
        .orderBy("lang")
    },
    Some("""WITH d AS (
              SELECT lang,
                     CASE WHEN doc_id % 10 = 0 THEN (doc_id % 4 + 1) % 4
                          ELSE doc_id % 4 END AS ra,
                     CASE WHEN doc_id % 7 = 0 THEN (doc_id % 4 + 2) % 4
                          ELSE doc_id % 4 END AS rb
              FROM documents),
            base AS (
              SELECT lang, COUNT(*) AS n,
                     SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS agree
              FROM d GROUP BY 1),
            ca AS (SELECT lang, ra AS k, COUNT(*) AS r FROM d GROUP BY 1, 2),
            cb AS (SELECT lang, rb AS k, COUNT(*) AS c FROM d GROUP BY 1, 2),
            pe AS (
              SELECT COALESCE(ca.lang, cb.lang) AS lang,
                     SUM(COALESCE(r, 0) * COALESCE(c, 0)) AS pe_num
              FROM ca FULL OUTER JOIN cb ON ca.lang = cb.lang AND ca.k = cb.k
              GROUP BY 1)
            SELECT base.lang, n::BIGINT AS n, agree::BIGINT AS agree,
                   pe_num::BIGINT AS pe_num,
                   CAST(CASE WHEN n * n - pe_num = 0 THEN NULL ELSE
                     (CASE WHEN n * agree - pe_num < 0 THEN -1 ELSE 1 END) *
                     ((ABS(CAST(n AS HUGEINT) * agree - pe_num) * 1000000)
                       // (CAST(n AS HUGEINT) * n - pe_num)) END AS BIGINT) AS kappa_ppm
            FROM base JOIN pe ON base.lang = pe.lang
            ORDER BY 1"""))

  /** Fleiss' κ ([[graft.operators.Agreement.fleissKappa]] — three synthetic
    * raters per document: each rater echoes the residue-true label except
    * on its own rater-specific residue, where it drifts by its rater
    * index; per language, exact A/B/E/D integer census identity). */
  val q364_fleiss_kappa = Q(
    "q364_fleiss_kappa",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("lang"), col("doc_id"), pmod(col("doc_id"), lit(3L)).as("__t"))
        .select(col("lang"), col("doc_id"), explode(array(
          (0 until 3).map(r =>
            when(pmod(col("doc_id") * (r + 1), lit(5L)) === 0L,
              pmod(col("__t") + r, lit(3L))).otherwise(col("__t"))): _*)).as("cat"))
      graft.operators.Agreement.fleissKappa(d, "doc_id", "cat", Seq("lang"))
        .orderBy("lang")
    },
    Some("""WITH ratings AS (
              SELECT lang, doc_id,
                     CASE WHEN (doc_id * 1) % 5 = 0 THEN (doc_id % 3 + 0) % 3
                          ELSE doc_id % 3 END AS cat FROM documents
              UNION ALL
              SELECT lang, doc_id,
                     CASE WHEN (doc_id * 2) % 5 = 0 THEN (doc_id % 3 + 1) % 3
                          ELSE doc_id % 3 END FROM documents
              UNION ALL
              SELECT lang, doc_id,
                     CASE WHEN (doc_id * 3) % 5 = 0 THEN (doc_id % 3 + 2) % 3
                          ELSE doc_id % 3 END FROM documents),
            pic AS (
              SELECT lang, doc_id, cat, COUNT(*) AS nic
              FROM ratings GROUP BY 1, 2, 3),
            pit AS (
              SELECT lang, doc_id, SUM(nic * (nic - 1)) AS pairs
              FROM pic GROUP BY 1, 2),
            sz AS (
              SELECT lang, COUNT(*) AS m, SUM(pairs) AS a
              FROM pit GROUP BY 1),
            ct AS (
              SELECT lang, SUM(CAST(cc AS HUGEINT) * cc) AS e
              FROM (SELECT lang, cat, SUM(nic) AS cc FROM pic GROUP BY 1, 2)
              GROUP BY 1),
            -- D = m*n = 3m, B = m*n*(n-1) = 6m; kappa = (A*D^2 - E*B)/(B*(D^2 - E))
            kd AS (
              SELECT sz.lang, m, a, e,
                     CAST(3 AS HUGEINT) * m * (3 * m) AS d2,
                     CAST(6 AS HUGEINT) * m AS b
              FROM sz JOIN ct ON sz.lang = ct.lang)
            SELECT lang, m::BIGINT AS n_items, 3::BIGINT AS n_raters,
                   a::BIGINT AS po_pair_num, e::BIGINT AS pe_sq_num,
                   CAST(CASE WHEN d2 - e = 0 THEN NULL
                     ELSE (CASE WHEN a * d2 - e * b < 0 THEN -1 ELSE 1 END) *
                       ((ABS(a * d2 - e * b) * 1000000) // (b * (d2 - e)))
                     END AS BIGINT) AS kappa_ppm
            FROM kd ORDER BY 1"""))

  /** McNemar ([[graft.operators.Agreement.mcnemar]] — two deterministic
    * classifiers over orders with different error residues, so the
    * discordance is asymmetric; per priority, exact χ² and the 96/25
    * rational 5% decision). */
  val q365_mcnemar = Q(
    "q365_mcnemar",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        (pmod(col("o_orderkey") * 7L, lit(10L)) < 8L).as("ca"),
        (pmod(col("o_orderkey") * 11L, lit(10L)) < 7L).as("cb"))
      graft.operators.Agreement.mcnemar(o, "ca", "cb", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g,
                     ((o_orderkey * 7) % 10 < 8) AS ca,
                     ((o_orderkey * 11) % 10 < 7) AS cb
              FROM orders),
            ag AS (
              SELECT g, COUNT(*) AS n,
                     SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS b,
                     SUM(CASE WHEN cb AND NOT ca THEN 1 ELSE 0 END) AS c
              FROM d GROUP BY 1)
            SELECT g, n::BIGINT AS n, b::BIGINT AS n_only_a, c::BIGINT AS n_only_b,
                   CAST(CASE WHEN b + c = 0 THEN NULL ELSE
                     (CAST(b - c AS HUGEINT) * (b - c) * 1000000) // (b + c)
                     END AS BIGINT) AS chi2_upm,
                   (b + c > 0 AND 25 * (b - c) * (b - c) >= 96 * (b + c)) AS significant
            FROM ag ORDER BY 1"""))

  /** Wilcoxon signed-rank ([[graft.operators.RankStats.wilcoxonSignedRank]]
    * — paired before/after scores per order with a planted +50 lift on a
    * third of rows, so W⁺ dominates; per priority; |d| census ranks, zero
    * differences dropped by the standard convention). */
  val q366_wilcoxon = Q(
    "q366_wilcoxon",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        (pmod(col("o_orderkey") * 48271L, lit(1000L)) +
          when(pmod(col("o_orderkey"), lit(3L)) === 0L, 50L)
            .otherwise(when(pmod(col("o_orderkey"), lit(7L)) === 1L,
              -(pmod(col("o_orderkey"), lit(20L)) + 10L)).otherwise(0L))).as("x"),
        pmod(col("o_orderkey") * 48271L, lit(1000L)).as("y"))
      graft.operators.RankStats.wilcoxonSignedRank(o, "x", "y", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g,
                     CASE WHEN o_orderkey % 3 = 0 THEN 50
                          WHEN o_orderkey % 7 = 1 THEN -(o_orderkey % 20 + 10)
                          ELSE 0 END AS dd
              FROM orders),
            nz AS (SELECT g, dd FROM d WHERE dd <> 0),
            cen AS (
              SELECT g, ABS(dd) AS ad, COUNT(*) AS cnt,
                     SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS pos
              FROM nz GROUP BY 1, 2),
            rk AS (
              SELECT g, cnt, pos,
                     2 * COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY ad
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS rank2
              FROM cen),
            ag AS (
              SELECT g, SUM(cnt) AS n, SUM(pos * rank2) AS w2
              FROM rk GROUP BY 1)
            SELECT g, n::BIGINT AS n, w2::BIGINT AS w2_plus,
                   CAST((CASE WHEN 2 * w2 - n * (n + 1) < 0 THEN -1 ELSE 1 END) *
                     ((ABS(CAST(2 AS HUGEINT) * w2 - n * (n + 1)) * 1000000)
                       // (CAST(n AS HUGEINT) * (n + 1))) AS BIGINT) AS rb_ppm
            FROM ag WHERE n >= 1 ORDER BY 1"""))

  /** Cliff's δ ([[graft.operators.RankStats.cliffsDelta]] — ordinal effect
    * size of a planted +3 quantity shift on the even-orderkey side, per
    * returnflag; δ = 2·AUC − 1 from the doubled Mann–Whitney U). */
  val q367_cliffs_delta = Q(
    "q367_cliffs_delta",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        when(pmod(col("l_orderkey"), lit(2L)) === 0L, "a").otherwise("b").as("side"),
        (col("l_quantity").cast("long") +
          when(pmod(col("l_orderkey"), lit(2L)) === 0L &&
            pmod(col("l_orderkey"), lit(5L)) === 0L, 3L).otherwise(0L)).as("v"))
      graft.operators.RankStats.cliffsDelta(li, "v", "side", "a", "b", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH d AS (
              SELECT l_returnflag AS g,
                     CASE WHEN l_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS side,
                     CAST(l_quantity AS BIGINT) +
                       CASE WHEN l_orderkey % 2 = 0 AND l_orderkey % 5 = 0
                            THEN 3 ELSE 0 END AS v
              FROM lineitem),
            cen AS (
              SELECT g, v, COUNT(*) AS cnt,
                     SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS ca
              FROM d GROUP BY 1, 2),
            rk AS (
              SELECT g, cnt, ca,
                     2 * COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS rank2
              FROM cen),
            ag AS (
              SELECT g, SUM(ca) AS na, SUM(cnt - ca) AS nb, SUM(ca * rank2) AS sr
              FROM rk GROUP BY 1),
            u AS (
              SELECT g, na, nb, sr - na * (na + 1) AS u2 FROM ag
              WHERE na > 0 AND nb > 0)
            SELECT g, na::BIGINT AS n_a, nb::BIGINT AS n_b, u2::BIGINT AS u2,
                   CAST((CASE WHEN u2 - na * nb < 0 THEN -1 ELSE 1 END) *
                     ((ABS(CAST(u2 AS HUGEINT) - CAST(na AS HUGEINT) * nb) * 1000000)
                       // (CAST(na AS HUGEINT) * nb)) AS BIGINT) AS delta_ppm
            FROM u ORDER BY 1"""))

  /** Brier / Murphy decomposition ([[graft.ml.Calibrate.brierDecomposition]]
    * — a deliberately well-calibrated synthetic scorer (label drawn below
    * its own score residue) decomposed into reliability / resolution /
    * uncertainty over 10 score bins, per priority; brier ≈ rel − res +
    * unc up to the within-bin score variance — see the operator doc). */
  val q368_brier = Q(
    "q368_brier",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        pmod(col("o_orderkey") * 48271L, lit(1000001L)).as("score"),
        (pmod(col("o_orderkey") * 16807L, lit(1000000L)) <
          pmod(col("o_orderkey") * 48271L, lit(1000001L))).as("lbl"))
      graft.ml.Calibrate.brierDecomposition(o, "score", "lbl", 100000L, Seq("g"))
        .orderBy("g")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g,
                     (o_orderkey * 48271) % 1000001 AS s,
                     ((o_orderkey * 16807) % 1000000 <
                      (o_orderkey * 48271) % 1000001) AS lbl
              FROM orders),
            bins AS (
              SELECT g, s // 100000 AS b, COUNT(*) AS nb,
                     SUM(CASE WHEN lbl THEN 1 ELSE 0 END) AS pb,
                     SUM(s) AS sb,
                     SUM(CAST(s - CASE WHEN lbl THEN 1000000 ELSE 0 END AS HUGEINT)
                       * (s - CASE WHEN lbl THEN 1000000 ELSE 0 END)) AS bsq
              FROM d GROUP BY 1, 2),
            tot AS (
              SELECT g, SUM(nb) AS n, SUM(pb) AS pos FROM bins GROUP BY 1),
            terms AS (
              SELECT bins.g, n, pos, bsq,
                     (CAST(sb - 1000000 * pb AS HUGEINT)
                       * (sb - 1000000 * pb)) // nb AS relt,
                     ((CAST(pb AS HUGEINT) * n - CAST(pos AS HUGEINT) * nb)
                       * (CAST(pb AS HUGEINT) * n - CAST(pos AS HUGEINT) * nb)
                       * 1000000000000)
                       // (CAST(nb AS HUGEINT) * n * n) AS rest
              FROM bins JOIN tot ON bins.g = tot.g)
            SELECT g, n::BIGINT AS n, pos::BIGINT AS n_pos,
                   CAST(SUM(bsq) // n AS BIGINT) AS brier_upm2,
                   CAST(SUM(relt) // n AS BIGINT) AS rel_upm2,
                   CAST(SUM(rest) // n AS BIGINT) AS res_upm2,
                   CAST((CAST(pos AS HUGEINT) * (n - pos) * 1000000000000)
                     // (CAST(n AS HUGEINT) * n) AS BIGINT) AS unc_upm2
            FROM terms GROUP BY g, n, pos
            ORDER BY 1"""))

  /** Log-rank test ([[graft.operators.Survival.logRank]] — planted longer
    * survival on a third of the odd-orderkey arm, 25% right-censoring;
    * per priority; exact O/E/V with per-time micro truncation and the
    * 96/25 rational 5% decision). */
  val q369_log_rank = Q(
    "q369_log_rank",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        when(pmod(col("o_orderkey"), lit(2L)) === 0L, "a").otherwise("b").as("side"),
        (pmod(col("o_orderkey") * 48271L, lit(100L)) + 1L +
          when(pmod(col("o_orderkey"), lit(2L)) === 1L &&
            pmod(col("o_orderkey"), lit(3L)) === 0L, 30L).otherwise(0L)).as("t"),
        (pmod(col("o_orderkey"), lit(4L)) =!= 0L).as("ev"))
      graft.operators.Survival.logRank(o, "t", "ev", "side", "a", "b", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g,
                     CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS side,
                     (o_orderkey * 48271) % 100 + 1 +
                       CASE WHEN o_orderkey % 2 = 1 AND o_orderkey % 3 = 0
                            THEN 30 ELSE 0 END AS t,
                     (o_orderkey % 4 <> 0) AS ev
              FROM orders),
            cen AS (
              SELECT g, t,
                     SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS dd,
                     SUM(CASE WHEN ev AND side = 'a' THEN 1 ELSE 0 END) AS d1,
                     COUNT(*) AS alln,
                     SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS all1
              FROM d GROUP BY 1, 2),
            risk AS (
              SELECT g, t, dd, d1,
                     SUM(alln) OVER (PARTITION BY g ORDER BY t DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
                     SUM(all1) OVER (PARTITION BY g ORDER BY t DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1
              FROM cen),
            terms AS (
              SELECT g, dd, d1, n, n1,
                     CAST((CAST(dd AS HUGEINT) * n1 * 1000000) // n AS BIGINT) AS e1,
                     CASE WHEN n <= 1 THEN 0 ELSE
                       CAST((CAST(dd AS HUGEINT) * n1 * (n - n1) * (n - dd) * 1000000)
                         // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT) END AS v
              FROM risk WHERE dd > 0),
            ag AS (
              SELECT g, MAX(n1) AS n_a, MAX(n) - MAX(n1) AS n_b,
                     SUM(d1) AS o1, SUM(e1) AS e1_micro, SUM(v) AS v_upm
              FROM terms GROUP BY 1)
            SELECT g, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b, o1::BIGINT AS o1,
                   e1_micro::BIGINT AS e1_micro, v_upm::BIGINT AS v_upm,
                   CAST(CASE WHEN v_upm = 0 THEN NULL ELSE
                     (CAST(o1 * 1000000 - e1_micro AS HUGEINT)
                       * (o1 * 1000000 - e1_micro)) // v_upm END AS BIGINT) AS chi2_upm,
                   (v_upm > 0 AND
                    25 * (CAST(o1 * 1000000 - e1_micro AS HUGEINT)
                      * (o1 * 1000000 - e1_micro))
                      >= 96000000 * CAST(v_upm AS HUGEINT)) AS significant
            FROM ag ORDER BY 1"""))

  /** Nelson–Aalen cumulative hazard ([[graft.operators.Survival
    * .nelsonAalenMicro]] — the sum-form hazard curve over the same
    * time-to-event fixture, per priority; per-step d·10⁶ div n truncation
    * contract, census windows only). */
  val q370_nelson_aalen = Q(
    "q370_nelson_aalen",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        (pmod(col("o_orderkey") * 48271L, lit(100L)) + 1L).as("t"),
        (pmod(col("o_orderkey"), lit(4L)) =!= 0L).as("ev"))
      graft.operators.Survival.nelsonAalenMicro(o, "t", "ev", Seq("g"))
        .orderBy("g", "t")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g, (o_orderkey * 48271) % 100 + 1 AS t,
                     (o_orderkey % 4 <> 0) AS ev
              FROM orders),
            cen AS (
              SELECT g, t, SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS dd,
                     COUNT(*) AS alln
              FROM d GROUP BY 1, 2),
            risk AS (
              SELECT g, t, dd,
                     SUM(alln) OVER (PARTITION BY g ORDER BY t DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
              FROM cen),
            hz AS (
              SELECT g, t, dd, n_risk, (dd * 1000000) // n_risk AS h
              FROM risk)
            SELECT g, t::BIGINT AS t, n_risk::BIGINT AS n_risk,
                   dd::BIGINT AS d_events, h::BIGINT AS hazard_step_micro,
                   CAST(SUM(h) OVER (PARTITION BY g ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS chaz_micro
            FROM hz WHERE dd > 0
            ORDER BY 1, 2"""))

  /** CUPED ([[graft.ml.Regress.cuped]] — a planted +20 arm effect on a
    * metric that is mostly its pre-period covariate plus noise: the
    * adjusted arm means recover the effect with the covariate variance
    * removed; per priority, pooled exact moments, sign-magnitude micro
    * chain replayed verbatim). */
  val q371_cuped = Q(
    "q371_cuped",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        when(pmod(col("o_custkey"), lit(2L)) === 0L, "a").otherwise("b").as("arm"),
        pmod(col("o_custkey") * 48271L, lit(1000L)).as("x"))
        .withColumn("y", col("x") +
          when(col("arm") === "b", 20L).otherwise(0L))
      graft.ml.Regress.cuped(o, "y", "x", "arm", Seq("g"))
        .orderBy("g", "arm")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g,
                     CASE WHEN o_custkey % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
                     (o_custkey * 48271) % 1000 AS x,
                     (o_custkey * 48271) % 1000 +
                       CASE WHEN o_custkey % 2 = 1 THEN 20 ELSE 0 END AS y
              FROM orders),
            pooled AS (
              SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                     SUM(CAST(x AS HUGEINT) * x) AS sxx,
                     SUM(CAST(x AS HUGEINT) * y) AS sxy
              FROM d GROUP BY 1),
            th AS (
              SELECT g, n, sx,
                     n * sxx - CAST(sx AS HUGEINT) * sx AS varn,
                     n * sxy - CAST(sx AS HUGEINT) * sy AS covn
              FROM pooled),
            theta AS (
              SELECT g, (sx * 1000000) // n AS xbar,
                     CAST(CASE WHEN varn = 0 THEN NULL ELSE
                       (CASE WHEN covn < 0 THEN -1 ELSE 1 END) *
                       ((ABS(covn) * 1000000) // varn) END AS BIGINT) AS theta_ppm
              FROM th),
            arms AS (
              SELECT g, arm, COUNT(*) AS n,
                     (SUM(y) * 1000000) // COUNT(*) AS my,
                     (SUM(x) * 1000000) // COUNT(*) AS mx
              FROM d GROUP BY 1, 2)
            SELECT arms.g, arm, n::BIGINT AS n, my::BIGINT AS mean_y_micro,
                   mx::BIGINT AS mean_x_micro, theta_ppm,
                   CAST(CASE WHEN theta_ppm IS NULL THEN my ELSE
                     my - (CASE WHEN (theta_ppm < 0) <> (mx < xbar)
                                 AND theta_ppm <> 0 AND mx <> xbar
                                THEN -1 ELSE 1 END) *
                       (ABS(CAST(theta_ppm AS HUGEINT) * (mx - xbar)) // 1000000)
                     END AS BIGINT) AS adj_mean_micro
            FROM arms JOIN theta ON arms.g = theta.g
            ORDER BY 1, 2"""))

  /** Bradley–Terry ([[graft.ml.Preference.bradleyTerryMM]] — 12 items with
    * planted monotone quality (the higher-id item of each synthetic
    * judgment wins with probability (12+(j−i))/24), fit by 3 integer MM
    * rounds; the oracle replays the round chain as materialized CTE
    * stages). */
  val q374_bradley_terry = Q(
    "q374_bradley_terry",
    (s, dir) => {
      // i, j, r come from DISJOINT base-12 digits of the key: a shared
      // factor between the judge residue and the item residues plants
      // zero-win items (the first fixture's r%24 vs i%12 correlation made
      // items 0-2 literally never win — caught by the planted-signal
      // sanity check, not the hash gate, which passed on the broken fit)
      val prefs = t(s, dir, "orders").select(
        pmod(col("o_orderkey"), lit(12L)).as("i"),
        pmod(expr("o_orderkey div 12"), lit(12L)).as("j"),
        pmod(expr("o_orderkey div 144") * 48271L, lit(24L)).as("r"))
        .filter(col("i") =!= col("j"))
        .select(
          when(col("r") < lit(12L) + col("j") - col("i"), col("j"))
            .otherwise(col("i")).as("w"),
          when(col("r") < lit(12L) + col("j") - col("i"), col("i"))
            .otherwise(col("j")).as("l"))
      graft.ml.Preference.bradleyTerryMM(prefs, "w", "l", rounds = 3)
        .orderBy("item")
    },
    Some {
      val rounds = 3
      val sb = new StringBuilder
      sb ++= """WITH base AS (
              SELECT o_orderkey % 12 AS i, (o_orderkey // 12) % 12 AS j,
                     ((o_orderkey // 144) * 48271) % 24 AS r
              FROM orders WHERE o_orderkey % 12 <> (o_orderkey // 12) % 12),
            jd AS (
              SELECT CASE WHEN r < 12 + j - i THEN j ELSE i END AS w,
                     CASE WHEN r < 12 + j - i THEN i ELSE j END AS l
              FROM base),
            nij AS MATERIALIZED (
              SELECT i, j, SUM(c) AS n_ij FROM (
                SELECT w AS i, l AS j, COUNT(*) AS c FROM jd GROUP BY 1, 2
                UNION ALL
                SELECT l, w, COUNT(*) FROM jd GROUP BY 1, 2)
              GROUP BY 1, 2),
            wins AS MATERIALIZED (SELECT w AS i, COUNT(*) AS wins FROM jd GROUP BY 1),
            items AS MATERIALIZED (
              SELECT DISTINCT nij.i, COALESCE(wins, 0) AS wins
              FROM nij LEFT JOIN wins ON nij.i = wins.i),
            s0 AS MATERIALIZED (SELECT i, wins, 1000000 AS s FROM items),"""
      for (r <- 1 to rounds) {
        sb ++= s"""
            s$r AS MATERIALIZED (
              SELECT it.i, it.wins,
                     CASE WHEN den.d IS NULL OR den.d = 0 THEN 0
                          ELSE (it.wins * 1000000) // den.d END AS s
              FROM s${r - 1} it LEFT JOIN (
                SELECT nij.i,
                       SUM(CASE WHEN si.s + sj.s = 0 THEN 0
                                ELSE (n_ij * 1000000) // (si.s + sj.s) END) AS d
                FROM nij
                JOIN s${r - 1} si ON nij.i = si.i
                JOIN s${r - 1} sj ON nij.j = sj.i
                GROUP BY 1) den ON it.i = den.i)${if (r < rounds) "," else ""}"""
      }
      sb ++= s"""
            SELECT i::BIGINT AS item, wins::BIGINT AS wins,
                   s::BIGINT AS score_micro
            FROM s$rounds ORDER BY 1"""
      sb.toString
    })

  /** Census Gini ([[graft.operators.RankStats.giniPpm]] — document-length
    * concentration per language via the exact mean-difference identity on
    * tie-averaged ranks; the inequality one-number a token-budget mixer
    * reads before reweighting sources). */
  val q375_gini = Q(
    "q375_gini",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("lang"), col("n_chars"))
      graft.operators.RankStats.giniPpm(d, "n_chars", Seq("lang"))
        .orderBy("lang")
    },
    Some("""WITH cen AS (
              SELECT lang, CAST(n_chars AS BIGINT) AS v, COUNT(*) AS cnt
              FROM documents GROUP BY 1, 2),
            rk AS (
              SELECT lang, v, cnt,
                     2 * COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS rank2,
                     SUM(cnt) OVER (PARTITION BY lang) AS n
              FROM cen),
            ag AS (
              SELECT lang, MAX(n) AS n, SUM(cnt * v) AS sum_v,
                     SUM(CAST(cnt AS HUGEINT) * (rank2 - n - 1) * v) AS gn
              FROM rk GROUP BY 1)
            SELECT lang, n::BIGINT AS n, sum_v::BIGINT AS sum_v,
                   gn::BIGINT AS gini_num,
                   CAST(CASE WHEN sum_v = 0 THEN NULL ELSE
                     (gn * 1000000) // (CAST(n AS HUGEINT) * sum_v)
                     END AS BIGINT) AS gini_ppm
            FROM ag ORDER BY 1"""))

  /** Majority vote + per-annotator reliability ([[graft.operators
    * .Agreement.majorityVote]] — the q364 three-rater fixture scored
    * against its own per-item majority: rater 0 echoes the majority almost
    * everywhere, raters 1-2 drift on their residues; ties pick the
    * smallest label, the total-order discipline). */
  val q377_majority_vote = Q(
    "q377_majority_vote",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("lang"), col("doc_id"), pmod(col("doc_id"), lit(3L)).as("__t"))
        .select(col("lang"), col("doc_id"), posexplode(array(
          (0 until 3).map(r =>
            when(pmod(col("doc_id") * (r + 1), lit(5L)) === 0L,
              pmod(col("__t") + r, lit(3L))).otherwise(col("__t"))): _*)))
        .select(col("lang"), col("doc_id"),
          col("pos").cast("long").as("rater"), col("col").as("lbl"))
      graft.operators.Agreement.majorityVote(d, "doc_id", "rater", "lbl", Seq("lang"))
        .orderBy("lang", "rater")
    },
    Some("""WITH ratings AS (
              SELECT lang, doc_id, 0 AS rater,
                     CASE WHEN (doc_id * 1) % 5 = 0 THEN (doc_id % 3 + 0) % 3
                          ELSE doc_id % 3 END AS lbl FROM documents
              UNION ALL
              SELECT lang, doc_id, 1,
                     CASE WHEN (doc_id * 2) % 5 = 0 THEN (doc_id % 3 + 1) % 3
                          ELSE doc_id % 3 END FROM documents
              UNION ALL
              SELECT lang, doc_id, 2,
                     CASE WHEN (doc_id * 3) % 5 = 0 THEN (doc_id % 3 + 2) % 3
                          ELSE doc_id % 3 END FROM documents),
            cnts AS (
              SELECT lang, doc_id, lbl, COUNT(*) AS c
              FROM ratings GROUP BY 1, 2, 3),
            maj AS (
              SELECT lang, doc_id, lbl AS mlbl
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, doc_id
                      ORDER BY c DESC, lbl) AS rn FROM cnts)
              WHERE rn = 1)
            SELECT r.lang, r.rater::BIGINT AS rater, COUNT(*)::BIGINT AS n_rated,
                   SUM(CASE WHEN r.lbl = maj.mlbl THEN 1 ELSE 0 END)::BIGINT
                     AS n_match,
                   CAST((SUM(CASE WHEN r.lbl = maj.mlbl THEN 1 ELSE 0 END) * 1000000)
                     // COUNT(*) AS BIGINT) AS match_ppm
            FROM ratings r JOIN maj ON r.lang = maj.lang AND r.doc_id = maj.doc_id
            GROUP BY 1, 2
            ORDER BY 1, 2"""))

  /** Krippendorff's α, nominal ([[graft.operators.Agreement
    * .krippendorffAlphaNominal]] — the agreement coefficient for VARYING
    * rater counts: even docs get 2 ratings, odd docs 3 (exactly the shape
    * Fleiss refuses); per-item micro disagreement quotients, pooled
    * margins, per language). */
  val q378_krippendorff = Q(
    "q378_krippendorff",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("lang"), col("doc_id"), pmod(col("doc_id"), lit(3L)).as("__t"))
        .select(col("lang"), col("doc_id"), explode(slice(array(
          (0 until 3).map(r =>
            when(pmod(col("doc_id") * (r + 1), lit(5L)) === 0L,
              pmod(col("__t") + r, lit(3L))).otherwise(col("__t"))): _*),
          lit(1), lit(2L) + pmod(col("doc_id"), lit(2L)))).as("cat"))
      graft.operators.Agreement.krippendorffAlphaNominal(d, "doc_id", "cat", Seq("lang"))
        .orderBy("lang")
    },
    Some("""WITH ratings AS (
              SELECT lang, doc_id,
                     CASE WHEN (doc_id * 1) % 5 = 0 THEN (doc_id % 3 + 0) % 3
                          ELSE doc_id % 3 END AS cat FROM documents
              UNION ALL
              SELECT lang, doc_id,
                     CASE WHEN (doc_id * 2) % 5 = 0 THEN (doc_id % 3 + 1) % 3
                          ELSE doc_id % 3 END FROM documents
              UNION ALL
              SELECT lang, doc_id,
                     CASE WHEN (doc_id * 3) % 5 = 0 THEN (doc_id % 3 + 2) % 3
                          ELSE doc_id % 3 END FROM documents
              WHERE doc_id % 2 = 1),
            pic AS (
              SELECT lang, doc_id, cat, COUNT(*) AS nic
              FROM ratings GROUP BY 1, 2, 3),
            pi AS (
              SELECT lang, doc_id, SUM(nic) AS ni FROM pic GROUP BY 1, 2),
            dot AS (
              SELECT pic.lang, pic.doc_id, pi.ni,
                     SUM(nic * (ni - nic)) AS dis
              FROM pic JOIN pi ON pic.lang = pi.lang AND pic.doc_id = pi.doc_id
              WHERE ni >= 2 GROUP BY 1, 2, 3),
            dsum AS (
              SELECT lang, COUNT(*) AS n_items, SUM(ni) AS n_ratings,
                     SUM((dis * 1000000) // (ni - 1)) AS do_micro
              FROM dot GROUP BY 1),
            marg AS (
              SELECT pic.lang, pic.cat, SUM(nic) AS nc
              FROM pic JOIN pi ON pic.lang = pi.lang AND pic.doc_id = pi.doc_id
              WHERE pi.ni >= 2 GROUP BY 1, 2),
            de AS (
              SELECT lang, SUM(nc) AS n, SUM(CAST(nc AS HUGEINT) * nc) AS sq
              FROM marg GROUP BY 1),
            desum AS (
              SELECT lang,
                     CAST(CASE WHEN n <= 1 THEN 0 ELSE
                       ((CAST(n AS HUGEINT) * n - sq) * 1000000) // (n - 1)
                       END AS BIGINT) AS de_micro
              FROM de)
            SELECT dsum.lang, n_items::BIGINT AS n_items,
                   n_ratings::BIGINT AS n_ratings, do_micro::BIGINT AS do_micro,
                   de_micro::BIGINT AS de_micro,
                   CAST(CASE WHEN de_micro = 0 THEN NULL ELSE
                     (CASE WHEN de_micro - do_micro < 0 THEN -1 ELSE 1 END) *
                     ((ABS(CAST(de_micro AS HUGEINT) - do_micro) * 1000000)
                       // de_micro) END AS BIGINT) AS alpha_ppm
            FROM dsum JOIN desum ON dsum.lang = desum.lang
            ORDER BY 1"""))

  /** Winsorized mean ([[graft.operators.RankStats.winsorizedMeanMicro]] —
    * robust revenue-per-line location at 5% each side over extended-price
    * cents per returnflag: rank-pick cuts from the value census, census
    * clamp fold, micro truncation). */
  val q379_winsorized = Q(
    "q379_winsorized",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      graft.operators.RankStats.winsorizedMeanMicro(li, "cents", 50000L, Seq("g"))
        .orderBy("g")
    },
    Some("""WITH d AS (
              SELECT l_returnflag AS g,
                     CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v
              FROM lineitem),
            cen AS (SELECT g, v, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
            sw AS (
              SELECT g, v, cnt,
                     SUM(cnt) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     SUM(cnt) OVER (PARTITION BY g) AS n
              FROM cen),
            kk AS (SELECT g, MAX(n) AS n, (MAX(n) * 50000) // 1000000 AS k FROM sw GROUP BY 1),
            lo AS (
              SELECT sw.g, MIN(v) AS lo FROM sw JOIN kk ON sw.g = kk.g
              WHERE cum >= k + 1 GROUP BY 1),
            hi AS (
              SELECT sw.g, MIN(v) AS hi FROM sw JOIN kk ON sw.g = kk.g
              WHERE cum >= kk.n - k GROUP BY 1)
            SELECT sw.g, kk.n::BIGINT AS n, kk.k::BIGINT AS k_each_side,
                   lo.lo::BIGINT AS lo, hi.hi::BIGINT AS hi,
                   CAST((SUM(cnt * GREATEST(LEAST(v, hi.hi), lo.lo)) * 1000000) // kk.n
                     AS BIGINT) AS wmean_micro
            FROM sw JOIN kk ON sw.g = kk.g
            JOIN lo ON sw.g = lo.g JOIN hi ON sw.g = hi.g
            GROUP BY sw.g, kk.n, kk.k, lo.lo, hi.hi
            ORDER BY 1"""))

  /** Post-stratified ATE ([[graft.ml.Regress.postStratifiedAte]] — arm
    * assignment PLANTED to correlate with the stratum (arm-b share rises
    * 3/10 → 7/10 across strata) while the metric baseline also rises with
    * the stratum, so the naive arm difference is badly biased upward; the
    * within-stratum weighted contrast recovers the planted +15 effect.
    * Per order-status group). */
  val q381_post_strat_ate = Q(
    "q381_post_strat_ate",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderstatus").as("g"),
        pmod(col("o_orderkey"), lit(5L)).as("s"),
        col("o_orderkey"), col("o_custkey"))
        .withColumn("arm",
          when(pmod(col("o_custkey") * 31L + col("s") * 7L, lit(10L)) <
            lit(3L) + col("s"), "b").otherwise("a"))
        .withColumn("y",
          col("s") * 100L + when(col("arm") === "b", 15L).otherwise(0L) +
            pmod(col("o_orderkey") * 7L, lit(10L)))
      graft.ml.Regress.postStratifiedAte(o, "y", "arm", "a", "b", "s", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH d AS (
              SELECT o_orderstatus AS g, o_orderkey % 5 AS s,
                     CASE WHEN (o_custkey * 31 + (o_orderkey % 5) * 7) % 10
                               < 3 + o_orderkey % 5
                          THEN 'b' ELSE 'a' END AS arm,
                     o_orderkey
              FROM orders),
            d2 AS (
              SELECT g, s, arm,
                     s * 100 + CASE WHEN arm = 'b' THEN 15 ELSE 0 END +
                       (o_orderkey * 7) % 10 AS y
              FROM d),
            cells AS (
              SELECT g, s,
                     SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS na,
                     SUM(CASE WHEN arm = 'a' THEN y ELSE 0 END) AS ya,
                     SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS nb,
                     SUM(CASE WHEN arm = 'b' THEN y ELSE 0 END) AS yb
              FROM d2 GROUP BY 1, 2),
            kept AS (
              SELECT g, na, ya, nb, yb, na + nb AS w,
                     (yb * 1000000) // nb - (ya * 1000000) // na AS dy
              FROM cells WHERE na > 0 AND nb > 0),
            ag AS (
              SELECT g, COUNT(*) AS n_strata_used, SUM(w) AS n_used,
                     SUM(na) AS tna, SUM(ya) AS tya,
                     SUM(nb) AS tnb, SUM(yb) AS tyb,
                     SUM(CAST(w AS HUGEINT) * dy) AS wd
              FROM kept GROUP BY 1)
            SELECT g, n_strata_used::BIGINT AS n_strata_used,
                   n_used::BIGINT AS n_used,
                   CAST((tyb * 1000000) // tnb - (tya * 1000000) // tna AS BIGINT)
                     AS naive_diff_micro,
                   CAST(CASE WHEN n_used = 0 THEN NULL ELSE
                     (CASE WHEN wd < 0 THEN -1 ELSE 1 END) *
                     (ABS(wd) // n_used) END AS BIGINT) AS ate_micro
            FROM ag ORDER BY 1"""))

  /** Quantile treatment effects — the DISTRIBUTIONAL A/B readout beside
    * the mean contrasts (ATE q381, CUPED q371): a treatment that helps the
    * tail but not the median is invisible to a mean diff. Pure COMPOSITION
    * over [[graft.operators.RankStats.ecdf]] (zero new operator code): per
    * arm the exact ECDF census, per probability p the RANK-PICK quantile
    * (smallest value with pct_le_ppm ≥ p — the q261/q337 hash-match
    * discipline, never interpolation), QTE(p) = q_B(p) − q_A(p). The
    * planted effect ADDS +40 only above the b-arm's 70th percentile
    * residue, so qte is ~0 at p≤0.5 and ~+40 at p=0.9 — the exact shape a
    * mean test blurs. */
  val q382_qte = Q(
    "q382_qte",
    (s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        when(pmod(col("o_custkey"), lit(2L)) === 0L, "a").otherwise("b").as("arm"),
        pmod(col("o_orderkey") * 48271L, lit(1000L)).as("base"))
        .withColumn("y", col("base") +
          when(col("arm") === "b" && col("base") >= 700L, 40L).otherwise(0L))
      val cdf = graft.operators.RankStats.ecdf(o, "y", Seq("g", "arm"))
      val probs = Seq(250000L, 500000L, 750000L, 900000L).toDF("p")
      def pick(arm: String, out: String) = cdf.filter(col("arm") === arm)
        .crossJoin(probs)
        .filter(col("pct_le_ppm") >= col("p"))
        .groupBy(col("g"), col("p"))
        .agg(min(col("y")).as(out))
      pick("a", "qa").join(pick("b", "qb"), Seq("g", "p"))
        .withColumn("qte", col("qb") - col("qa"))
        .orderBy("g", "p")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g,
                     CASE WHEN o_custkey % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
                     (o_orderkey * 48271) % 1000 AS base
              FROM orders),
            d2 AS (
              SELECT g, arm,
                     base + CASE WHEN arm = 'b' AND base >= 700 THEN 40 ELSE 0 END AS y
              FROM d),
            cen AS (
              SELECT g, arm, y, COUNT(*) AS cnt FROM d2 GROUP BY 1, 2, 3),
            cdf AS (
              SELECT g, arm, y,
                     SUM(cnt) OVER (PARTITION BY g, arm ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     SUM(cnt) OVER (PARTITION BY g, arm) AS n
              FROM cen),
            pct AS (SELECT g, arm, y, (cum * 1000000) // n AS pct FROM cdf),
            probs AS (SELECT unnest([250000, 500000, 750000, 900000]) AS p),
            qa AS (
              SELECT g, p, MIN(y) AS qa FROM pct CROSS JOIN probs
              WHERE arm = 'a' AND pct >= p GROUP BY 1, 2),
            qb AS (
              SELECT g, p, MIN(y) AS qb FROM pct CROSS JOIN probs
              WHERE arm = 'b' AND pct >= p GROUP BY 1, 2)
            SELECT qa.g, qa.p::BIGINT AS p, qa::BIGINT AS qa, qb::BIGINT AS qb,
                   (qb - qa)::BIGINT AS qte
            FROM qa JOIN qb ON qa.g = qb.g AND qa.p = qb.p
            ORDER BY 1, 2"""))

  /** Friedman test ([[graft.operators.RankStats.friedmanTest]] — the
    * multi-system eval: k = 4 systems scored on 400 blocks per priority,
    * doubled tie-averaged within-block ranks, tie-corrected statistic in
    * exact integers, Markov-bound p. Planted: '1-URGENT' adds a +200·s
    * system lift (simulated: p ≈ 10 836 ppm rejects; the multiplicative
    * (b+7)(s+3) mixing keeps nulls at the p = 10⁶ clamp — an additive
    * constant-offset score had a systematic mod-wrap rank bias, caught by
    * the pre-flight simulation, the q374 lesson). */
  val q386_friedman = Q(
    "q386_friedman",
    (s, dir) => {
      val blocks = t(s, dir, "orders")
        .select(col("o_orderpriority").as("g"), pmod(col("o_orderkey"), lit(400L)).as("b"))
        .distinct()
      val obs = blocks
        .select(col("g"), col("b"), explode(sequence(lit(0L), lit(3L))).as("sy"))
        .withColumn("v",
          pmod((col("b") + 7L) * (col("sy") + 3L) * 48271L, lit(1000L)) +
            when(col("g") === "1-URGENT", col("sy") * 200L).otherwise(0L))
      graft.operators.RankStats.friedmanTest(obs, "b", "sy", "v", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH blocks AS (
              SELECT DISTINCT o_orderpriority AS g, o_orderkey % 400 AS b FROM orders),
            obs AS (
              SELECT g, b, sy,
                     ((b + 7) * (sy + 3) * 48271) % 1000 +
                       CASE WHEN g = '1-URGENT' THEN sy * 200 ELSE 0 END AS v
              FROM blocks, UNNEST([0, 1, 2, 3]) AS t(sy)),
            ranked AS (
              SELECT g, b, sy,
                     2 * (RANK() OVER (PARTITION BY g, b ORDER BY v) - 1) +
                       COUNT(*) OVER (PARTITION BY g, b, v) + 1 AS r2
              FROM obs),
            pert AS (
              SELECT g, sy, SUM(r2) AS R2, COUNT(*) AS n, SUM(r2 * r2) AS a4j
              FROM ranked GROUP BY 1, 2),
            agg AS (
              SELECT g, MAX(n) AS n_blocks, 4 AS k,
                     SUM(CAST(R2 - n * 5 AS HUGEINT) * (R2 - n * 5)) AS num0,
                     SUM(CAST(a4j AS HUGEINT)) AS a4
              FROM pert GROUP BY 1),
            st AS (
              SELECT g, n_blocks, k,
                     CASE WHEN a4 = CAST(n_blocks AS HUGEINT) * 4 * 25 THEN NULL
                          ELSE CAST((3 * num0 * 1000000) //
                            (a4 - CAST(n_blocks AS HUGEINT) * 4 * 25) AS BIGINT)
                     END AS chi2_upm
              FROM agg)
            SELECT g, CAST(n_blocks AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
                   chi2_upm,
                   CASE WHEN chi2_upm IS NULL OR chi2_upm <= 0 THEN 1000000
                        ELSE LEAST(1000000,
                          CAST((2 * 3 * 1000000000000::HUGEINT) // chi2_upm AS BIGINT))
                   END AS p_ppm
            FROM st ORDER BY g"""))

  /** Cochran's Q ([[graft.operators.Agreement.cochranQ]] — k = 3 paired
    * binary classifiers over 477 items per priority (477 breaks the
    * mod-10 cycle so null column totals differ slightly instead of
    * vanishing identically); planted: '1-URGENT' classifier 2 succeeds at
    * 90 % vs the 60 % base (simulated: p ≈ 36 588 ppm rejects, nulls
    * clamp at 10⁶). */
  val q387_cochran_q = Q(
    "q387_cochran_q",
    (s, dir) => {
      val items = t(s, dir, "orders")
        .select(col("o_orderpriority").as("g"), pmod(col("o_orderkey"), lit(477L)).as("i"))
        .distinct()
      val obs = items
        .select(col("g"), col("i"), explode(sequence(lit(0L), lit(2L))).as("j"))
        .withColumn("sc",
          (pmod(col("i") * 31L + col("j") * 17L + 7L, lit(10L)) <
            when(col("g") === "1-URGENT" && col("j") === 2L, 9L).otherwise(6L))
            .cast("long"))
      graft.operators.Agreement.cochranQ(obs, "i", "j", "sc", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH items AS (
              SELECT DISTINCT o_orderpriority AS g, o_orderkey % 477 AS i FROM orders),
            obs AS (
              SELECT g, i, j,
                     CASE WHEN (i * 31 + j * 17 + 7) % 10 <
                       CASE WHEN g = '1-URGENT' AND j = 2 THEN 9 ELSE 6 END
                       THEN 1 ELSE 0 END AS sc
              FROM items, UNNEST([0, 1, 2]) AS t(j)),
            rowt AS (SELECT g, i, SUM(sc) AS li FROM obs GROUP BY 1, 2),
            colt AS (SELECT g, j, SUM(sc) AS cj FROM obs GROUP BY 1, 2),
            ra AS (
              SELECT g, COUNT(*) AS n_items, SUM(li) AS n_success,
                     SUM(CAST(li AS HUGEINT) * li) AS l2
              FROM rowt GROUP BY 1),
            ca AS (SELECT g, SUM(CAST(cj AS HUGEINT) * cj) AS c2 FROM colt GROUP BY 1),
            st AS (
              SELECT ra.g, n_items, 3 AS k, n_success,
                     CASE WHEN 3 * CAST(n_success AS HUGEINT) - l2 = 0 THEN NULL
                          ELSE CAST((2 * (3 * c2 - CAST(n_success AS HUGEINT) * n_success)
                            * 1000000) // (3 * CAST(n_success AS HUGEINT) - l2) AS BIGINT)
                     END AS q_upm
              FROM ra JOIN ca ON ra.g = ca.g)
            SELECT g, CAST(n_items AS BIGINT) AS n_items, CAST(k AS BIGINT) AS k,
                   CAST(n_success AS BIGINT) AS n_success, q_upm,
                   CASE WHEN q_upm IS NULL OR q_upm <= 0 THEN 1000000
                        ELSE LEAST(1000000,
                          CAST((2 * 2 * 1000000000000::HUGEINT) // q_upm AS BIGINT))
                   END AS p_ppm
            FROM st ORDER BY g"""))

  /** Quadratically weighted Cohen's κ ([[graft.operators.Agreement
    * .weightedKappaQuadratic]] — ordinal 0–4 labels per language; rater b
    * echoes rater a except on the 1/7 residue, where it slips 1–3 grades;
    * the expected-disagreement term is a label-grid cross join of the two
    * marginal censuses, exact HUGEINT end to end). */
  val q388_weighted_kappa = Q(
    "q388_weighted_kappa",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("lang"),
        pmod(col("doc_id"), lit(5L)).as("a"),
        when(pmod(col("doc_id"), lit(7L)) === 0L,
          pmod(pmod(col("doc_id"), lit(5L)) + 1L + pmod(col("doc_id"), lit(3L)), lit(5L)))
          .otherwise(pmod(col("doc_id"), lit(5L))).as("b"))
      graft.operators.Agreement.weightedKappaQuadratic(d, "a", "b", Seq("lang"))
        .orderBy("lang")
    },
    Some("""WITH r AS (
              SELECT lang,
                     doc_id % 5 AS a,
                     CASE WHEN doc_id % 7 = 0
                          THEN (doc_id % 5 + 1 + doc_id % 3) % 5
                          ELSE doc_id % 5 END AS b
              FROM documents),
            base AS (
              SELECT lang, COUNT(*) AS n, SUM((a - b) * (a - b)) AS wo_num
              FROM r GROUP BY 1),
            ra AS (SELECT lang, a, COUNT(*) AS rc FROM r GROUP BY 1, 2),
            rb AS (SELECT lang, b, COUNT(*) AS cc FROM r GROUP BY 1, 2),
            we AS (
              SELECT ra.lang,
                     SUM((a - b) * (a - b) * CAST(rc AS HUGEINT) * cc) AS we_num
              FROM ra JOIN rb ON ra.lang = rb.lang GROUP BY 1)
            SELECT base.lang, CAST(n AS BIGINT) AS n, CAST(wo_num AS BIGINT) AS wo_num,
                   CAST(we_num AS BIGINT) AS we_num,
                   CASE WHEN we_num = 0 THEN NULL ELSE
                     CAST(CASE WHEN we_num - CAST(n AS HUGEINT) * wo_num < 0
                               THEN -1 ELSE 1 END *
                       (abs(we_num - CAST(n AS HUGEINT) * wo_num) * 1000000 // we_num)
                       AS BIGINT)
                   END AS kappa_ppm
            FROM base JOIN we ON base.lang = we.lang ORDER BY 1"""))

  /** Mann–Kendall trend monitor ([[graft.operators.Drift.mannKendall]] —
    * the nonparametric monotone-trend test over the daily order-count
    * series per priority; planted: '1-URGENT' gains +3·day (simulated:
    * S ≈ +1121, trend = +1; null series sit under the 1.96 rational). */
  val q389_mann_kendall = Q(
    "q389_mann_kendall",
    (s, dir) => {
      val series = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("g"), pmod(col("o_orderkey"), lit(50L)).as("d"))
        .agg(count(lit(1)).as("c"))
        .withColumn("v",
          col("c") + when(col("g") === "1-URGENT", col("d") * 3L).otherwise(0L))
      graft.operators.Drift.mannKendall(series, "d", "v", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH series AS (
              SELECT g, d, COUNT(*) + CASE WHEN g = '1-URGENT' THEN d * 3 ELSE 0 END AS v
              FROM (SELECT o_orderpriority AS g, o_orderkey % 50 AS d FROM orders)
              GROUP BY g, d),
            sgn AS (
              SELECT a.g,
                     SUM(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END) AS s
              FROM series a JOIN series b ON a.g = b.g AND b.d > a.d
              GROUP BY 1),
            ties AS (
              SELECT g, SUM(tc) AS n,
                     SUM(tc * (tc - 1) * (2 * tc + 5)) AS tsum
              FROM (SELECT g, v, COUNT(*) AS tc FROM series GROUP BY 1, 2)
              GROUP BY 1)
            SELECT ties.g, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
                   CAST(n * (n - 1) * (2 * n + 5) - tsum AS BIGINT) AS var18,
                   CAST(CASE WHEN s = 0 OR n < 2 THEN 0
                        WHEN 11250 * CAST(abs(s) - 1 AS HUGEINT) * (abs(s) - 1) >=
                             2401 * (n * (n - 1) * (2 * n + 5) - tsum)
                        THEN CASE WHEN s > 0 THEN 1 ELSE -1 END
                        ELSE 0 END AS BIGINT) AS trend
            FROM ties JOIN sgn ON ties.g = sgn.g ORDER BY 1"""))

  /** Hash-derandomized permutation test ([[graft.ml.Regress
    * .permutationTestHashed]] — the assumption-free A/B significance
    * check: 64 deterministic relabelings, mean-difference comparison by
    * exact integer cross-multiplication, add-one p. Planted: arm b gains
    * +60 on '1-URGENT' — p hits the 1/65 floor = 15 384 ppm while the
    * null priorities spread over ~0.1–0.8 (measured on live data; the
    * spread itself was the fix signal — see the operator scaladoc on why
    * the pick hash must be SQUARED). */
  val q392_permutation_test = Q(
    "q392_permutation_test",
    (s, dir) => {
      val d = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        col("o_orderkey").as("k"),
        when(pmod(col("o_orderkey"), lit(2L)) === 1L, "b").otherwise("a").as("arm"),
        (pmod(col("o_orderkey") * 48271L, lit(1000L)) +
          when(col("o_orderpriority") === "1-URGENT" &&
            pmod(col("o_orderkey"), lit(2L)) === 1L, 60L).otherwise(0L)).as("v"))
      graft.ml.Regress
        .permutationTestHashed(d, "k", "v", "arm", "a", "b", Seq("g"), reps = 64)
        .orderBy("g")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g, o_orderkey AS k,
                     (o_orderkey % 2 = 1) AS isb,
                     (o_orderkey * 48271) % 1000 +
                       CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 1
                            THEN 60 ELSE 0 END AS v
              FROM orders),
            obs AS (
              SELECT g,
                     SUM(CASE WHEN NOT isb THEN 1 ELSE 0 END) AS na,
                     SUM(CASE WHEN NOT isb THEN v ELSE 0 END) AS sa,
                     SUM(CASE WHEN isb THEN 1 ELSE 0 END) AS nb,
                     SUM(CASE WHEN isb THEN v ELSE 0 END) AS sb
              FROM d GROUP BY 1),
            reps AS (
              SELECT g, i,
                     SUM(CASE WHEN pick THEN 1 ELSE 0 END) AS nai,
                     SUM(CASE WHEN pick THEN v ELSE 0 END) AS sai,
                     COUNT(*) AS ni, SUM(v) AS si
              FROM (SELECT g, v, i,
                           (h * h) % 2147483647 < 1073741823 AS pick
                    FROM (SELECT g, v, i,
                                 ((k % 2147483647) * 2654435761 + i * 48271 + 1)
                                   % 2147483647 AS h
                          FROM d, UNNEST(range(64)) AS t(i)))
              GROUP BY 1, 2),
            ext AS (
              SELECT r.g,
                     CASE WHEN nai = 0 OR ni - nai = 0 THEN 1
                          WHEN abs(CAST(sai AS HUGEINT) * (ni - nai) -
                                   CAST(si - sai AS HUGEINT) * nai) *
                               (CAST(na AS HUGEINT) * nb) >=
                               abs(CAST(sa AS HUGEINT) * nb -
                                   CAST(sb AS HUGEINT) * na) *
                               (CAST(nai AS HUGEINT) * (ni - nai))
                          THEN 1 ELSE 0 END AS ex
              FROM reps r JOIN obs o ON r.g = o.g)
            SELECT obs.g, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                   CAST(abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na)
                     AS BIGINT) AS t_num,
                   x.n_extreme,
                   CAST(((1 + x.n_extreme) * 1000000) // 65 AS BIGINT) AS p_ppm
            FROM obs JOIN (SELECT g, SUM(ex)::BIGINT AS n_extreme FROM ext GROUP BY 1) x
              ON obs.g = x.g
            ORDER BY 1"""))

  /** Wald–Wolfowitz runs test ([[graft.operators.Drift.runsTest]] — the
    * residual-sign randomness monitor over the 50-day grid per priority;
    * planted: '1-URGENT' is TRUE for the first half only (2 runs →
    * verdict −1 clustering); nulls carry the squared-hash sign (the q392
    * scheme — a plain modular sign ALTERNATED regularly enough to read
    * verdict +1, caught by eyeballing the output) and stay at 0). */
  val q394_runs_test = Q(
    "q394_runs_test",
    (s, dir) => {
      val series = t(s, dir, "orders")
        .select(col("o_orderpriority").as("g"), pmod(col("o_orderkey"), lit(50L)).as("d"))
        .distinct()
        .withColumn("__h", pmod(col("d") * 2654435761L + 1L, lit(2147483647L)))
        .withColumn("b",
          when(col("g") === "1-URGENT", col("d") < 25L)
            .otherwise(pmod(col("__h") * col("__h"), lit(2147483647L)) < 1073741823L))
        .drop("__h")
      graft.operators.Drift.runsTest(series, "d", "b", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH series AS (
              SELECT g, d,
                     CASE WHEN g = '1-URGENT' THEN d < 25
                          ELSE (h * h) % 2147483647 < 1073741823 END AS b
              FROM (SELECT g, d, (d * 2654435761 + 1) % 2147483647 AS h
                    FROM (SELECT DISTINCT o_orderpriority AS g, o_orderkey % 50 AS d
                          FROM orders))),
            runs AS (
              SELECT g, COUNT(*) AS n,
                     SUM(CASE WHEN b THEN 1 ELSE 0 END) AS n_true,
                     SUM(CASE WHEN pb IS NULL OR pb <> b THEN 1 ELSE 0 END) AS runs
              FROM (SELECT g, b, LAG(b) OVER (PARTITION BY g ORDER BY d) AS pb
                    FROM series)
              GROUP BY 1),
            st AS (
              SELECT g, n, n_true, runs,
                     2 * n_true * (n - n_true) AS p,
                     runs * n - n - 2 * n_true * (n - n_true) AS dd
              FROM runs)
            SELECT g, CAST(n AS BIGINT) AS n, CAST(n_true AS BIGINT) AS n_true,
                   CAST(runs AS BIGINT) AS runs,
                   CAST(CASE WHEN n_true = 0 OR n = n_true OR n < 2 THEN 0
                        WHEN 625 * CAST(dd AS HUGEINT) * dd * (n - 1) >=
                             2401 * CAST(p AS HUGEINT) * (p - n)
                        THEN CASE WHEN dd > 0 THEN 1 WHEN dd < 0 THEN -1 ELSE 0 END
                        ELSE 0 END AS BIGINT) AS verdict
            FROM st ORDER BY 1"""))

  /** Kendall's W ([[graft.operators.RankStats.kendallW]] — judge
    * concordance as the normalized Friedman statistic, W = T/(m(k−1)):
    * 6 judges × 10 items per priority; '1-URGENT' judges see a dominant
    * item-quality signal (W = exactly 10⁶ — identical rankings), the
    * null priorities rank pure judge-specific noise (W ≈ 0.09). */
  val q395_kendall_w = Q(
    "q395_kendall_w",
    (s, dir) => {
      val groups = t(s, dir, "orders").select(col("o_orderpriority").as("g")).distinct()
      val obs = groups
        .select(col("g"), explode(sequence(lit(0L), lit(5L))).as("j"))
        .select(col("g"), col("j"), explode(sequence(lit(0L), lit(9L))).as("i"))
        .withColumn("v",
          when(col("g") === "1-URGENT",
            col("i") * 100L + pmod(col("j") * 7L + col("i") * 3L, lit(10L)))
            .otherwise(pmod(col("i") * 13L + col("j") * 29L + 5L, lit(97L))))
      graft.operators.RankStats.kendallW(obs, "j", "i", "v", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH groups AS (SELECT DISTINCT o_orderpriority AS g FROM orders),
            obs AS (
              SELECT g, j, i,
                     CASE WHEN g = '1-URGENT'
                          THEN i * 100 + (j * 7 + i * 3) % 10
                          ELSE (i * 13 + j * 29 + 5) % 97 END AS v
              FROM groups, UNNEST(range(6)) AS tj(j), UNNEST(range(10)) AS ti(i)),
            ranked AS (
              SELECT g, j, i,
                     2 * (RANK() OVER (PARTITION BY g, j ORDER BY v) - 1) +
                       COUNT(*) OVER (PARTITION BY g, j, v) + 1 AS r2
              FROM obs),
            peri AS (
              SELECT g, i, SUM(r2) AS R2, COUNT(*) AS m, SUM(r2 * r2) AS a4j
              FROM ranked GROUP BY 1, 2),
            agg AS (
              SELECT g, MAX(m) AS m, 10 AS k,
                     SUM(CAST(R2 - m * 11 AS HUGEINT) * (R2 - m * 11)) AS num0,
                     SUM(CAST(a4j AS HUGEINT)) AS a4
              FROM peri GROUP BY 1),
            st AS (
              SELECT g, m, k,
                     CASE WHEN a4 = CAST(m AS HUGEINT) * 10 * 121 THEN NULL
                          ELSE CAST((9 * num0 * 1000000) //
                            (a4 - CAST(m AS HUGEINT) * 10 * 121) AS BIGINT)
                     END AS chi2_upm
              FROM agg)
            SELECT g, CAST(m AS BIGINT) AS n_judges, CAST(k AS BIGINT) AS k,
                   CASE WHEN chi2_upm IS NULL THEN NULL
                        ELSE CAST(chi2_upm // (m * 9) AS BIGINT) END AS w_ppm,
                   chi2_upm,
                   CASE WHEN chi2_upm IS NULL OR chi2_upm <= 0 THEN 1000000
                        ELSE LEAST(1000000,
                          CAST((2 * 9 * 1000000000000::HUGEINT) // chi2_upm AS BIGINT))
                   END AS p_ppm
            FROM st ORDER BY g"""))

  /** Page's trend test ([[graft.operators.RankStats.pageTrendTest]] — the
    * DIRECTIONAL Friedman over the q386 block design on a tie-free value
    * grid (v = noise·4 + s makes within-block values provably distinct);
    * '1-URGENT' improves with system order (+800·s lift, trend +1),
    * '5-LOW' degrades (−800·s, trend −1), the rest sit at 0. */
  val q396_page_trend = Q(
    "q396_page_trend",
    (s, dir) => {
      val blocks = t(s, dir, "orders")
        .select(col("o_orderpriority").as("g"), pmod(col("o_orderkey"), lit(400L)).as("b"))
        .distinct()
      val obs = blocks
        .select(col("g"), col("b"), explode(sequence(lit(0L), lit(3L))).as("sy"))
        .withColumn("v",
          pmod((col("b") + 7L) * (col("sy") + 3L) * 48271L, lit(1000L)) * 4L + col("sy") +
            when(col("g") === "1-URGENT", col("sy") * 800L)
              .when(col("g") === "5-LOW", -col("sy") * 800L).otherwise(0L))
      graft.operators.RankStats.pageTrendTest(obs, "b", "sy", "v", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH blocks AS (
              SELECT DISTINCT o_orderpriority AS g, o_orderkey % 400 AS b FROM orders),
            obs AS (
              SELECT g, b, sy,
                     ((b + 7) * (sy + 3) * 48271) % 1000 * 4 + sy +
                       CASE WHEN g = '1-URGENT' THEN sy * 800
                            WHEN g = '5-LOW' THEN -sy * 800 ELSE 0 END AS v
              FROM blocks, UNNEST([0, 1, 2, 3]) AS t(sy)),
            ranked AS (
              SELECT g, b, sy,
                     2 * ROW_NUMBER() OVER (PARTITION BY g, b ORDER BY v) AS r2
              FROM obs),
            agg AS (
              SELECT g, COUNT(DISTINCT b) AS n_blocks, 4 AS k,
                     SUM((sy + 1) * r2) AS l2
              FROM ranked GROUP BY 1),
            st AS (
              SELECT g, n_blocks, k, l2,
                     2 * CAST(l2 AS HUGEINT) - CAST(n_blocks AS HUGEINT) * 4 * 25 AS d
              FROM agg)
            SELECT g, CAST(n_blocks AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
                   CAST(l2 AS BIGINT) AS l2,
                   CAST(CASE WHEN 22500 * d * d >=
                          9604 * CAST(n_blocks AS HUGEINT) * 16 * 25 * 3
                        THEN CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END
                        ELSE 0 END AS BIGINT) AS trend
            FROM st ORDER BY g"""))

  val all: Seq[Q] = Seq(
    q210_ab_chisq, q292_target_encoding, q321_ks_test, q322_mann_whitney, q323_spearman,
    q324_roc_auc, q325_normal_equations, q326_bootstrap_ci, q327_kendall, q337_theil_sen,
    q339_isotonic, q340_kruskal_wallis, q343_bootstrap_ratio, q345_ranking_eval,
    q352_avg_precision, q353_calibration_ece, q354_sprt, q356_conformal, q357_gains, q360_bh_fdr,
    q362_drift_fdr_monitor, q363_cohen_kappa, q364_fleiss_kappa, q365_mcnemar, q366_wilcoxon,
    q367_cliffs_delta, q368_brier, q369_log_rank, q370_nelson_aalen, q371_cuped,
    q374_bradley_terry, q375_gini, q377_majority_vote, q378_krippendorff, q379_winsorized,
    q381_post_strat_ate, q382_qte, q386_friedman, q387_cochran_q, q388_weighted_kappa,
    q389_mann_kendall, q392_permutation_test, q394_runs_test, q395_kendall_w, q396_page_trend)
}
