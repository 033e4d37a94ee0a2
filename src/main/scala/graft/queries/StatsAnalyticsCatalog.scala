package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QueryDsl._

/** Catalog family, statistics sub-family: sketches, robust aggregates,
  * time-series monitors and event analytics — funnels, retention,
  * attribution, sequences and survival curves. COVERAGE.md sketch,
  * monitoring and event-analytics rows. Registered in [[graft.Queries]]. */
private[graft] object StatsAnalyticsCatalog {

  /** Robust MAD outlier tagging (telemetry-cleaning op): per event type,
    * |value − median| > 3·MAD. Both engines compute median/MAD from
    * identical doubles with the same interpolation rule, so the boundary
    * comparison is deterministic; outputs are exact counts + rounded
    * robust statistics. */
  val q99_mad_outliers = Q(
    "q99_mad_outliers",
    (s, dir) => {
      val e = t(s, dir, "events")
      graft.operators.Outliers.madOutliers(e, "value", Seq("event_type"), k = 3.0)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("is_outlier").cast("long")).cast("long").as("n_outliers"))
        .orderBy("event_type")
    },
    Some("""WITH med AS (
              SELECT event_type, MEDIAN(value) AS m FROM events GROUP BY 1),
            mad AS (
              SELECT e.event_type, MEDIAN(ABS(e.value - med.m)) AS d
              FROM events e JOIN med USING (event_type) GROUP BY 1)
            SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN ABS(e.value - med.m) > mad.d * 3.0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM events e JOIN med USING (event_type) JOIN mad ON mad.event_type = e.event_type
            GROUP BY 1 ORDER BY 1"""))

  /** Time-series gap filling (imputation op): hourly per-type event counts
    * on the full observed grid, empty hours LOCF-imputed (~40 gap hours per
    * type at sf0.01); leading gaps stay NULL — imputing them would invent
    * data. The metric is an exact count, so imputed values are
    * engine-deterministic. */
  val q100_gap_fill = Q(
    "q100_gap_fill",
    (s, dir) => {
      val e = t(s, dir, "events")
      graft.time.GapFill.locfCounts(e, "ts", Seq("event_type"), bucketSeconds = 3600L)
        .orderBy("event_type", "bucket_start")
    },
    Some("""WITH c AS (
              SELECT event_type, epoch_us(ts) // 3600000000 AS b,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2),
            bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM c),
            spine AS (
              SELECT et.event_type, u.b
              FROM (SELECT DISTINCT event_type FROM events) et,
                   bounds, UNNEST(range(bounds.lo, bounds.hi + 1)) AS u(b)),
            j AS (SELECT s.event_type, s.b, c.n
                  FROM spine s LEFT JOIN c ON c.event_type = s.event_type AND c.b = s.b)
            SELECT event_type, CAST(b * 3600 AS BIGINT) AS bucket_start,
                   CAST(last_value(n IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_filled,
                   CAST(n IS NULL AS BIGINT) AS was_filled
            FROM j ORDER BY event_type, bucket_start"""))

  /** Ordered conversion funnel (product-analytics op): per user, the first
    * view, the first click strictly after it, the first purchase strictly
    * after that — three user-keyed aggregations, each stage filtering on
    * the previous stage's timestamp. Exact timestamp comparisons in
    * microseconds; counts per stage. */
  val q106_funnel = Q(
    "q106_funnel",
    (s, dir) => {
      val e = t(s, dir, "events")
      // each stage frame feeds BOTH its own count and the next stage —
      // localCheckpoint so the events scan + aggregation runs once per
      // stage instead of once per consumer
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts")).localCheckpoint()
      val c = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts")).localCheckpoint()
      val p = e.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("c_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      val stages = Seq(("1_view", v), ("2_click_after_view", c), ("3_purchase_after_click", p))
      stages.map { case (name, df) =>
        df.agg(count(lit(1)).cast("long").as("n_users")).select(lit(name).as("stage"), col("n_users"))
      }.reduce(_ unionByName _).orderBy("stage")
    },
    Some("""WITH v AS (
              SELECT user_id, MIN(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY 1),
            c AS (
              SELECT e.user_id, MIN(e.ts) AS c_ts
              FROM events e JOIN v ON v.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
            p AS (
              SELECT e.user_id, MIN(e.ts) AS p_ts
              FROM events e JOIN c ON c.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
            SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
            UNION ALL SELECT '2_click_after_view', CAST(COUNT(*) AS BIGINT) FROM c
            UNION ALL SELECT '3_purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM p
            ORDER BY stage"""))

  /** Cohort retention (product-analytics op): users grouped by first-seen
    * day, retention = distinct active users at each day offset. Two
    * aggregations (first-seen, distinct user-day activity) joined on the
    * user key. Integer day arithmetic on epoch seconds — exact. */
  val q107_cohort_retention = Q(
    "q107_cohort_retention",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("week", expr("CAST(ts AS LONG) div 86400"))
      val firstSeen = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
      val active = e.select(col("user_id"), col("week")).distinct()
      active.join(firstSeen, Seq("user_id"))
        .groupBy(col("cohort"), (col("week") - col("cohort")).as("offset"))
        .agg(countDistinct(col("user_id")).cast("long").as("n_users"))
        .select(col("cohort").cast("long").as("cohort"), col("offset").cast("long").as("offset"), col("n_users"))
        .orderBy("cohort", "offset")
    },
    Some("""WITH w AS (
              SELECT user_id, epoch_us(ts) // 86400000000 AS week FROM events),
            f AS (SELECT user_id, MIN(week) AS cohort FROM w GROUP BY 1),
            a AS (SELECT DISTINCT user_id, week FROM w)
            SELECT CAST(f.cohort AS BIGINT) AS cohort,
                   CAST(a.week - f.cohort AS BIGINT) AS "offset",
                   CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
            FROM a JOIN f ON f.user_id = a.user_id
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Count-Min heavy hitters (sketch family): one-pass 4×512 counter
    * matrix over lineitem part keys — a fixed 16 KiB artifact instead of
    * the per-key shuffle an exact count needs — probed for the top-10
    * exact keys so the `estimate >= exact` guarantee is visible in the
    * output. The sketch's merge is commutative integer addition, so the
    * matrix is DETERMINISTIC under any partitioning and the oracle replays
    * every cell exactly: per-key xxhash64 (via `tools.OracleSql`), the
    * Kirsch–Mitzenmacher buckets, the four bucket sums, and the min. */
  val q113_heavy_hitters = Q(
    "q113_heavy_hitters",
    (s, dir) => {
      import graft.operators.Sketches
      // keys stay BIGINT end to end: the sketch is built from pre-hashed
      // xxhash64(long) values (CountMinAgg's array<long> form) and probed
      // with the same hash — and the oracle replays the fixed-8-byte
      // XXH64 form (~6 SQL stages) instead of the ~40-stage string form
      val keys = t(s, dir, "lineitem").select(col("l_partkey").as("k"))
      val art = Sketches.buildCountMin(keys, array(xxhash64(col("k"))), depth = 4, width = 512)
      keys
        .groupBy("k")
        .agg(count(lit(1)).cast("long").as("exact"))
        .orderBy(col("exact").desc, col("k"))
        .limit(10)
        .withColumn("est", Sketches.countMinEstimate(art, xxhash64(col("k"))))
        .select(col("k").as("partkey"), col("exact"), col("est"))
        .orderBy("partkey")
    },
    Some {
      import graft.tools.OracleSql._
      // group BEFORE hashing: the exact counts ride through the XXH64
      // stages (they pass non-hash columns along), so only distinct keys
      // pay the staged-expression cost
      val keys = "SELECT l_partkey AS k, COUNT(*) AS exact FROM lineitem GROUP BY 1"
      val hashed = xxhash64LongStages(keys, "k", "kh", pfx = "__c")
      val buckets = (0 until 4)
        .map(i => s"CAST(((h1 + $i * h2) % 4294967296) % 512 AS BIGINT) AS g$i")
        .mkString(", ")
      val sums = (0 until 4)
        .map(i => s"s$i AS (SELECT g$i, SUM(exact) AS c FROM b GROUP BY 1)")
        .mkString(",\n            ")
      val joins = (0 until 4).map(i => s"JOIN s$i ON top.g$i = s$i.g$i").mkString(" ")
      s"""WITH wc AS (
            SELECT k, kh, exact FROM ($hashed)),
          hu AS (
            SELECT k, exact,
                   CASE WHEN kh < 0 THEN kh::HUGEINT + 18446744073709551616::HUGEINT
                        ELSE kh::HUGEINT END AS u
            FROM wc),
          b AS (
            SELECT k, exact, $buckets
            FROM (SELECT k, exact, u % 4294967296 AS h1, u // 4294967296 AS h2 FROM hu)),
          $sums,
          top AS (SELECT * FROM b ORDER BY exact DESC, k LIMIT 10)
          SELECT CAST(top.k AS BIGINT) AS partkey, CAST(top.exact AS BIGINT) AS exact,
                 CAST(LEAST(s0.c, s1.c, s2.c, s3.c) AS BIGINT) AS est
          FROM top $joins
          ORDER BY partkey"""
    })

  /** The DuckDB replay of [[graft.operators.Sketches]]' HLL at p = 8
    * (m = 256 registers), per group column `g`: `hllHashSql` turns the
    * signed xxhash64 `kh` of each `hashed` row into unsigned `u` (CTE
    * `hu`), `hllRankSql` splits it into register `j` and rank `rho` (CTE
    * `jr`), and `hllFoldSql` folds `regs(g, j, mm)` into
    * `folded(g, registers_used, sh)`; the raw estimate is
    * `hllScale / sh`. */
  private val HllM = 256

  private val hllScale = 0.7213 / (1.0 + 1.079 / HllM) * HllM.toDouble * HllM.toDouble

  private def hllHashSql(g: String, hashed: String): String =
    s"""hu AS (
            SELECT $g,
                   CASE WHEN kh < 0 THEN kh::HUGEINT + 18446744073709551616::HUGEINT
                        ELSE kh::HUGEINT END AS u
            FROM ($hashed))"""

  private def hllRankSql(g: String): String =
    s"""jr AS (
            SELECT $g, CAST(u % $HllM AS BIGINT) AS j,
                   CASE WHEN u // $HllM = 0 THEN 57
                        ELSE 57 - length(bin(CAST(u // $HllM AS BIGINT))) END AS rho
            FROM hu)"""

  private def hllFoldSql(g: String): String =
    s"""folded AS (
            SELECT $g, CAST(COUNT(*) AS BIGINT) AS registers_used,
                   list_reduce(
                     [$HllM.0 - COUNT(*)] || list(1.0 / (1::BIGINT << mm) ORDER BY j),
                     (a, b) -> a + b) AS sh
            FROM regs GROUP BY 1)"""

  /** HyperLogLog distinct-order-keys per return flag (sketch family,
    * p=8 → 256 registers): register table + RAW harmonic estimate beside
    * the exact distinct count. The registers are max-merged — order
    * independent — and the estimate folds exact dyadic 2^-M terms in
    * register order from a fixed start, so even the double is bit-stable
    * and the oracle replays it to the last ulp (the libm-dependent
    * small-range correction is deliberately omitted — see
    * `Sketches.hllEstimate`). */
  val q114_hll_distinct = Q(
    "q114_hll_distinct",
    (s, dir) => {
      import graft.operators.Sketches
      // BIGINT keys: xxhash64(long) replays via the fixed-8-byte oracle form
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_orderkey").as("k"))
      val regs = Sketches.hllRegisters(li, Seq("flag"), xxhash64(col("k")), p = 8)
      val est = Sketches.hllEstimate(regs, Seq("flag"), p = 8)
      li.groupBy("flag")
        .agg(countDistinct(col("k")).cast("long").as("exact"))
        .join(est, Seq("flag"))
        .select(col("flag"), col("exact"), col("registers_used"), col("hll_est"))
        .orderBy("flag")
    },
    Some {
      import graft.tools.OracleSql._
      // DISTINCT first: HLL registers are a MAX per (flag, bucket), so
      // duplicate keys cannot change them — and only distinct keys then
      // pay the staged-XXH64 cost (~4× fewer at lineitem granularity)
      val keys = "SELECT DISTINCT l_returnflag AS flag, l_orderkey AS k FROM lineitem"
      val hashed = xxhash64LongStages(keys, "k", "kh", pfx = "__h")
      s"""WITH ${hllHashSql("flag", hashed)},
          ${hllRankSql("flag")},
          regs AS (SELECT flag, j, MAX(rho) AS mm FROM jr GROUP BY 1, 2),
          ${hllFoldSql("flag")},
          exact AS (
            SELECT l_returnflag AS flag, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact
            FROM lineitem GROUP BY 1)
          SELECT e.flag, e.exact, f.registers_used, $hllScale / f.sh AS hll_est
          FROM exact e JOIN folded f USING (flag)
          ORDER BY flag"""
    })

  /** Incremental-ingest cardinality via HLL artifact merge: two lineitem
    * batches (order-key parity) build INDEPENDENT register tables, merged
    * by register max — the persistable-artifact property (per-batch
    * sketches, query-time union; old batches never rescan). The oracle
    * builds registers over the union directly: max-merge means the two
    * must agree bit-for-bit, estimate included. */
  val q125_hll_union = Q(
    "q125_hll_union",
    (s, dir) => {
      import graft.operators.Sketches
      // the key is the (partkey, orderkey) PAIR, hashed as two chained
      // BIGINT arguments — Spark's multi-arg xxhash64 seeds each argument
      // with the previous result, and the oracle replays the chain in the
      // fixed-8-byte form (two short stage blocks, no string machinery)
      val li = t(s, dir, "lineitem").select(
        col("l_linestatus").as("status"),
        col("l_orderkey").as("okey"),
        col("l_partkey").as("pkey"))
      def regs(parity: Int) = Sketches.hllRegisters(
        li.filter(col("okey") % 2 === parity), Seq("status"),
        xxhash64(col("pkey"), col("okey")), p = 8)
      val merged = Sketches.hllMergeRegisters(regs(0), regs(1), Seq("status"))
      li.groupBy("status")
        .agg(countDistinct(col("pkey"), col("okey")).cast("long").as("exact"))
        .join(Sketches.hllEstimate(merged, Seq("status"), p = 8), Seq("status"))
        .select(col("status"), col("exact"), col("registers_used"), col("hll_est"))
        .orderBy("status")
    },
    Some {
      import graft.tools.OracleSql._
      // DISTINCT triples first (register MAXes are duplicate-invariant)
      val keys =
        "SELECT DISTINCT l_linestatus AS status, l_partkey AS pk, l_orderkey AS ok FROM lineitem"
      val h1 = xxhash64LongStages(keys, "pk", "kh1", pfx = "__g")
      val hashed = xxhash64LongStages(h1, "ok", "kh", pfx = "__h", seed = unsignedOf("kh1"))
      s"""WITH ${hllHashSql("status", hashed)},
          ${hllRankSql("status")},
          regs AS (SELECT status, j, MAX(rho) AS mm FROM jr GROUP BY 1, 2),
          ${hllFoldSql("status")},
          exact AS (
            SELECT l_linestatus AS status,
                   CAST(COUNT(DISTINCT (l_partkey, l_orderkey)) AS BIGINT) AS exact
            FROM lineitem GROUP BY 1)
          SELECT e.status, e.exact, f.registers_used, $hllScale / f.sh AS hll_est
          FROM exact e JOIN folded f USING (status)
          ORDER BY status"""
    })

  /** Distribution-drift monitoring (corpus-refresh guardrail): per event
    * type, total-variation distance between the month-halves' value
    * distributions over a fixed 16-bucket grid — reported as the EXACT
    * integer numerator Σ|n_a·N_b − n_b·N_a| (PSI/KL need libm logs; TVD
    * in integers is bit-reproducible anywhere). */
  val q142_drift_tvd = Q(
    "q142_drift_tvd",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("bucket", least(lit(15L), floor(col("value") / 10.0).cast("long")))
      val a = e.filter(dayofmonth(col("ts")) <= 15)
      val b = e.filter(dayofmonth(col("ts")) > 15)
      graft.operators.Drift.tvdNumerator(a, b, Seq("event_type"), "bucket")
        .orderBy("event_type")
    },
    Some("""WITH bucketed AS (
              SELECT event_type,
                     LEAST(15, CAST(FLOOR(value / 10.0) AS BIGINT)) AS bucket,
                     EXTRACT(day FROM ts) AS dom
              FROM events),
            ca AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS na
                   FROM bucketed WHERE dom <= 15 GROUP BY 1, 2),
            cb AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS nb
                   FROM bucketed WHERE dom > 15 GROUP BY 1, 2),
            j AS (SELECT COALESCE(ca.event_type, cb.event_type) AS event_type,
                         COALESCE(ca.na, 0) AS na, COALESCE(cb.nb, 0) AS nb
                  FROM ca FULL OUTER JOIN cb
                    ON ca.event_type = cb.event_type AND ca.bucket = cb.bucket),
            tot AS (SELECT event_type, CAST(SUM(na) AS BIGINT) AS n_a,
                           CAST(SUM(nb) AS BIGINT) AS n_b
                    FROM j GROUP BY 1)
            SELECT t.event_type, t.n_a, t.n_b,
                   CAST(CASE WHEN t.n_a = 0 OR t.n_b = 0
                             THEN GREATEST(t.n_a, t.n_b)
                             ELSE SUM(ABS(j.na * t.n_b - j.nb * t.n_a)) END
                        AS BIGINT) AS tvd_num
            FROM j JOIN tot t USING (event_type)
            GROUP BY 1, 2, 3 ORDER BY 1"""))

  /** Per-key time-bucketed rate limiting (abuse throttling / event-stream
    * hygiene): at most 3 events per user per hour, chosen deterministically
    * by (ts, event_id) order — capPerGroup over the time bucket. */
  val q146_rate_limit = Q(
    "q146_rate_limit",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("hour", date_trunc("hour", col("ts")))
      val kept = graft.text.Sampling
        .capPerGroup(e, Seq("user_id", "hour"), 3,
          orderBy = Seq(col("ts"), col("event_id")))
      kept.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_kept"))
        .join(
          e.groupBy(col("event_type"))
            .agg(count(lit(1)).cast("long").as("n_total")),
          Seq("event_type"))
        .select(col("event_type"), col("n_total"), col("n_kept"),
          (col("n_total") - col("n_kept")).cast("long").as("n_dropped"))
        .orderBy("event_type")
    },
    Some("""WITH ranked AS (
              SELECT event_type,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts, event_id) AS rn
              FROM events),
            k AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept
                  FROM ranked WHERE rn <= 3 GROUP BY 1),
            tt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_total
                   FROM events GROUP BY 1)
            SELECT tt.event_type, tt.n_total, k.n_kept,
                   CAST(tt.n_total - k.n_kept AS BIGINT) AS n_dropped
            FROM tt JOIN k USING (event_type) ORDER BY 1"""))

  /** Mergeable fixed-grid histogram quantiles: the corpus is split into two
    * shards (user parity), a histogram artifact built per shard, merged
    * (sum-combine — the persistable-artifact property, like the CM/HLL
    * rows), and p50/p90/p99 read back in pure BIGINT arithmetic. Grid
    * quantiles are DETERMINISTIC — unlike rank-error sketches, the merged
    * artifact hash-matches an oracle that never saw the sharding. */
  val q153_quantile_sketch = Q(
    "q153_quantile_sketch",
    (s, dir) => {
      import graft.operators.Sketches
      val e = t(s, dir, "events").select(
        col("event_type"),
        col("user_id").cast("long").as("user_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      val shardA = Sketches.histogramSketch(
        e.filter(col("user_id") % 2 === 0), Seq("event_type"), "cents", width = 500L)
      val shardB = Sketches.histogramSketch(
        e.filter(col("user_id") % 2 === 1), Seq("event_type"), "cents", width = 500L)
      val merged = Sketches.histogramMerge(shardA, shardB, Seq("event_type"))
      Sketches.histogramQuantiles(merged, Seq("event_type"), Seq(50, 90, 99), width = 500L)
        .orderBy("event_type")
    },
    Some("""WITH e AS (
              SELECT event_type,
                CAST(FLOOR(value * 100) AS BIGINT) // 500 AS bucket
              FROM events),
            h AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM e GROUP BY 1, 2),
            c AS (
              SELECT event_type, bucket, cnt,
                CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS cum,
                CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
              FROM h)
            SELECT event_type, CAST(MIN(n) AS BIGINT) AS n,
                   CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bucket * 500 END) AS BIGINT) AS p50,
                   CAST(MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bucket * 500 END) AS BIGINT) AS p90,
                   CAST(MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bucket * 500 END) AS BIGINT) AS p99
            FROM c GROUP BY event_type ORDER BY event_type"""))

  /** Robust trimmed aggregation: per event type, the 10%-trimmed mean of
    * integer cents (drop floor(n/10) rows from each end by value) — the
    * outlier-immune counterpart of q99's MAD detector. Exact BIGINT
    * boundary arithmetic; mean is one exact-int / exact-int division. */
  val q162_trimmed_agg = Q(
    "q162_trimmed_agg",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        col("event_type"), col("event_id").cast("long").as("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      graft.operators.Aggregation.trimmedStats(
          e, Seq("event_type"), "cents", trimPercent = 10, tieBreak = col("event_id"))
        .select(col("event_type"), col("n"), col("n_kept"),
          col("trimmed_sum"), col("kept_min"), col("kept_max"), col("trimmed_mean"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (
              SELECT event_type, event_id::BIGINT AS event_id,
                     CAST(FLOOR(value * 100) AS BIGINT) AS cents
              FROM events),
            ranked AS (
              SELECT event_type, cents,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents ASC, event_id ASC) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM e),
            kept AS (
              SELECT * FROM ranked
              WHERE rn > (n * 10) // 100 AND rn <= n - (n * 10) // 100)
            SELECT event_type, CAST(MIN(n) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(cents) AS BIGINT) AS trimmed_sum,
                   CAST(MIN(cents) AS BIGINT) AS kept_min,
                   CAST(MAX(cents) AS BIGINT) AS kept_max,
                   CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS trimmed_mean
            FROM kept GROUP BY event_type ORDER BY event_type"""))

  /** Ingest-volume anomaly monitor: per event type and day, flag days
    * whose count drops below half the trailing-7-day EXACT median. A
    * synthetic outage (80% of events dropped on days ≡ 3 mod 11) gives
    * the detector real positives; cold-start days (< 3 prior) never
    * flag. The trailing median is a sorted bounded list — BIGINT
    * arithmetic both engines replay exactly. */
  val q164_volume_anomaly = Q(
    "q164_volume_anomaly",
    (s, dir) => {
      val base = t(s, dir, "events").select(
        col("event_type"), col("event_id").cast("long").as("event_id"),
        unix_date(to_date(col("ts"))).cast("long").as("day"))
      val filt = base.filter(!(col("day") % 11 === 3 && col("event_id") % 5 =!= 0))
      val counts = filt.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      graft.operators.Outliers.volumeAnomalies(
          counts, Seq("event_type"), "day", "cnt",
          windowDays = 7, dropNum = 1, dropDen = 2, minPrior = 3)
        .select(col("event_type"), col("day"), col("cnt"),
          col("n_prior"), col("trailing_median"), col("is_anomaly"))
        .orderBy("event_type", "day")
    },
    Some("""WITH base AS (
              SELECT event_type, event_id::BIGINT AS event_id,
                     CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
              FROM events),
            filt AS (SELECT * FROM base WHERE NOT (day % 11 = 3 AND event_id % 5 <> 0)),
            c AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS cnt FROM filt GROUP BY 1, 2),
            h AS (
              SELECT event_type, day, cnt,
                -- an empty frame yields NULL in DuckDB, not [] — coalesce
                list_sort(COALESCE(list(cnt) OVER (PARTITION BY event_type ORDER BY day
                  RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), CAST([] AS BIGINT[]))) AS hist
              FROM c)
            SELECT event_type, day, cnt,
                   CAST(len(hist) AS BIGINT) AS n_prior,
                   CAST(CASE WHEN len(hist) > 0 THEN hist[(len(hist) + 1) // 2] END AS BIGINT) AS trailing_median,
                   (len(hist) >= 3 AND cnt * 2 < hist[(len(hist) + 1) // 2]) AS is_anomaly
            FROM h ORDER BY event_type, day"""))

  /** First-order event transition matrix (clickstream analytics): per
    * user, consecutive event pairs under a TOTAL order (ts, event_id —
    * duplicate timestamps exist, so the tie column is what makes the pair
    * multiset deterministic), aggregated to counts + fixed-point
    * transition probabilities. One user-keyed window shuffle; the per-prev
    * totals re-aggregate the pair counts, never the raw events. */
  val q171_transitions = Q(
    "q171_transitions",
    (s, dir) => {
      import graft.operators.EventAnalytics
      EventAnalytics.transitionMatrix(
          t(s, dir, "events"), "user_id", "event_type", "ts", "event_id")
        .select(
          col("prev_type"), col("cur_type"),
          col("n").cast("long").as("n"),
          col("prob_ppm").cast("long").as("prob_ppm"))
        .orderBy("prev_type", "cur_type")
    },
    Some("""WITH ev AS (
              SELECT user_id, event_type,
                     LAG(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS prev
              FROM events),
            p AS (SELECT prev AS prev_type, event_type AS cur_type,
                         COUNT(*) AS n
                  FROM ev WHERE prev IS NOT NULL GROUP BY 1, 2)
            SELECT prev_type, cur_type, CAST(n AS BIGINT) AS n,
                   CAST((1000000 * n) // SUM(n) OVER (PARTITION BY prev_type)
                        AS BIGINT) AS prob_ppm
            FROM p ORDER BY 1, 2"""))

  /** Seasonal-naive ingest forecast monitor: per event type, daily counts
    * over a DENSE date spine (gap days score as 0 — a silent feed is
    * maximal error, not a missing row), forecast(d) = actual(d-7), scored
    * as integer MAE ppm. The raw volume reduces to (key, day) counts
    * before any window runs — the spine/lag/scoring plan never touches
    * event-sized data. */
  val q172_seasonal_naive = Q(
    "q172_seasonal_naive",
    (s, dir) => {
      import graft.operators.EventAnalytics
      EventAnalytics.seasonalNaiveError(t(s, dir, "events"), "event_type", "ts", period = 7)
        .select(
          col("key").as("event_type"),
          col("days_scored").cast("long").as("days_scored"),
          col("total_actual").cast("long").as("total_actual"),
          col("total_abs_err").cast("long").as("total_abs_err"),
          col("mae_ppm").cast("long").as("mae_ppm"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type AS key, CAST(ts AS DATE) AS day, COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
            spine AS (
              SELECT k.key, UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 DAY))::DATE AS day
              FROM (SELECT DISTINCT key FROM daily) k, bounds b),
            dense AS (
              SELECT s.key, s.day, COALESCE(d.n, 0) AS actual
              FROM spine s LEFT JOIN daily d ON s.key = d.key AND s.day = d.day),
            scored AS (
              SELECT key, actual,
                     LAG(actual, 7) OVER (PARTITION BY key ORDER BY day) AS fc
              FROM dense)
            SELECT key AS event_type,
                   CAST(COUNT(*) AS BIGINT) AS days_scored,
                   CAST(SUM(actual) AS BIGINT) AS total_actual,
                   CAST(SUM(ABS(actual - fc)) AS BIGINT) AS total_abs_err,
                   CAST(CASE WHEN SUM(actual) > 0
                             THEN (1000000 * SUM(ABS(actual - fc))) // SUM(actual)
                        END AS BIGINT) AS mae_ppm
            FROM scored WHERE fc IS NOT NULL
            GROUP BY 1 ORDER BY 1"""))

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
      val keys = """SELECT DISTINCT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
                           user_id AS k FROM events"""
      val hashed = xxhash64LongStages(s"($keys)", "k", "kh", pfx = "__h")
      s"""WITH ${hllHashSql("day", hashed)},
          days AS (SELECT DISTINCT day FROM hu),
          ${hllRankSql("day")},
          shifted AS (
            SELECT jr.day + o.i AS day, j, rho
            FROM jr, (SELECT unnest(range(7)) AS i) o
            WHERE jr.day + o.i IN (SELECT day FROM days)),
          regs AS (SELECT day, j, MAX(rho) AS mm FROM shifted GROUP BY 1, 2),
          ${hllFoldSql("day")},
          exact AS (
            SELECT s.day, CAST(COUNT(DISTINCT k) AS BIGINT) AS exact
            FROM (SELECT hu2.day + o.i AS day, k
                  FROM (SELECT DISTINCT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
                               user_id AS k FROM events) hu2,
                       (SELECT unnest(range(7)) AS i) o
                  WHERE hu2.day + o.i IN (SELECT day FROM days)) s
            GROUP BY 1)
          SELECT e.day, e.exact, f.registers_used, $hllScale / f.sh AS hll_est
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

  /** KMV theta-sketch audience overlap: per event-type pair, the union-
    * sketch common count, kept union size, integer Jaccard estimate, and
    * the exact intersection alongside (the expensive raw-key join the
    * sketch replaces — kept here as the fidelity reference, q200-style).
    * Sketch build rides the custom TopK physical operator (map-side
    * bounded heaps); everything after operates on the groups×k bounded
    * sketch frame. Oracle replays the full hash→min-k→union→rank
    * arithmetic through tools.OracleSql's XXH64-in-SQL. */
  val q204_kmv_overlap = Q(
    "q204_kmv_overlap",
    (s, dir) => {
      import graft.operators.Sketches
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
      val sk = Sketches.kmvSketches(ev, "event_type", "user_id", 64)
      val overlap = Sketches.kmvOverlap(sk, 64)
      val d = ev.distinct().cache()
      val exact = d.as("x")
        .join(d.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("g1"), col("y.event_type").as("g2"))
        .agg(count(lit(1)).as("exact_common"))
      val out = overlap.join(exact, Seq("g1", "g2"), "left")
        .select(
          col("g1"), col("g2"),
          col("kmv_common").cast("long").as("kmv_common"),
          col("union_kept").cast("long").as("union_kept"),
          col("jaccard_est_ppm").cast("long").as("jaccard_est_ppm"),
          coalesce(col("exact_common"), lit(0L)).cast("long").as("exact_common"))
        .orderBy("g1", "g2")
      val materialized = out.localCheckpoint(true)
      d.unpersist()
      materialized
    },
    Some {
      import graft.tools.OracleSql._
      val dist = "SELECT DISTINCT event_type AS g, user_id FROM events"
      val hashed = xxhash64LongStages(dist, "user_id", "h")
      s"""WITH hashed AS ($hashed),
            hs AS (SELECT DISTINCT g, h FROM hashed),
            sk AS (SELECT g, h FROM (
                     SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rk
                     FROM hs) WHERE rk <= 64),
            gs AS (SELECT DISTINCT g FROM sk),
            pairs AS (SELECT a.g AS g1, b.g AS g2 FROM gs a JOIN gs b ON a.g < b.g),
            merged AS (SELECT g1, g2, h, COUNT(DISTINCT mg) AS sides FROM (
                         SELECT p.g1, p.g2, s.g AS mg, s.h
                         FROM pairs p JOIN sk s ON s.g = p.g1 OR s.g = p.g2)
                       GROUP BY 1, 2, 3),
            kept AS (SELECT * FROM (
                       SELECT *, ROW_NUMBER() OVER (PARTITION BY g1, g2 ORDER BY h) AS rk
                       FROM merged) WHERE rk <= 64),
            est AS (SELECT g1, g2,
                           CAST(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS kmv_common,
                           CAST(COUNT(*) AS BIGINT) AS union_kept
                    FROM kept GROUP BY 1, 2),
            d AS ($dist),
            exact AS (SELECT x.g AS g1, y.g AS g2, CAST(COUNT(*) AS BIGINT) AS exact_common
                      FROM d x JOIN d y ON x.user_id = y.user_id AND x.g < y.g
                      GROUP BY 1, 2)
          SELECT e.g1, e.g2, e.kmv_common, e.union_kept,
                 CAST((1000000 * e.kmv_common) // e.union_kept AS BIGINT) AS jaccard_est_ppm,
                 COALESCE(x.exact_common, 0) AS exact_common
          FROM est e LEFT JOIN exact x ON e.g1 = x.g1 AND e.g2 = x.g2
          ORDER BY 1, 2"""
    })

  /** Dyadic-EWMA ingest smoothing monitor
    * ([[graft.operators.EventAnalytics.dyadicEwma]]): per event type and
    * day, the 8-day dyadic-weight history sum (weights 128..1, mass 255 —
    * exact BIGINT smoothing, no libm α-powers) with spike/drop flags by
    * cross-multiplication. The SMOOTHER face of the monitor family beside
    * CUSUM (level shifts, q198) and seasonal-naive (periodicity, q172).
    * Only flagged days are reported; full-history days only score. */
  val q226_dyadic_ewma = Q(
    "q226_dyadic_ewma",
    (s, dir) => {
      graft.operators.EventAnalytics
        .dyadicEwma(t(s, dir, "events").select(col("event_type"), col("ts")),
          "event_type", "ts", depth = 8)
        .select(
          col("key").as("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("cnt").cast("long").as("cnt"),
          col("ewma_num").cast("long").as("ewma_num"),
          col("flag"))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (
              SELECT event_type AS key, ts::DATE AS day, COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
            spine AS (
              SELECT k.key, d.day FROM
                (SELECT DISTINCT key FROM daily) k
              CROSS JOIN
                (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
                 FROM bounds) d),
            dense AS (
              SELECT s.key, s.day, COALESCE(dl.n, 0) AS cnt
              FROM spine s LEFT JOIN daily dl ON dl.key = s.key AND dl.day = s.day),
            lagged AS (
              SELECT key, day, cnt,
                     LAG(cnt, 8) OVER w AS oldest,
                     128*LAG(cnt,1) OVER w + 64*LAG(cnt,2) OVER w + 32*LAG(cnt,3) OVER w
                       + 16*LAG(cnt,4) OVER w + 8*LAG(cnt,5) OVER w
                       + 4*LAG(cnt,6) OVER w + 2*LAG(cnt,7) OVER w
                       + LAG(cnt,8) OVER w AS ewma_num
              FROM dense WINDOW w AS (PARTITION BY key ORDER BY day))
          SELECT key AS event_type, strftime(day, '%Y-%m-%d') AS day,
                 CAST(cnt AS BIGINT) AS cnt, CAST(ewma_num AS BIGINT) AS ewma_num,
                 CASE WHEN 255 * cnt > 2 * ewma_num THEN 'spike'
                      WHEN 510 * cnt < ewma_num THEN 'drop'
                      ELSE 'normal' END AS flag
          FROM lagged WHERE oldest IS NOT NULL
          ORDER BY event_type, day"""))

  /** Winsorized robust aggregation: per return flag, prices clamped to the
    * exact rank-based [p10, p90] before summing — the outlier-resistant
    * aggregate that, unlike q162's TRIMMED mean, keeps every row's vote
    * (clamped, not dropped). Percentiles are DISCRETE order statistics
    * (value at rank ceil(q·n) under the price order) — integer-exact and
    * engine-replayable where interpolated quantiles are float territory;
    * prices enter as floor() integer units. Two passes: one window rank,
    * one clamp-and-sum. */
  val q227_winsorize = Q(
    "q227_winsorize",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        floor(col("l_extendedprice")).cast("long").as("p"),
        col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy(col("flag")).orderBy(col("p"), col("l_orderkey"), col("l_linenumber"))
      val ranked = li
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("flag"))))
      val pcts = ranked
        .groupBy(col("flag"))
        .agg(
          max(col("n")).as("n"),
          max(when(col("rn") === expr("(n + 9) div 10"), col("p"))).as("p10"),
          max(when(col("rn") === expr("(9 * n + 9) div 10"), col("p"))).as("p90"))
      li.join(pcts, Seq("flag"))
        .select(col("flag"), col("n"), col("p10"), col("p90"),
          least(greatest(col("p"), col("p10")), col("p90")).as("cl"), col("p"))
        .groupBy(col("flag"))
        .agg(
          max(col("n")).cast("long").as("n"),
          max(col("p10")).cast("long").as("p10"),
          max(col("p90")).cast("long").as("p90"),
          sum(col("cl")).cast("long").as("winsorized_sum"),
          sum(col("p")).cast("long").as("raw_sum"))
        .orderBy("flag")
    },
    Some("""WITH li AS (
              SELECT l_returnflag AS flag, CAST(FLOOR(l_extendedprice) AS BIGINT) AS p,
                     l_orderkey, l_linenumber
              FROM lineitem),
            ranked AS (
              SELECT flag, p,
                     ROW_NUMBER() OVER (PARTITION BY flag ORDER BY p, l_orderkey, l_linenumber) AS rn,
                     COUNT(*) OVER (PARTITION BY flag) AS n
              FROM li),
            pcts AS (
              SELECT flag, MAX(n) AS n,
                     MAX(CASE WHEN rn = (n + 9) // 10 THEN p END) AS p10,
                     MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN p END) AS p90
              FROM ranked GROUP BY flag)
          SELECT li.flag, CAST(MAX(pcts.n) AS BIGINT) AS n,
                 CAST(MAX(pcts.p10) AS BIGINT) AS p10,
                 CAST(MAX(pcts.p90) AS BIGINT) AS p90,
                 CAST(SUM(LEAST(GREATEST(li.p, pcts.p10), pcts.p90)) AS BIGINT) AS winsorized_sum,
                 CAST(SUM(li.p) AS BIGINT) AS raw_sum
          FROM li JOIN pcts ON li.flag = pcts.flag
          GROUP BY li.flag ORDER BY li.flag"""))

  /** Guaranteed heavy hitters via Misra–Gries + exact verify
    * ([[graft.operators.Sketches.guaranteedHeavyHitters]]): a planted
    * hot key (every third event) among ~1000 cold keys, k = 16 counters.
    * The one-pass MG summary (a NEW TypedImperativeAggregate with the
    * mergeable-summaries merge rule) bounds memory at k counters where a
    * full groupBy histograms every key; the exact verify of its ≤ k
    * candidates makes the output the EXACT set above N/(k+1) —
    * deterministic despite MG's order-dependent counters. Oracle = the
    * plain threshold aggregation. */
  val q228_misra_gries = Q(
    "q228_misra_gries",
    (s, dir) => {
      val keyed = t(s, dir, "events").select(
        when(col("user_id") % 3 === 0, 7L)
          .otherwise(lit(1000L) + pmod(col("user_id"), lit(997L))).as("k"))
      graft.operators.Sketches.guaranteedHeavyHitters(keyed, col("k"), 16)
        .select(col("key").cast("long").as("key"),
          col("exact").cast("long").as("exact"),
          col("total_n").cast("long").as("total_n"))
        .orderBy("key")
    },
    Some("""WITH keyed AS (
              SELECT CASE WHEN user_id % 3 = 0 THEN 7
                          ELSE 1000 + ((user_id % 997) + 997) % 997 END AS k
              FROM events),
            n AS (SELECT COUNT(*)::BIGINT AS total FROM keyed)
          SELECT CAST(k AS BIGINT) AS key, CAST(COUNT(*) AS BIGINT) AS exact,
                 CAST(MAX(n.total) AS BIGINT) AS total_n
          FROM keyed CROSS JOIN n
          GROUP BY k HAVING COUNT(*) * 17 > MAX(n.total)
          ORDER BY key"""))

  /** Trapezoidal time-weighted integration of an irregular series: per
    * user, Σ gap_µs · (v_i + v_{i+1}) over consecutive events under the
    * (ts, event_id) total order — twice the trapezoid integral, kept
    * UNDIVIDED and in integer cents so every value is an exact BIGINT
    * (values sampled at irregular times make the plain AVG meaningless —
    * this is the operator metering/billing pipelines actually need).
    * Overflow-safe by telescoping: Σ gaps = the user's span, so the sum
    * is bounded by span_µs · 2·max_cents regardless of event count. One
    * user-keyed window shuffle. */
  val q232_time_weighted = Q(
    "q232_time_weighted",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(
        col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("t"),
        col("event_id").cast("long").as("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      ev
        .withColumn("pt", lag(col("t"), 1).over(w))
        .withColumn("pc", lag(col("cents"), 1).over(w))
        .filter(col("pt").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          (count(lit(1)) + 1).cast("long").as("n_events"),
          (max(col("t")) - min(col("pt"))).cast("long").as("span_us"),
          sum((col("t") - col("pt")) * (col("cents") + col("pc"))).cast("long").as("integral2"))
        .orderBy("user_id")
    },
    Some("""WITH ev AS (
              SELECT user_id, epoch_us(ts) AS t, event_id,
                     CAST(FLOOR(value * 100) AS BIGINT) AS cents
              FROM events),
            lagged AS (
              SELECT user_id, t, cents,
                     LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt,
                     LAG(cents) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pc
              FROM ev)
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(COUNT(*) + 1 AS BIGINT) AS n_events,
                 CAST(MAX(t) - MIN(pt) AS BIGINT) AS span_us,
                 CAST(SUM((t - pt) * (cents + pc)) AS BIGINT) AS integral2
          FROM lagged WHERE pt IS NOT NULL
          GROUP BY user_id ORDER BY user_id"""))

  /** Time-window-constrained conversion funnel — q106's unbounded funnel
    * with the deadlines real attribution uses: first view → first click
    * WITHIN 1 h of that view → first purchase WITHIN 24 h of that click.
    * Three user-keyed min-aggregations with the window predicates pushed
    * into each stage's candidate filter (exact microsecond arithmetic,
    * total (ts, event_id) order for first-of ties). Output: stage counts
    * + median view→click latency of converters in integer seconds (rank
    * order statistic — the med2 discrete form). */
  val q246_windowed_funnel = Q(
    "q246_windowed_funnel",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id").cast("long").as("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tu"), col("event_id").cast("long").as("eid"))
      def firstOf(df: DataFrame, name: String): DataFrame =
        df.groupBy(col("user_id")).agg(min(struct(col("tu"), col("eid"))).as(name))
      val v = firstOf(ev.filter(col("event_type") === "view"), "v")
        .select(col("user_id"), col("v.tu").as("vt"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("tu") > col("vt") && col("tu") <= col("vt") + 3600000000L)
      val cf = firstOf(c, "c").select(col("user_id"), col("c.tu").as("ct"))
        .join(v, Seq("user_id"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(cf.select(col("user_id"), col("ct")), Seq("user_id"))
        .filter(col("tu") > col("ct") && col("tu") <= col("ct") + 86400000000L)
      val pf = firstOf(p, "p").select(col("user_id"))
      val latencies = cf.select(((col("ct") - col("vt")) / 1000000L).cast("long").as("lat_s"))
      val w = Window.orderBy(col("lat_s"))
      val med = latencies
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .agg(
          max(when(col("rn") === expr("(n + 1) div 2"), col("lat_s"))).as("m1"),
          max(when(col("rn") === expr("(n + 2) div 2"), col("lat_s"))).as("m2"))
        .select((col("m1") + col("m2")).as("med2_lat_s"))
      v.agg(count(lit(1)).cast("long").as("n_view")).crossJoin(
        cf.agg(count(lit(1)).cast("long").as("n_click_1h")))
        .crossJoin(pf.agg(count(lit(1)).cast("long").as("n_purchase_24h")))
        .crossJoin(med)
        .select(col("n_view"), col("n_click_1h"), col("n_purchase_24h"),
          col("med2_lat_s").cast("long").as("med2_lat_s"))
    },
    Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tu, event_id FROM events),
              v AS (SELECT user_id, MIN(tu) AS vt FROM ev WHERE event_type = 'view' GROUP BY 1),
              c AS (SELECT e.user_id, MIN(e.tu) AS ct, MAX(v.vt) AS vt
                    FROM ev e JOIN v ON v.user_id = e.user_id
                    WHERE e.event_type = 'click' AND e.tu > v.vt AND e.tu <= v.vt + 3600000000
                    GROUP BY 1),
              p AS (SELECT e.user_id
                    FROM ev e JOIN c ON c.user_id = e.user_id
                    WHERE e.event_type = 'purchase' AND e.tu > c.ct AND e.tu <= c.ct + 86400000000
                    GROUP BY 1),
              lat AS (SELECT (ct - vt) // 1000000 AS lat_s,
                             ROW_NUMBER() OVER (ORDER BY (ct - vt) // 1000000) AS rn,
                             COUNT(*) OVER () AS n
                      FROM c),
              med AS (SELECT MAX(CASE WHEN rn = (n + 1) // 2 THEN lat_s END) +
                             MAX(CASE WHEN rn = (n + 2) // 2 THEN lat_s END) AS med2_lat_s
                      FROM lat)
            SELECT (SELECT COUNT(*) FROM v)::BIGINT AS n_view,
                   (SELECT COUNT(*) FROM c)::BIGINT AS n_click_1h,
                   (SELECT COUNT(*) FROM p)::BIGINT AS n_purchase_24h,
                   (SELECT med2_lat_s FROM med)::BIGINT AS med2_lat_s"""))

  /** Event-time vs arrival-time lag audit — the measurement that SIZES
    * watermarks (q121/q144's "10 minutes" is a guess until this report
    * exists): arrival delays (hash-derived, 0–599 s — the deterministic
    * stand-in for a transport's jitter, engine-replayable) are profiled
    * per event type as exact rank order statistics (p50/p95 at rank
    * ceil(q·n) — discrete, integer) plus the late-beyond-5-min count a
    * 300 s watermark would drop. One keyed window shuffle. */
  val q248_lag_audit = Q(
    "q248_lag_audit",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("event_type"),
          col("event_id").cast("long").as("event_id"))
        .withColumn("delay_s", pmod(xxhash64(col("event_id")), lit(600L)))
      val w = Window.partitionBy(col("event_type")).orderBy(col("delay_s"), col("event_id"))
      ev.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(
          max(col("n")).cast("long").as("n"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("delay_s"))).cast("long").as("p50_s"),
          max(when(col("rn") === expr("(19 * n + 19) div 20"), col("delay_s"))).cast("long").as("p95_s"),
          max(col("delay_s")).cast("long").as("max_s"),
          sum(when(col("delay_s") > 300, 1L).otherwise(0L)).cast("long").as("n_late_5m"))
        .orderBy("event_type")
    },
    Some {
      import graft.tools.OracleSql._
      val base = "SELECT event_type, event_id::BIGINT AS event_id FROM events"
      val hashed = xxhash64LongStages(base, "event_id", "h", pfx = "__l")
      s"""WITH d AS (SELECT event_type, event_id,
                            ((h % 600) + 600) % 600 AS delay_s
                     FROM ($hashed)),
            rk AS (SELECT event_type, delay_s,
                          ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY delay_s, event_id) AS rn,
                          COUNT(*) OVER (PARTITION BY event_type) AS n
                   FROM d)
          SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                 CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN delay_s END) AS BIGINT) AS p50_s,
                 CAST(MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN delay_s END) AS BIGINT) AS p95_s,
                 CAST(MAX(delay_s) AS BIGINT) AS max_s,
                 CAST(SUM(CASE WHEN delay_s > 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_5m
          FROM rk GROUP BY 1 ORDER BY 1"""
    })

  /** Empirical Bloom-filter false-positive audit — the measured-accuracy
    * report that completes the sketch-fidelity family (minhash q200, KMV
    * q204, Count-Min q113/q214, HLL q114): a 16384-bit k=5 filter built
    * over the even-event key set is probed with the DISJOINT odd-event
    * keys (true positives excluded by construction via anti-join), so
    * every hit IS a false positive and the measured rate is the number a
    * capacity plan uses — here the filter is deliberately UNDERSIZED
    * (load kn/m ≈ 1.5 → measured ≈ 29 %, matching (1−e^(−kn/m))^k), the
    * overload condition this report exists to catch. The oracle replays the filter's actual probe
    * arithmetic — splitmix64 finalizer, forced-odd stride h2, five
    * wrapping-2⁶⁴ probe positions — through the mod-2⁶⁴ SQL machinery,
    * bit-for-bit. */
  val q254_bloom_fpp = Q(
    "q254_bloom_fpp",
    (s, dir) => {
      import org.apache.spark.sql.graft.ExprColumn
      val ev = t(s, dir, "events").select(col("event_id").cast("long").as("eid"))
      val members = ev.filter(col("eid") % 2 === 0)
        .select(xxhash64(col("eid")).as("key")).distinct().localCheckpoint(true)
      val probes = ev.filter(col("eid") % 2 === 1)
        .select(xxhash64(col("eid")).as("key")).distinct()
        .join(members, Seq("key"), "left_anti").localCheckpoint(true)
      val agg = graft.plans.BloomBuildAgg(ExprColumn.expr(col("key")), 16384L, 5)
      val bits = members.agg(ExprColumn(agg.toAggregateExpression()).as("bits"))
        .head().getSeq[Long](0).toArray
      val nFp = probes.filter(ExprColumn(graft.plans.BloomContains(
        ExprColumn.expr(col("key")), bits, 5))).count()
      import s.implicits._
      Seq((members.count(), probes.count(), nFp))
        .toDF("n_members", "n_probes", "n_false_positives")
    },
    Some {
      import graft.tools.OracleSql._
      val C1 = BigInt("9E3779B97F4A7C15", 16)
      val C2 = BigInt("BF58476D1CE4E5B9", 16)
      val C3 = BigInt("94D049BB133111EB", 16)
      // splitmix64 + forced-odd stride + 5 wrapping probe positions, as
      // chained stages over a relation exposing UBIGINT column `u`
      def probeStages(rel: String, pfx: String): String = {
        var q = rel
        def wrap(expr: String, col: String): Unit = { q = s"SELECT *, $expr AS $col FROM ($q)" }
        wrap(addModSql("u", C1.toString), s"${pfx}z0")
        wrap(mulConstSql(s"xor(${pfx}z0, ${pfx}z0 >> 30)", C2), s"${pfx}z1")
        wrap(mulConstSql(s"xor(${pfx}z1, ${pfx}z1 >> 27)", C3), s"${pfx}z2")
        wrap(s"xor(${pfx}z2, ${pfx}z2 >> 31)", s"${pfx}mx")
        wrap(s"${pfx}mx | 1", s"${pfx}h2")
        wrap("u", s"${pfx}p0")
        (1 to 4).foreach(i => wrap(addModSql(s"${pfx}p${i - 1}", s"${pfx}h2"), s"${pfx}p$i"))
        wrap((0 to 4).map(i => s"${pfx}p$i & 16383").mkString("[", ", ", "]"), s"${pfx}plist")
        q
      }
      val mk = xxhash64LongStages(
        "SELECT DISTINCT event_id::BIGINT AS eid FROM events WHERE event_id % 2 = 0",
        "eid", "key", pfx = "__bm")
      val pk = xxhash64LongStages(
        "SELECT DISTINCT event_id::BIGINT AS eid FROM events WHERE event_id % 2 = 1",
        "eid", "key", pfx = "__bp")
      s"""WITH mkeys AS MATERIALIZED (SELECT DISTINCT key FROM ($mk)),
            pkeys0 AS MATERIALIZED (SELECT DISTINCT key FROM ($pk)),
            pkeys AS MATERIALIZED (SELECT key FROM pkeys0 ANTI JOIN mkeys USING (key)),
            mpos AS MATERIALIZED (
              SELECT DISTINCT unnest(__amplist) AS pos FROM (
                ${probeStages(s"SELECT ${unsignedOf("key")} AS u FROM mkeys", "__am")})),
            bprobe AS (
              SELECT u AS key, unnest(__bbplist) AS pos FROM (
                ${probeStages(s"SELECT ${unsignedOf("key")} AS u FROM pkeys", "__bb")}) ),
            hits AS (
              SELECT b.key,
                     SUM(CASE WHEN m.pos IS NULL THEN 0 ELSE 1 END) AS nhit
              FROM bprobe b LEFT JOIN mpos m ON m.pos = b.pos
              GROUP BY b.key)
          SELECT (SELECT COUNT(*) FROM mkeys)::BIGINT AS n_members,
                 (SELECT COUNT(*) FROM pkeys)::BIGINT AS n_probes,
                 (SELECT COUNT(*) FROM hits WHERE nhit = 5)::BIGINT AS n_false_positives"""
    })

  /** Positional multi-touch attribution (the 40/20/40 U-shape — beside
    * q182's last-touch): per user, every view touch within 24 h before
    * that user's first purchase earns integer-ppm credit — 40 % first
    * touch, 40 % last touch, the middle 20 % split evenly (single-touch
    * journeys take 100 %; two-touch 50/50 by the same arithmetic with the
    * middle empty). Credits are exact integers summing to 1 000 000 per
    * converter (largest-remainder-free by construction: 400000·2 +
    * 200000/(n−2)·(n−2) + remainder folded into the LAST middle touch).
    * One user-keyed window pass. Report: credit mass per touch position
    * bucket. */
  val q255_position_attribution = Q(
    "q255_position_attribution",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id").cast("long").as("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tu"), col("event_id").cast("long").as("eid"))
      val conv = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("tu")).as("pt"))
      val touches = ev.filter(col("event_type") === "view")
        .join(conv, Seq("user_id"))
        .filter(col("tu") < col("pt") && col("tu") >= col("pt") - 86400000000L)
      val w = Window.partitionBy(col("user_id")).orderBy(col("tu"), col("eid"))
      val ranked = touches
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      val credited = ranked.withColumn("credit",
        when(col("n") === 1, lit(1000000L))
          .when(col("rn") === 1, when(col("n") === 2, 500000L).otherwise(400000L))
          .when(col("rn") === col("n"), when(col("n") === 2, 500000L).otherwise(400000L))
          .otherwise(expr("200000 div (n - 2)") +
            when(col("rn") === col("n") - 1, expr("200000 % (n - 2)")).otherwise(0L)))
      credited
        .withColumn("bucket",
          when(col("rn") === 1, "first")
            .when(col("rn") === col("n"), "last")
            .otherwise("middle"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_touches"),
          sum(col("credit")).cast("long").as("credit_ppm"))
        .orderBy("bucket")
    },
    Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tu, event_id FROM events),
              conv AS (SELECT user_id, MIN(tu) AS pt FROM ev
                       WHERE event_type = 'purchase' GROUP BY 1),
              touches AS (SELECT e.user_id, e.tu, e.event_id
                          FROM ev e JOIN conv c ON c.user_id = e.user_id
                          WHERE e.event_type = 'view'
                            AND e.tu < c.pt AND e.tu >= c.pt - 86400000000),
              ranked AS (SELECT user_id,
                                ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY tu, event_id) AS rn,
                                COUNT(*) OVER (PARTITION BY user_id) AS n
                         FROM touches),
              credited AS (SELECT *,
                CASE WHEN n = 1 THEN 1000000
                     WHEN rn = 1 THEN CASE WHEN n = 2 THEN 500000 ELSE 400000 END
                     WHEN rn = n THEN CASE WHEN n = 2 THEN 500000 ELSE 400000 END
                     ELSE 200000 // (n - 2) +
                          CASE WHEN rn = n - 1 THEN 200000 % (n - 2) ELSE 0 END
                END AS credit,
                CASE WHEN rn = 1 THEN 'first' WHEN rn = n THEN 'last'
                     ELSE 'middle' END AS bucket
                FROM ranked)
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_touches,
                   CAST(SUM(credit) AS BIGINT) AS credit_ppm
            FROM credited GROUP BY 1 ORDER BY 1"""))

  /** Deterministic grid-free quantile sketch end-to-end
    * (`Sketches.rankSampleSketch`, the Munro–Paterson rank-sampling
    * family): penny-exact lineitem prices shard by
    * xxhash64(orderkey·8+linenumber) into 32 cells, each cell keeps every
    * 64th value by local rank (ONE shuffle, no global sort), and the
    * inverted-CDF readback estimates p10/50/90/99. The sketch's rank
    * CONTRACT is pinned as data: count(v ≤ est) ≥ t' and
    * count(v < est) < t' + shards·step with t' = least(target, sketch
    * weight) — proven by exact filter-counts over the raw column. The
    * oracle replays shard-hash → per-cell rank sample → cumulative
    * readback → audit counts bit-for-bit (rank selection in a sorted
    * multiset is tie-order independent, which is what makes a SAMPLING
    * summary hash-matchable at all). */
  val q261_rank_sketch = Q(
    "q261_rank_sketch",
    (s, dir) => {
      import graft.operators.Sketches
      val shards = 32
      val step = 64
      val raw = t(s, dir, "lineitem")
        .select(
          round(col("l_extendedprice") * 100).cast("long").as("v"),
          (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("k"))
        .localCheckpoint(true) // counted + sketched + audited below
      val n = raw.count()
      val ps = Seq(10, 50, 90, 99)
      val sk = Sketches.rankSampleSketch(raw, "v", col("k"), shards, step)
      val q = Sketches.rankSampleQuantiles(sk, n, ps).collect()(0)
      val wTotal = q.getAs[Long]("w_total")
      val ests = ps.map(p => p -> q.getAs[Long](s"p$p"))
      // one distributed pass audits all four estimates' exact ranks
      val auditCols =
        ests.map { case (p, e) => sum(when(col("v") <= e, 1L).otherwise(0L)).as(s"le$p") } ++
          ests.map { case (p, e) => sum(when(col("v") < e, 1L).otherwise(0L)).as(s"lt$p") }
      val audit = raw.agg(auditCols.head, auditCols.tail: _*).collect()(0)
      import s.implicits._
      ests.map { case (p, e) =>
        val target = (n * p + 99) / 100
        val tp = math.min(target, wTotal)
        val le = audit.getAs[Long](s"le$p")
        val lt = audit.getAs[Long](s"lt$p")
        (p.toLong, e, target, le, (shards * step).toLong,
          le >= tp && lt < tp + shards * step)
      }.toDF("p", "est", "target", "exact_le", "bound", "ok")
        .orderBy("p")
    },
    Some {
      import graft.tools.OracleSql._
      val S = 32
      val step = 64
      val raw = "SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v, " +
        "l_orderkey * 8 + l_linenumber AS k FROM lineitem"
      val hashed = xxhash64LongStages(s"($raw)", "k", "kh", pfx = "__q")
      s"""WITH sh AS (SELECT v, ((kh % $S) + $S) % $S AS shard FROM ($hashed)),
          rn AS (SELECT v, shard, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY v) AS r FROM sh),
          sk AS MATERIALIZED (SELECT v, CAST($step AS BIGINT) AS w FROM rn WHERE r % $step = 0),
          cum AS (SELECT v, w, SUM(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM sk),
          tot AS (SELECT COUNT(*) AS n FROM sh),
          wt AS (SELECT COALESCE(SUM(w), 0) AS wt FROM sk),
          ps AS (SELECT * FROM (VALUES (10), (50), (90), (99)) t(p)),
          tgt AS (SELECT p, (n * p + 99) // 100 AS target,
                         LEAST((n * p + 99) // 100, wt) AS tp
                  FROM ps, tot, wt),
          est AS (SELECT p, target, tp,
                         (SELECT MIN(v) FROM cum WHERE c >= tgt.tp) AS est
                  FROM tgt)
          SELECT CAST(p AS BIGINT) AS p, est,
                 CAST(target AS BIGINT) AS target,
                 (SELECT COUNT(*) FROM sh WHERE v <= est.est) AS exact_le,
                 CAST(${S * step} AS BIGINT) AS bound,
                 ((SELECT COUNT(*) FROM sh WHERE v <= est.est) >= tp AND
                  (SELECT COUNT(*) FROM sh WHERE v < est.est) < tp + ${S * step}) AS ok
          FROM est ORDER BY p"""
    })

  /** Frequent gapped event sequences
    * ([[graft.operators.EventAnalytics.frequentSequences]] — GSP /
    * PrefixSpan family, the sequential-pattern complement of the
    * contiguous trigram views (q192) and the association closed-pattern
    * miner (q260)): over a sparse slice of the event log (so Apriori
    * pruning actually fires), every sequence of ≤ 3 event types embedded
    * IN ORDER WITH GAPS by ≥ 40% of users, support = distinct users.
    * Levelwise earliest-occurrence state — one row per (user, frequent
    * prefix), never per embedding. The oracle replays the same levelwise
    * chain in DuckDB (each stage MATERIALIZED — multiply-referenced CTEs
    * otherwise expand exponentially). */
  val q286_frequent_sequences = Q(
    "q286_frequent_sequences",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").filter(col("event_id") % 17 === 0)
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ordered = ev.select(col("user_id").as("user"), col("event_type").as("item"),
        row_number().over(w).cast("long").as("pos"))
      val nUsers = ordered.select("user").distinct().count()
      val minSup = (2 * nUsers + 4) / 5
      graft.operators.EventAnalytics.frequentSequences(ordered, minSup, maxLen = 3)
        .orderBy("length", "seq")
    },
    Some("""WITH ev AS MATERIALIZED (
              SELECT user_id AS u, event_type AS e,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
              FROM events WHERE event_id % 17 = 0),
            ms AS (SELECT (2 * COUNT(DISTINCT u) + 4) // 5 AS m FROM ev),
            o1 AS MATERIALIZED (SELECT u, e AS seq, MIN(p) AS mp FROM ev GROUP BY 1, 2),
            s1 AS MATERIALIZED (SELECT seq, COUNT(*) AS c FROM o1 GROUP BY 1
                                HAVING COUNT(*) >= (SELECT m FROM ms)),
            f1 AS MATERIALIZED (SELECT o1.u, o1.seq, o1.mp FROM o1 JOIN s1 USING (seq)),
            o2 AS MATERIALIZED (SELECT f1.u, f1.seq || '>' || ev.e AS seq, MIN(ev.p) AS mp
                                FROM f1 JOIN ev ON ev.u = f1.u AND ev.p > f1.mp GROUP BY 1, 2),
            s2 AS MATERIALIZED (SELECT seq, COUNT(*) AS c FROM o2 GROUP BY 1
                                HAVING COUNT(*) >= (SELECT m FROM ms)),
            f2 AS MATERIALIZED (SELECT o2.u, o2.seq, o2.mp FROM o2 JOIN s2 USING (seq)),
            o3 AS MATERIALIZED (SELECT f2.u, f2.seq || '>' || ev.e AS seq, MIN(ev.p) AS mp
                                FROM f2 JOIN ev ON ev.u = f2.u AND ev.p > f2.mp GROUP BY 1, 2),
            s3 AS MATERIALIZED (SELECT seq, COUNT(*) AS c FROM o3 GROUP BY 1
                                HAVING COUNT(*) >= (SELECT m FROM ms))
            SELECT seq, 1::BIGINT AS length, c::BIGINT AS support FROM s1
            UNION ALL SELECT seq, 2, c FROM s2
            UNION ALL SELECT seq, 3, c FROM s3
            ORDER BY length, seq"""))

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

  /** Population Stability Index drift monitor
    * ([[graft.operators.Drift.psiLog2]] — THE production score/feature
    * drift metric beside the rank-based KS q321, in 1/16 fixed-point LOG2
    * (libm ln is not bit-stable; floor-log2 is) with Laplace smoothing
    * over the per-group bucket union; every term >= 0 exactly like true
    * PSI; one census aggregation + a group-total window over the census).
    * click-vs-error value distributions in fixed-width 50-unit buckets
    * per user cohort. */
  val q329_psi = Q(
    "q329_psi",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("cohort", pmod(col("user_id"), lit(3L)))
        .withColumn("bucket", least(floor(col("value") / 50.0), lit(9.0)).cast("long"))
      graft.operators.Drift
        .psiLog2(ev, "bucket", "event_type", "click", "error", Seq("cohort"))
        .orderBy("cohort")
    },
    Some {
      def flog(x: String) =
        s"(16 * (length(bin($x)) - 1) - 16 + (($x) * 16) // (1::BIGINT << (length(bin($x)) - 1)))"
      s"""WITH e AS (
              SELECT user_id % 3 AS cohort,
                     CAST(LEAST(FLOOR(value / 50.0), 9) AS BIGINT) AS bucket,
                     event_type
              FROM events WHERE event_type IN ('click', 'error')),
            cen AS (
              SELECT cohort, bucket,
                     SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
                     SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS cb
              FROM e GROUP BY 1, 2),
            sm AS (
              SELECT cohort, ca, cb,
                     COUNT(*) OVER (PARTITION BY cohort) AS nb,
                     SUM(ca) OVER (PARTITION BY cohort)
                       + COUNT(*) OVER (PARTITION BY cohort) AS na2,
                     SUM(cb) OVER (PARTITION BY cohort)
                       + COUNT(*) OVER (PARTITION BY cohort) AS nb2
              FROM cen),
            tt AS (
              SELECT cohort, nb, na2, nb2,
                     (ca + 1) * nb2 AS xa, (cb + 1) * na2 AS xb
              FROM sm WHERE na2 > nb AND nb2 > nb),
            ag AS (
              SELECT cohort, MAX(na2) - MAX(nb) AS n_a, MAX(nb2) - MAX(nb) AS n_b,
                     MAX(nb) AS n_buckets,
                     SUM((xa - xb) * (${flog("xa")} - ${flog("xb")})) AS psi_num,
                     16 * MAX(na2) * MAX(nb2) AS den
              FROM tt GROUP BY 1)
            SELECT cohort::BIGINT AS cohort, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
                   n_buckets::BIGINT AS n_buckets, psi_num::BIGINT AS psi_num,
                   CAST((CASE WHEN psi_num < 0 THEN -1 ELSE 1 END)
                     * ((ABS(psi_num)::HUGEINT * 1000000) // den) AS BIGINT) AS psi_ppm
            FROM ag ORDER BY 1"""
    })

  /** Exponential time-decay attribution
    * ([[graft.operators.EventAnalytics.timeDecayAttribution]] — the
    * recency-weighted credit model completing the attribution family
    * (last-touch q182, U-shaped q255): credit halves per day of gap as an
    * exact integer SHIFT (10^6 >> gap_days, clamped past 20 — a shift
    * >= 64 would WRAP under Java's mod-64 semantics, which the clamp
    * prevents); one per-user equi-join of touches x conversions). */
  val q330_time_decay = Q(
    "q330_time_decay",
    (s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.EventAnalytics
        .timeDecayAttribution(ev, "user_id", "event_type", "ts",
          Seq("click", "view", "signup"), "purchase", windowDays = 30)
        .orderBy("channel")
    },
    Some("""WITH tch AS (
              SELECT user_id AS k, event_type AS ty, epoch_us(ts) AS tts
              FROM events WHERE event_type IN ('click', 'view', 'signup')),
            cv AS (
              SELECT user_id AS k, epoch_us(ts) AS cts
              FROM events WHERE event_type = 'purchase'),
            p AS (
              SELECT ty, (cts - tts) // 86400000000 AS gap
              FROM tch JOIN cv ON tch.k = cv.k
              WHERE tts <= cts AND cts - tts <= 30 * 86400000000)
            SELECT ty AS channel, COUNT(*)::BIGINT AS n_touches,
                   SUM(CASE WHEN gap >= 20 THEN 0
                            ELSE 1000000 // (1::BIGINT << gap::INT) END)::BIGINT AS credit_ppm
            FROM p GROUP BY 1 ORDER BY 1"""))

  /** Hampel rolling-median outlier filter
    * ([[graft.operators.Drift.hampelOutliers]] — the ROLLING counterpart
    * of the global MAD q99: ±3-day window, median and MAD are PICKS from
    * the bounded sorted window array (no percentile interpolation),
    * threshold |x−med|·kDen > MAD·kNum in pure integer cross-multiply;
    * incomplete edge windows are never flagged). Daily event counts on
    * the dense zero-filled spine, census per type. */
  val q338_hampel = Q(
    "q338_hampel",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("event_type"), to_date(col("ts")).as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val spine = bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("day"), col("lo"))
        .crossJoin(daily.select("event_type").distinct())
      val series = spine.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"),
          datediff(col("day"), col("lo")).cast("long").as("x"),
          coalesce(col("n"), lit(0L)).as("y"))
      graft.operators.Drift
        .hampelOutliers(series, "event_type", "x", "y", half = 3, kNum = 3L, kDen = 1L)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).cast("long").as("n_days"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).cast("long").as("n_outliers"),
          sum(when(col("is_outlier"), col("x")).otherwise(0L)).cast("long").as("day_checksum"),
          max(col("dev")).cast("long").as("max_dev"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
            spine AS (
              SELECT t.event_type, d.day, (SELECT lo FROM bounds) AS lo
              FROM (SELECT DISTINCT event_type FROM daily) t
              CROSS JOIN (SELECT unnest(generate_series(
                (SELECT lo FROM bounds), (SELECT hi FROM bounds),
                INTERVAL 1 DAY))::DATE AS day) d),
            ser AS (
              SELECT s.event_type, datediff('day', s.lo, s.day) AS x,
                     COALESCE(d.n, 0) AS y
              FROM spine s LEFT JOIN daily d
                ON s.event_type = d.event_type AND s.day = d.day),
            win AS (
              SELECT event_type, x, y,
                     list(y) OVER (PARTITION BY event_type ORDER BY x
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w
              FROM ser),
            med AS (
              SELECT event_type, x, y, len(w) = 7 AS wfull,
                     list_sort(w)[4] AS med
              FROM win),
            dev AS (
              SELECT event_type, x, y, wfull, med,
                     CASE WHEN wfull THEN ABS(y - med) END AS dev,
                     list_sort(list_transform(
                       list(y) OVER (PARTITION BY event_type ORDER BY x
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING),
                       v -> ABS(v - med)))[4] AS mad
              FROM med),
            fl AS (
              SELECT event_type, x, dev,
                     CASE WHEN NOT wfull THEN FALSE
                          ELSE dev * 1 > mad * 3 END AS is_outlier
              FROM dev)
            SELECT event_type, COUNT(*)::BIGINT AS n_days,
                   SUM(CASE WHEN is_outlier THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
                   SUM(CASE WHEN is_outlier THEN x ELSE 0 END)::BIGINT AS day_checksum,
                   MAX(dev)::BIGINT AS max_dev
            FROM fl GROUP BY 1 ORDER BY 1"""))

  /** Retention cohort triangle
    * ([[graft.operators.EventAnalytics.retentionCohorts]] — users cohort
    * by first-activity week, cell (cohort, offset) = active users offset
    * weeks later over the deduped (user, week) census, retention in exact
    * ppm of cohort size; offset 0 is 10⁶ by construction — a built-in
    * self-check the oracle replays). Weekly cohorts over events. */
  val q346_retention = Q(
    "q346_retention",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("day", expr("CAST(ts AS LONG) div 86400"))
      graft.operators.EventAnalytics.retentionCohorts(ev, "user_id", "day", periodDays = 7)
        .orderBy("cohort", "offset")
    },
    Some("""WITH e AS (
              SELECT DISTINCT user_id AS u,
                     (epoch_us(ts) // 86400000000) // 7 AS p
              FROM events),
            coh AS (SELECT u, MIN(p) AS c FROM e GROUP BY 1),
            cells AS (
              SELECT c AS cohort, p - c AS off, COUNT(*) AS n_active
              FROM e JOIN coh USING (u) GROUP BY 1, 2),
            sz AS (SELECT c AS cohort, COUNT(*) AS cohort_size FROM coh GROUP BY 1)
            SELECT cohort::BIGINT AS cohort, off::BIGINT AS offset,
                   n_active::BIGINT AS n_active, cohort_size::BIGINT AS cohort_size,
                   ((n_active * 1000000) // cohort_size)::BIGINT AS retention_ppm
            FROM cells JOIN sz USING (cohort)
            ORDER BY 1, 2"""))

  /** Kaplan–Meier survival curve
    * ([[graft.operators.Survival.kaplanMeierLog2]] — right-censored
    * time-to-event estimation with the product carried as a SUM in the
    * 1/16 fixed-point log₂ domain: at-risk counts from a suffix-sum
    * window over the per-time census, per-step contribution
    * flog2fp(n−d) − flog2fp(n), sticky NULL once the curve hits exact 0;
    * census-sized windows only). Synthetic cohorts by order priority:
    * time = key%30+1, 25% right-censored by key residue. */
  val q348_survival = Q(
    "q348_survival",
    (s, dir) => {
      val d = t(s, dir, "orders").select(
        col("o_orderpriority").as("grp"),
        (pmod(col("o_orderkey"), lit(30L)) + 1L).as("tt"),
        (pmod(col("o_orderkey"), lit(4L)) =!= 0L).as("ev"))
      graft.operators.Survival.kaplanMeierLog2(d, "tt", "ev", Seq("grp"))
        .orderBy("grp", "t")
    },
    Some {
      s"""WITH d AS (
              SELECT o_orderpriority AS grp, o_orderkey % 30 + 1 AS t,
                     (o_orderkey % 4 <> 0) AS ev
              FROM orders),
            cen AS (
              SELECT grp, t,
                     SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS d_events,
                     SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS c_censored
              FROM d GROUP BY 1, 2),
            rk AS (
              SELECT grp, t, d_events, c_censored,
                     CAST(SUM(d_events + c_censored) OVER (PARTITION BY grp ORDER BY t DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
              FROM cen),
            st AS (
              SELECT grp, t, d_events, c_censored, n_risk,
                     CASE WHEN d_events = 0 THEN 0
                          WHEN n_risk > d_events
                          THEN ${flog("n_risk - d_events")} - ${flog("n_risk")} END AS step,
                     CASE WHEN d_events > 0 AND n_risk = d_events THEN 1 ELSE 0 END AS dead
              FROM rk),
            run AS (
              SELECT grp, t, d_events, c_censored, n_risk,
                     SUM(step) OVER (PARTITION BY grp ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     MAX(dead) OVER (PARTITION BY grp ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS anydead
              FROM st)
            SELECT grp, t::BIGINT AS t, n_risk, d_events::BIGINT AS d_events,
                   c_censored::BIGINT AS c_censored,
                   CASE WHEN anydead = 1 THEN NULL
                        ELSE CAST(cum AS BIGINT) END AS logs_fp16
            FROM run WHERE d_events > 0 ORDER BY 1, 2"""
    })

  /** Exact per-group ECDF ([[graft.operators.RankStats.ecdf]] — the
    * percentile table from the value census: distinct value, count,
    * cumulative ≤-count, group total, pct_le_ppm, all exact integers;
    * a p50/p99 lookup is a census-side filter. No per-row sort — the
    * window runs over the census only). Quantity ECDF per returnflag. */
  val q351_ecdf = Q(
    "q351_ecdf",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"))
      graft.operators.RankStats.ecdf(li, "qty", Seq("l_returnflag"))
        .orderBy("l_returnflag", "qty")
    },
    Some("""WITH cen AS (
              SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
                     COUNT(*) AS cnt
              FROM lineitem GROUP BY 1, 2),
            w AS (
              SELECT l_returnflag, qty, cnt,
                     SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY qty
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_le,
                     SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
              FROM cen)
            SELECT l_returnflag, qty, cnt::BIGINT AS cnt, cum_le::BIGINT AS cum_le,
                   n::BIGINT AS n, ((cum_le * 1000000) // n)::BIGINT AS pct_le_ppm
            FROM w ORDER BY 1, 2"""))

  /** Markov transition matrix + 2-step composition
    * ([[graft.operators.EventAnalytics.markovTransitions]] /
    * [[graft.operators.EventAnalytics.composeTransitions]] — per-user
    * LEAD-window transition census row-normalized to exact ppm, then the
    * defined truncating matrix square over the 25-row census). Ordering
    * tie-broken by event_id (window iteration order is not a contract). */
  val q355_markov = Q(
    "q355_markov",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val t1 = graft.operators.EventAnalytics
        .markovTransitions(ev, "user_id", "ts", "event_id", "event_type")
      t1.join(graft.operators.EventAnalytics.composeTransitions(t1, t1),
          Seq("from_state", "to_state"), "left")
        .orderBy("from_state", "to_state")
    },
    Some("""WITH seq AS (
              SELECT event_type AS f,
                     LEAD(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS nx
              FROM events),
            cen AS (
              SELECT f AS from_state, nx AS to_state, COUNT(*) AS n_trans
              FROM seq WHERE nx IS NOT NULL GROUP BY 1, 2),
            t1 AS (
              SELECT from_state, to_state, n_trans,
                     SUM(n_trans) OVER (PARTITION BY from_state) AS row_total,
                     (n_trans * 1000000) //
                       SUM(n_trans) OVER (PARTITION BY from_state) AS p_ppm
              FROM cen),
            t2 AS (
              SELECT a.from_state, b.to_state,
                     SUM(a.p_ppm * b.p_ppm) // 1000000 AS p2_ppm
              FROM t1 a JOIN t1 b ON a.to_state = b.from_state
              GROUP BY 1, 2)
            SELECT t1.from_state, t1.to_state, t1.n_trans::BIGINT AS n_trans,
                   t1.row_total::BIGINT AS row_total, t1.p_ppm::BIGINT AS p_ppm,
                   t2.p2_ppm::BIGINT AS p2_ppm
            FROM t1 LEFT JOIN t2 USING (from_state, to_state)
            ORDER BY 1, 2"""))

  /** Binary-segmentation changepoint ([[graft.operators.Drift
    * .binarySegmentOne]] — a daily order-count series whose last 20 days
    * absorb every 4th key, planting a level shift at the day-39/40
    * boundary; per priority; exact-tuple argmax over the series census). */
  val q372_changepoint = Q(
    "q372_changepoint",
    (s, dir) => {
      val series = t(s, dir, "orders").select(
        col("o_orderpriority").as("g"),
        when(pmod(col("o_orderkey"), lit(4L)) === 0L,
          lit(40L) + pmod(col("o_orderkey") * 48271L, lit(20L)))
          .otherwise(pmod(col("o_orderkey") * 48271L, lit(60L))).as("day"))
        .groupBy("g", "day").agg(count(lit(1)).as("v"))
      graft.operators.Drift.binarySegmentOne(series, "day", "v", Seq("g"))
        .orderBy("g")
    },
    Some("""WITH d AS (
              SELECT o_orderpriority AS g,
                     CASE WHEN o_orderkey % 4 = 0
                          THEN 40 + (o_orderkey * 48271) % 20
                          ELSE (o_orderkey * 48271) % 60 END AS day
              FROM orders),
            series AS (SELECT g, day, COUNT(*) AS v FROM d GROUP BY 1, 2),
            scan AS (
              SELECT g, day, v,
                     COUNT(*) OVER (PARTITION BY g ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k,
                     SUM(v) OVER (PARTITION BY g ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
                     COUNT(*) OVER (PARTITION BY g) AS n,
                     SUM(v) OVER (PARTITION BY g) AS tt
              FROM series),
            stats AS (
              SELECT g, day, k, p, n, tt,
                     CAST(((CAST(n AS HUGEINT) * p - CAST(k AS HUGEINT) * tt)
                       * (CAST(n AS HUGEINT) * p - CAST(k AS HUGEINT) * tt)
                       * 1000000)
                       // (CAST(n AS HUGEINT) * k * (n - k)) AS BIGINT) AS gup
              FROM scan WHERE n >= 2 AND k < n),
            best AS (
              SELECT g, day, k, p, n, tt, gup,
                     ROW_NUMBER() OVER (PARTITION BY g ORDER BY gup DESC, k) AS rn
              FROM stats)
            SELECT g, n::BIGINT AS n, day::BIGINT AS split_pos,
                   gup::BIGINT AS g_upm,
                   ((p * 1000000) // k)::BIGINT AS mean_left_micro,
                   (((tt - p) * 1000000) // (n - k))::BIGINT AS mean_right_micro
            FROM best WHERE rn = 1
            ORDER BY 1"""))

  val all: Seq[Q] = Seq(
    q99_mad_outliers, q100_gap_fill, q106_funnel, q107_cohort_retention, q113_heavy_hitters,
    q114_hll_distinct, q125_hll_union, q142_drift_tvd, q146_rate_limit, q153_quantile_sketch,
    q162_trimmed_agg, q164_volume_anomaly, q171_transitions, q172_seasonal_naive, q182_attribution,
    q183_interarrival, q185_basket_lift, q191_rolling_distinct, q192_event_trigrams,
    q193_weekday_profile, q197_volume_trend, q198_change_point, q202_decile_calibration,
    q204_kmv_overlap, q226_dyadic_ewma, q227_winsorize, q228_misra_gries, q232_time_weighted,
    q246_windowed_funnel, q248_lag_audit, q254_bloom_fpp, q255_position_attribution,
    q261_rank_sketch, q286_frequent_sequences, q293_acf, q329_psi, q330_time_decay, q338_hampel,
    q346_retention, q348_survival, q351_ecdf, q355_markov, q372_changepoint)
}
