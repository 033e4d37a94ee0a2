package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Constants._
import graft.operators.{Aggregation, Reshape, SetOps}

import graft.QueryDsl._

/** Catalog family: general relational and engine breadth — plain joins,
  * set operations, reshaping, windows, grouping sets, skew handling,
  * cardinality estimation, the Catalyst extension surface (custom top-k,
  * plan lint, window rewrite), and data governance (profiling,
  * data-quality suites, lineage, privacy mechanisms). COVERAGE.md §2.3,
  * §2.5–2.8 and the matching training-data-pipeline rows. Registered in
  * [[graft.Queries]]. */
private[graft] object RelationalCatalog {

  /** Multi-table broadcast join + aggregation (SURVEY §2.3/§2.4). */
  val q03_join_agg = Q(
    "q03_join_agg",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          round(sum(col("c_acctbal")), 2).as("total_acctbal"),
          count(lit(1)).cast("long").as("n_customers"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name, ROUND(SUM(c_acctbal), 2) AS total_acctbal,
            CAST(COUNT(*) AS BIGINT) AS n_customers
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name"""))

  /** Semi-join (record filtering, SURVEY §2.3). */
  val q05_semi = Q(
    "q05_semi",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o.select(col("o_custkey")), c("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("long").as("n"), round(sum(col("c_acctbal")), 2).as("total"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
            ROUND(SUM(c_acctbal), 2) AS total
            FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
            GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Anti-join (expected-missing-association semantics, SURVEY §2.3). */
  val q06_anti = Q(
    "q06_anti",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o.select(col("o_custkey")), c("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("nationkey")
    },
    Some("""SELECT CAST(c_nationkey AS BIGINT) AS nationkey, CAST(COUNT(*) AS BIGINT) AS n
            FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            GROUP BY 1 ORDER BY 1"""))

  /** EXCEPT ALL (SURVEY §2.7). */
  val q07_except = Q(
    "q07_except",
    (s, dir) => {
      val sup = t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("k"))
      val cust = t(s, dir, "customer").select(col("c_nationkey").cast("long").as("k"))
      SetOps
        .exceptAll(cust, sup)
        .groupBy("k")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("k")
    },
    Some("""SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer
            EXCEPT ALL
            SELECT CAST(s_nationkey AS BIGINT) AS k FROM supplier)
            GROUP BY k ORDER BY k"""))

  /** INTERSECT distinct (SURVEY §2.7). */
  val q08_intersect = Q(
    "q08_intersect",
    (s, dir) => {
      val sup = t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("k"))
      val cust = t(s, dir, "customer").select(col("c_nationkey").cast("long").as("k"))
      SetOps.intersect(cust, sup).orderBy("k")
    },
    Some("""SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer
            INTERSECT
            SELECT CAST(s_nationkey AS BIGINT) AS k FROM supplier
            ORDER BY k"""))

  /** Pivot: stacked → one column per record (SURVEY §2.8). */
  val q09_pivot = Q(
    "q09_pivot",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderstatus"), col("o_totalprice").as(ValueColumn))
      Reshape
        .pivot(o, "o_orderstatus", values = Seq("F", "O", "P"))
        .select(
          col("o_orderpriority"),
          round(col("F"), 2).as("f_total"),
          round(col("O"), 2).as("o_total"),
          round(col("P"), 2).as("p_total"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
            ROUND(SUM(CASE WHEN o_orderstatus='F' THEN o_totalprice END), 2) AS f_total,
            ROUND(SUM(CASE WHEN o_orderstatus='O' THEN o_totalprice END), 2) AS o_total,
            ROUND(SUM(CASE WHEN o_orderstatus='P' THEN o_totalprice END), 2) AS p_total
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Unpivot: wide → stacked (SURVEY §2.8). */
  val q10_unpivot = Q(
    "q10_unpivot",
    (s, dir) => {
      val p = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("p_partkey"),
        col("p_retailprice").cast("double").as("retailprice"),
        col("p_size").cast("double").as("size"))
      Reshape
        .unpivot(p, Seq("p_partkey"), Seq("retailprice", "size"), "attr", "val")
        .orderBy("p_partkey", "attr")
    },
    Some("""SELECT CAST(p_partkey AS BIGINT) AS p_partkey, 'retailprice' AS attr,
            CAST(p_retailprice AS DOUBLE) AS val FROM part
            UNION ALL
            SELECT CAST(p_partkey AS BIGINT), 'size', CAST(p_size AS DOUBLE) FROM part
            ORDER BY p_partkey, attr"""))

  /** Cross join (SURVEY §2.3). */
  val q19_cross = Q(
    "q19_cross",
    (s, dir) => {
      val r = t(s, dir, "region").select(col("r_name"))
      val st = t(s, dir, "orders").select(col("o_orderstatus")).distinct()
      r.crossJoin(st).orderBy("r_name", "o_orderstatus")
    },
    Some("""SELECT r_name, o_orderstatus FROM region
            CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
            ORDER BY r_name, o_orderstatus"""))

  /** Moving-average analytics over the time series (SURVEY §2.5 windows):
    * daily totals per event type, then a 3-day trailing mean — the frame
    * syntax both engines define identically. */
  val q61_moving_avg = Q(
    "q61_moving_avg",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events")
      val daily = e
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(col("value")).as("total"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d")).rowsBetween(-2, 0)
      daily
        .select(
          col("event_type"),
          date_format(col("d"), "yyyy-MM-dd").as("d"),
          round(col("total"), 2).as("total"),
          round(avg(col("total")).over(w), 2).as("ma3"))
        .orderBy("event_type", "d")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS d, SUM(value) AS total
              FROM events GROUP BY 1, 2)
            SELECT event_type, strftime(d, '%Y-%m-%d') AS d,
                   ROUND(total, 2) AS total,
                   ROUND(AVG(total) OVER (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS ma3
            FROM daily ORDER BY event_type, d"""))

  /** As-of join (custom operator Spark lacks — prompt §custom-operators):
    * every event picks up its user's most recent tier change at or before
    * the event time; events before the first change keep tier -1. The
    * oracle is DuckDB's NATIVE ASOF LEFT JOIN — an independent
    * implementation of the same semantics. */
  val q63_asof_join = Q(
    "q63_asof_join",
    (s, dir) => {
      val e = t(s, dir, "events")
      val changes = e.select(col("user_id")).distinct()
        .select(
          col("user_id"),
          explode(array(lit("2024-01-05"), lit("2024-01-15"), lit("2024-01-25"))).as("cd"))
        .select(
          col("user_id"),
          to_timestamp(col("cd")).as("cts"),
          ((col("user_id") + dayofmonth(to_timestamp(col("cd")))) % 5).cast("long").as("tier"))
      graft.operators.AsOfJoin
        .asOfJoin(e.select(col("user_id"), col("ts"), col("value")), changes, Seq("user_id"), "ts", "cts")
        .groupBy(coalesce(col("tier"), lit(-1L)).as("tier"))
        .agg(count(lit(1)).cast("long").as("n"), round(sum(col("value")), 2).as("total"))
        .orderBy("tier")
    },
    Some("""WITH changes AS (
              SELECT user_id, cts,
                     CAST((user_id + EXTRACT(day FROM cts)) % 5 AS BIGINT) AS tier
              FROM (SELECT DISTINCT user_id FROM events)
              CROSS JOIN (SELECT UNNEST([TIMESTAMP '2024-01-05',
                                         TIMESTAMP '2024-01-15',
                                         TIMESTAMP '2024-01-25']) AS cts))
            SELECT CAST(COALESCE(c.tier, -1) AS BIGINT) AS tier,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(e.value), 2) AS total
            FROM events e ASOF LEFT JOIN changes c
              ON e.user_id = c.user_id AND e.ts >= c.cts
            GROUP BY 1 ORDER BY 1"""))

  /** Range join (custom operator Spark lacks): events matched to the
    * half-open maintenance windows containing them, per event type —
    * bucketized equi-join + exact predicate. Oracle = DuckDB's plain range
    * join (natively optimized there), an independent implementation. */
  val q64_range_join = Q(
    "q64_range_join",
    (s, dir) => {
      val e = t(s, dir, "events")
      val windows = e.select(col("event_type")).distinct()
        .select(
          col("event_type"),
          explode(array(lit("2024-01-08"), lit("2024-01-18"))).as("ws"))
        .select(
          col("event_type"),
          to_timestamp(col("ws")).as("w_start"),
          (to_timestamp(col("ws")) + expr("INTERVAL 3 DAY")).as("w_end"))
      graft.operators.RangeJoin
        .intervalJoin(
          e.select(col("event_type"), col("ts"), col("value")),
          windows, Seq("event_type"), "ts", "w_start", "w_end")
        .groupBy(col("event_type"), date_format(col("w_start"), "yyyy-MM-dd").as("window_start"))
        .agg(count(lit(1)).cast("long").as("n"), round(sum(col("value")), 2).as("total"))
        .orderBy("event_type", "window_start")
    },
    Some("""WITH windows AS (
              SELECT event_type, ws AS w_start, ws + INTERVAL 3 DAY AS w_end
              FROM (SELECT DISTINCT event_type FROM events)
              CROSS JOIN (SELECT UNNEST([TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-18']) AS ws))
            SELECT e.event_type, strftime(w.w_start, '%Y-%m-%d') AS window_start,
                   CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(e.value), 2) AS total
            FROM events e JOIN windows w
              ON e.event_type = w.event_type AND e.ts >= w.w_start AND e.ts < w.w_end
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Corpus snapshot diff (pipeline-ops op): what changed between two
    * corpus versions — added / removed / changed / unchanged by content
    * comparison under a full outer join. The refresh-audit primitive behind
    * incremental re-processing (only `changed`+`added` re-enter the
    * pipeline). Both engines build the same synthetic "next" snapshot. */
  val q104_snapshot_diff = Q(
    "q104_snapshot_diff",
    (s, dir) => {
      val old = t(s, dir, "documents")
      val next = old
        .filter(col("doc_id") % 5 =!= 0) // every 5th doc removed
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2"))) // every 7th edited
            .otherwise(col("text")))
        .unionByName( // 100 new docs
          old.filter(col("doc_id") < 100).select(
            (col("doc_id") + 1000000L).as("doc_id"), concat(lit("new "), col("text")).as("text"),
            col("lang"), col("source"), col("n_chars")))
      graft.text.Dedup.corpusDiff(old, next, "doc_id", "text")
        .groupBy(col("status"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("status")
    },
    Some("""WITH next AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
              FROM documents WHERE doc_id % 5 <> 0
              UNION ALL
              SELECT doc_id + 1000000, 'new ' || text FROM documents WHERE doc_id < 100),
            d AS (
              SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                          WHEN n.doc_id IS NULL THEN 'removed'
                          WHEN o.text = n.text THEN 'unchanged'
                          ELSE 'changed' END AS status
              FROM documents o FULL OUTER JOIN next n ON o.doc_id = n.doc_id)
            SELECT status, CAST(COUNT(*) AS BIGINT) AS n
            FROM d GROUP BY 1 ORDER BY 1"""))

  /** Salted skew join (SURVEY §2.3 scale family): lineitem ⋈ part through
    * the hot-key salting path — big side salted by its own order key, small
    * side replicated ×8 — and the result must equal the PLAIN equi-join
    * (the oracle). Correctness of the rewrite is the point; the win shows
    * up when one key owns a shuffle partition. */
  val q105_salted_join = Q(
    "q105_salted_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      graft.operators.SkewJoin
        .saltedEquiJoin(
          li.withColumnRenamed("l_partkey", "p_partkey"), p,
          Seq("p_partkey"), salts = 8, saltSource = col("l_orderkey"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("p_brand")
    },
    Some("""SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(l.l_quantity), 2) AS sum_qty
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY 1 ORDER BY 1"""))

  /** Two-stage salted aggregation over a 3-key hot-group column (skew
    * family, the aggregation twin of q105's salted join): stage 1 spreads
    * each hot key across 8 salt sub-groups, stage 2 folds the partials.
    * All aggregates are exact-typed (BIGINT sums/counts/min/max), so the
    * result is row-identical to the plain spelling — which is exactly what
    * the oracle runs. */
  val q116_salted_agg = Q(
    "q116_salted_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("qty", col("l_quantity").cast("long"))
      Aggregation
        .saltedAggregate(
          li,
          Seq("l_returnflag"),
          Seq(
            ("sum", "qty", "sum_qty"), ("count", "qty", "n"),
            ("min", "qty", "min_qty"), ("max", "qty", "max_qty")),
          salts = 8,
          saltSource = col("l_orderkey"))
        .select(
          col("l_returnflag"), col("sum_qty").cast("long").as("sum_qty"),
          col("n").cast("long").as("n"), col("min_qty").cast("long").as("min_qty"),
          col("max_qty").cast("long").as("max_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(COUNT(l_quantity) AS BIGINT) AS n,
                   CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
                   CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
            FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** Window-function breadth (SURVEY §2.5): lag/lead/ntile/cume_dist/rank
    * in one pass over a single per-customer window spec — one shuffle on
    * the partition key serves all five. Raw price pass-throughs and exact
    * rational cume_dist keep every output bit-stable. */
  val q117_window_breadth = Q(
    "q117_window_breadth",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_custkey").cast("long").as("ckey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        cume_dist().over(w).as("cd"),
        rank().over(Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate")))
          .cast("long").as("date_rank"))
        .orderBy("okey")
    },
    Some("""SELECT CAST(o_orderkey AS BIGINT) AS okey, CAST(o_custkey AS BIGINT) AS ckey,
                   lag(o_totalprice, 1) OVER w AS prev_price,
                   lead(o_totalprice, 1) OVER w AS next_price,
                   CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                   cume_dist() OVER w AS cd,
                   CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS BIGINT) AS date_rank
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            ORDER BY okey"""))

  /** ROLLUP grouping-sets breadth (§2.4 extension — SURVEY marks grouping
    * sets "not needed" for reference parity; this closes the engine-breadth
    * row anyway): per-(flag, status) totals plus per-flag and grand-total
    * super-aggregate rows in ONE pass (Spark expands the sets before the
    * exchange — one shuffle, not three scans), with `grouping_id` labeling
    * each stratum. Exact BIGINT sums; the 'ALL' coalesce keeps NULL
    * grouping markers distinguishable from real NULL data on both engines. */
  val q122_rollup = Q(
    "q122_rollup",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).cast("long").as("n"),
          grouping_id().cast("long").as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"), col("gid"))
        .orderBy("gid", "flag", "status")
    },
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
                   COALESCE(l_linestatus, 'ALL') AS status,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY gid, flag, status"""))

  /** Generator/UDTF surface breadth (§2.11): `posexplode` over the token
    * arrays — the ordinal-preserving fan-out every positional text pipeline
    * starts from — cross-checked against DuckDB's UNNEST WITH ORDINALITY.
    * Output is the per-position token table for a doc slice (ordinals are
    * the payload here; q101's inverted index consumes this shape). */
  val q123_posexplode = Q(
    "q123_posexplode",
    (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 40)
      d.select(
        col("doc_id").cast("long").as("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")))
        .select(
          col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
        .filter(col("pos") < 12)
        .orderBy("doc_id", "pos")
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
                   toks[CAST(u.i AS INTEGER)] AS tok
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents WHERE doc_id < 40),
                 UNNEST(range(1, len(toks) + 1)) AS u(i)
            WHERE u.i <= 12
            ORDER BY doc_id, pos"""))

  /** ANALYZE-style table profile (engine-ops breadth): per-column rowcount
    * / nulls / exact ndv / integral min-max in ONE aggregation pass — the
    * stats that drive broadcast and skew decisions. The unpivot to rows
    * happens on the one-row aggregate, not the data. */
  val q126_profile = Q(
    "q126_profile",
    (s, dir) => {
      graft.operators.TableStats
        .profile(
          t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
        .orderBy("col_name")
    },
    Some {
      val integral = Set("c_custkey", "c_nationkey")
      val parts = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment").map { c =>
        val mm =
          if (integral(c)) s"CAST(MIN($c) AS BIGINT) AS min_long, CAST(MAX($c) AS BIGINT) AS max_long"
          else "CAST(NULL AS BIGINT) AS min_long, CAST(NULL AS BIGINT) AS max_long"
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) - COUNT($c) AS BIGINT) AS nulls,
                   CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv, $mm
            FROM customer"""
      }
      parts.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    })

  /** Declarative data-quality expectations (dbt-test / Deequ shape): six
    * rules over lineitem — all row-level rules fused into ONE aggregation
    * pass; uniqueness is its own groupBy; referential integrity is a
    * broadcast anti-join count. */
  val q133_expectations = Q(
    "q133_expectations",
    (s, dir) => {
      import graft.operators.Validation._
      val li = t(s, dir, "lineitem")
      expectationsReport(li, Seq(
        ExpectNotNull("keys_not_null", Seq("l_orderkey", "l_linenumber")),
        ExpectAcceptedValues("returnflag_domain", "l_returnflag", Seq("A", "N", "R")),
        ExpectRange("discount_range", "l_discount", 0.0, 0.05),
        ExpectRange("quantity_range", "l_quantity", 1.0, 30.0),
        ExpectUnique("order_line_unique", Seq("l_orderkey", "l_linenumber")),
        ExpectReferential("orderkey_in_orders", "l_orderkey", t(s, dir, "orders"), "o_orderkey")))
        .orderBy("rule")
    },
    Some("""SELECT * FROM (
              SELECT 'keys_not_null' AS rule,
                     CAST(SUM(CASE WHEN l_orderkey IS NULL OR l_linenumber IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM lineitem
              UNION ALL
              SELECT 'returnflag_domain',
                     CAST(SUM(CASE WHEN l_returnflag IS NOT NULL
                                    AND l_returnflag NOT IN ('A', 'N', 'R')
                              THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
              UNION ALL
              SELECT 'discount_range',
                     CAST(SUM(CASE WHEN l_discount IS NOT NULL
                                    AND (l_discount < 0.0 OR l_discount > 0.05)
                              THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
              UNION ALL
              SELECT 'quantity_range',
                     CAST(SUM(CASE WHEN l_quantity IS NOT NULL
                                    AND (l_quantity < 1.0 OR l_quantity > 30.0)
                              THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
              UNION ALL
              SELECT 'order_line_unique',
                     CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
              FROM lineitem
              UNION ALL
              SELECT 'orderkey_in_orders',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                      WHERE l_orderkey IS NOT NULL
                        AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
            ) ORDER BY rule"""))

  /** CUBE aggregation (§2.4 breadth alongside q122's ROLLUP): all four
    * grouping combinations of (returnflag, linestatus) in one pass with
    * grouping_id disambiguation. */
  val q138_cube = Q(
    "q138_cube",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).cast("long").as("n"),
          grouping_id().cast("long").as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"), col("gid"))
        .orderBy("gid", "flag", "status")
    },
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
                   COALESCE(l_linestatus, 'ALL') AS status,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY gid, flag, status"""))

  /** Keyed pseudonymization (PII-safe analytics joins): customer keys
    * replaced by salted SHA-256 digests on BOTH tables, then joined on the
    * pseudonym — referential structure preserved, raw keys never co-located
    * with payloads. SHA-256 is standardized byte-exact, so the oracle
    * replays the digests themselves (unlike engine-internal hashes). */
  val q147_pseudonymize = Q(
    "q147_pseudonymize",
    (s, dir) => {
      def pseudo(key: Column): Column =
        sha2(concat(key.cast("string"), lit("|pepper42")), 256)
      val cust = t(s, dir, "customer")
        .select(pseudo(col("c_custkey")).as("pid"), col("c_mktsegment").as("segment"))
      val ords = t(s, dir, "orders")
        .select(pseudo(col("o_custkey")).as("pid"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cust.join(ords, Seq("pid"))
        .groupBy(col("segment"))
        .agg(
          count(lit(1)).cast("long").as("n_orders"),
          sum(col("cents")).cast("long").as("total_cents"),
          min(col("pid")).as("sample_pid"))
        .orderBy("segment")
    },
    Some("""WITH cust AS (SELECT sha256(CAST(c_custkey AS VARCHAR) || '|pepper42') AS pid,
                                 c_mktsegment AS segment FROM customer),
                 ords AS (SELECT sha256(CAST(o_custkey AS VARCHAR) || '|pepper42') AS pid,
                                 CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
            SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(cents) AS BIGINT) AS total_cents,
                   MIN(pid) AS sample_pid
            FROM cust JOIN ords USING (pid)
            GROUP BY 1 ORDER BY 1"""))

  /** k-anonymity release gate: quasi-identifier groups (age bucket ×
    * region × event type) below k=5 are suppressed; the audit reports
    * group counts and l-diversity of a sensitive column per event type —
    * the release-readiness numbers a data steward actually reads. Pure
    * integer counting on both engines. */
  val q163_k_anonymity = Q(
    "q163_k_anonymity",
    (s, dir) => {
      import graft.operators.Privacy
      val e = t(s, dir, "events").select(
        col("event_type"),
        (col("user_id") % 23).cast("long").as("age_bucket"),
        (col("user_id") % 7).cast("long").as("region"),
        (floor(col("value")).cast("long") % 10).as("sensitive"))
      val quasi = Seq("event_type", "age_bucket", "region")
      val report = Privacy.kAnonymityReport(e, quasi, "sensitive", k = 5L)
      val keptRows = Privacy.kAnonymitySuppress(e, quasi, k = 5L)
        .groupBy(col("event_type")).agg(count(lit(1)).cast("long").as("rows_kept"))
      report
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).cast("long").as("n_groups"),
          sum(when(col("suppressed"), 1L).otherwise(0L)).cast("long").as("n_suppressed"),
          min(when(!col("suppressed"), col("l_diversity"))).cast("long").as("min_l_kept"))
        // LEFT join: an event_type whose every quasi-group is suppressed has
        // no kept rows at all — it must still report, with rows_kept = 0
        .join(keptRows, Seq("event_type"), "left")
        .withColumn("rows_kept", coalesce(col("rows_kept"), lit(0L)))
        .orderBy("event_type")
    },
    Some("""WITH e AS (
              SELECT event_type,
                     CAST(user_id % 23 AS BIGINT) AS age_bucket,
                     CAST(user_id % 7 AS BIGINT) AS region,
                     CAST(FLOOR(value) AS BIGINT) % 10 AS sensitive
              FROM events),
            g AS (
              SELECT event_type, age_bucket, region,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l
              FROM e GROUP BY 1, 2, 3)
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed,
                   CAST(MIN(CASE WHEN n >= 5 THEN l END) AS BIGINT) AS min_l_kept,
                   CAST(SUM(CASE WHEN n >= 5 THEN n ELSE 0 END) AS BIGINT) AS rows_kept
            FROM g GROUP BY event_type ORDER BY event_type"""))

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

  /** Column-level lineage report over a four-table revenue pipeline —
    * Catalyst-native governance tooling ([[graft.plans.Lineage]]): the
    * analyzed plan's ExprIds are folded bottom-up into per-output-column
    * source sets, no data touched. The oracle is the hand-derived expected
    * mapping (the strongest form for constructed inputs: the answer comes
    * from the pipeline's definition, not from replaying the extractor). */
  val q206_lineage = Q(
    "q206_lineage",
    (s, dir) => {
      val pipeline = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("n_name").as("nation_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_rows"))
      graft.plans.Lineage.report(pipeline).orderBy("out_col")
    },
    Some("""SELECT * FROM (VALUES
              ('n_orders', 'orders.o_orderkey'),
              ('n_rows', 'literal'),
              ('nation_name', 'nation.n_name'),
              ('revenue', 'lineitem.l_discount,lineitem.l_extendedprice')
            ) AS v(out_col, sources) ORDER BY out_col"""))

  /** Count-Min join-size estimation (Cormode & Muthukrishnan '05 §4.2):
    * the size of `A ⋈ B` on a key, estimated as the min-across-depths
    * inner product of the two sides' sketch rows — two 16-KiB artifacts
    * answer the question a planner asks before choosing a join order, with
    * the one-sided `estimate ≥ exact` guarantee. The exact join sizes ride
    * alongside as the fidelity reference (the q113/q200 convention): the
    * view⋈purchase cross size and the view self-join size (the F2 second
    * frequency moment). Oracle replays the fixed-8-byte XXH64 → bucket →
    * cell-sum → inner-product arithmetic in SQL. */
  val q214_join_size_est = Q(
    "q214_join_size_est",
    (s, dir) => {
      import graft.operators.Sketches
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view").select(col("user_id").as("k"))
      val buys = ev.filter(col("event_type") === "purchase").select(col("user_id").as("k"))
      val cmV = Sketches.buildCountMin(views, array(xxhash64(col("k"))), depth = 4, width = 512)
      val cmB = Sketches.buildCountMin(buys, array(xxhash64(col("k"))), depth = 4, width = 512)
      val cntV = views.groupBy("k").agg(count(lit(1)).as("cv"))
      val cntB = buys.groupBy("k").agg(count(lit(1)).as("cb"))
      val exacts = cntV.join(cntB, Seq("k"))
        .agg(sum(col("cv") * col("cb")).as("exact"))
        .withColumn("pair", lit("view_purchase"))
        .unionByName(
          cntV.agg(sum(col("cv") * col("cv")).as("exact"))
            .withColumn("pair", lit("view_view")))
      val ests = s.createDataFrame(Seq(
        ("view_purchase", cmV.innerProduct(cmB)),
        ("view_view", cmV.innerProduct(cmV)))).toDF("pair", "est")
      exacts.join(ests, Seq("pair"))
        .select(col("pair"), col("est").cast("long").as("est"),
          col("exact").cast("long").as("exact"))
        .orderBy("pair")
    },
    Some {
      import graft.tools.OracleSql._
      def side(tp: String, pfx: String): String = {
        val keys = s"SELECT user_id AS k, COUNT(*) AS c FROM events WHERE event_type = '$tp' GROUP BY 1"
        val hashed = xxhash64LongStages(keys, "k", "kh", pfx = pfx)
        val buckets = (0 until 4)
          .map(i => s"CAST(((h1 + $i * h2) % 4294967296) % 512 AS BIGINT) AS g$i")
          .mkString(", ")
        s"""SELECT k, c, $buckets FROM (
              SELECT k, c, u % 4294967296 AS h1, u // 4294967296 AS h2 FROM (
                SELECT k, c, ${unsignedOf("kh")} AS u FROM ($hashed)))"""
      }
      val cellsV = (0 until 4)
        .map(i => s"sv$i AS (SELECT g$i AS g, SUM(c) AS s FROM bv GROUP BY 1)")
        .mkString(",\n            ")
      val cellsB = (0 until 4)
        .map(i => s"sb$i AS (SELECT g$i AS g, SUM(c) AS s FROM bb GROUP BY 1)")
        .mkString(",\n            ")
      val ipVB = (0 until 4)
        .map(i => s"(SELECT SUM(a.s * b.s) FROM sv$i a JOIN sb$i b USING (g))")
        .mkString("LEAST(", ", ", ")")
      val ipVV = (0 until 4)
        .map(i => s"(SELECT SUM(a.s * a.s) FROM sv$i a)")
        .mkString("LEAST(", ", ", ")")
      s"""WITH bv AS (${side("view", "__jv")}),
            bb AS (${side("purchase", "__jb")}),
            $cellsV,
            $cellsB
          SELECT 'view_purchase' AS pair, CAST($ipVB AS BIGINT) AS est,
                 CAST((SELECT SUM(v.c * b.c) FROM bv v JOIN bb b USING (k)) AS BIGINT) AS exact
          UNION ALL
          SELECT 'view_view', CAST($ipVV AS BIGINT),
                 CAST((SELECT SUM(c * c) FROM bv) AS BIGINT)
          ORDER BY pair"""
    })

  /** Local-DP randomized response (Warner '65; the RAPPOR-style frequency
    * mechanism) over event types: each row reports its TRUE type when its
    * coin bit is 1, otherwise a hash-chosen type uniform over the k-type
    * vocabulary; the collector sees only the randomized stream and
    * debiases with n̂_v = 2·c_v − N/k, emitted k-SCALED
    * (est_scaled = 2k·c_v − N) so every value is an exact BIGINT. The coin
    * and the replacement draw both derive from xxhash64(event_id) — the
    * DETERMINISTIC stand-in for the PRNG a real deployment uses, which is
    * what lets both engines replay the identical randomized stream
    * (the q135/q169 integer-randomness convention). True counts ride
    * alongside as the fidelity reference. Pure map-side randomization +
    * two k-sized aggregates. */
  val q218_randomized_response = Q(
    "q218_randomized_response",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id").cast("long").as("event_id"), col("event_type"))
      // bounded driver collect: the event-type vocabulary (the q80/q97
      // convention for semantically-forced small sets)
      val types = ev.select(col("event_type")).distinct()
        .orderBy("event_type").collect().map(_.getString(0)).toSeq
      val k = types.length.toLong
      val typesArr = array(types.map(lit): _*)
      val h = xxhash64(col("event_id"))
      val randomized = ev.select(
        col("event_type"),
        when(pmod(h, lit(2L)) === 1L, col("event_type"))
          .otherwise(element_at(typesArr,
            (shiftrightunsigned(h, 1) % k).cast("int") + 1)).as("reported"))
      val rep = randomized.groupBy(col("reported").as("event_type"))
        .agg(count(lit(1)).as("reported_cnt"))
      val tru = randomized.groupBy(col("event_type"))
        .agg(count(lit(1)).as("true_cnt"))
      val total = ev.count()
      tru.join(rep, Seq("event_type"), "left")
        .select(
          col("event_type"),
          coalesce(col("reported_cnt"), lit(0L)).cast("long").as("reported_cnt"),
          col("true_cnt").cast("long").as("true_cnt"),
          (lit(2L * k) * coalesce(col("reported_cnt"), lit(0L)) - lit(total))
            .cast("long").as("est_scaled"))
        .orderBy("event_type")
    },
    Some {
      import graft.tools.OracleSql._
      val base = "SELECT event_id::BIGINT AS event_id, event_type FROM events"
      val hashed = xxhash64LongStages(base, "event_id", "h", pfx = "__p")
      s"""WITH hashed AS ($hashed),
            types AS (SELECT event_type AS t,
                             ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS idx
                      FROM (SELECT DISTINCT event_type FROM events)),
            kc AS (SELECT COUNT(*)::BIGINT AS k FROM types),
            rnd AS (SELECT ev.event_type,
                           CASE WHEN ${unsignedOf("ev.h")} % 2 = 1 THEN ev.event_type
                                ELSE tt.t END AS reported
                    FROM (SELECT h, event_type,
                                 CAST((${unsignedOf("h")} // 2) % (SELECT k FROM kc) AS BIGINT) AS alt_idx
                          FROM hashed) ev
                    JOIN types tt ON tt.idx = ev.alt_idx),
            rep AS (SELECT reported AS event_type, COUNT(*) AS reported_cnt
                    FROM rnd GROUP BY 1),
            tru AS (SELECT event_type, COUNT(*) AS true_cnt FROM rnd GROUP BY 1),
            n AS (SELECT COUNT(*)::BIGINT AS total FROM events)
          SELECT t.event_type,
                 CAST(COALESCE(r.reported_cnt, 0) AS BIGINT) AS reported_cnt,
                 CAST(t.true_cnt AS BIGINT) AS true_cnt,
                 CAST(2 * kc.k * COALESCE(r.reported_cnt, 0) - n.total AS BIGINT) AS est_scaled
          FROM tru t
          LEFT JOIN rep r ON r.event_type = t.event_type
          CROSS JOIN kc CROSS JOIN n
          ORDER BY t.event_type"""
    })

  /** Bloom-pruned runtime-filter join ([[graft.operators.RuntimeFilter]]):
    * lineitem joined to the suppliers of ONE nation with the fact side
    * pre-pruned map-side by a Bloom filter built over the dim keys — the
    * semi-join reduction that keeps a selective join from shuffling the
    * full fact table (≈ |matching| + fpp·|fact| rows reach the exchange
    * instead of |fact|). Result is EXACTLY the plain join — no false
    * negatives by construction, false positives die in the join — so the
    * oracle IS the plain join, the q105/q116 convention for plan-level
    * operators. */
  val q219_bloom_join = Q(
    "q219_bloom_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))
      val dim = t(s, dir, "supplier").join(
        t(s, dir, "nation").filter(col("n_name") === "NATION_9"),
        col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"))
      graft.operators.RuntimeFilter
        .bloomPrunedJoin(li, dim, "l_suppkey", "s_suppkey")
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).cast("long").as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("s_suppkey")
    },
    Some("""SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_9'
            GROUP BY 1, 2 ORDER BY 1"""))

  /** Join-key skew diagnostic (the pre-flight report behind the salted
    * join/agg family q105/q116): per event type, the user_id key
    * distribution's concentration — key count, hottest-key count, top-10
    * mass (via the custom [[graft.operators.TopK]] bounded-heap physical
    * operator), hottest-key share in ppm, and the suggested salt factor
    * ceil(max_cnt · P / total) for P = 32 partitions (how many ways the
    * hottest key must split so no partition exceeds the mean load). All
    * integer; one groupBy + k-sized aggregates. */
  val q220_skew_report = Q(
    "q220_skew_report",
    (s, dir) => {
      val grp = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // feeds both the agg and the TopK operator
      val agg = grp.groupBy(col("event_type"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_cnt"))
      val top10 = graft.operators.TopK
        .perGroup(grp, Seq("event_type"), Seq(("c", false), ("user_id", true)), 10)
        .groupBy(col("event_type"))
        .agg(sum(col("c")).as("top10_sum"))
      agg.join(top10, Seq("event_type"))
        .select(
          col("event_type"),
          col("n_rows").cast("long").as("n_rows"),
          col("n_keys").cast("long").as("n_keys"),
          col("max_cnt").cast("long").as("max_cnt"),
          col("top10_sum").cast("long").as("top10_sum"),
          expr("(1000000 * max_cnt) div n_rows").as("top1_share_ppm"),
          expr("(max_cnt * 32 + n_rows - 1) div n_rows").as("suggested_salt"))
        .orderBy("event_type")
    },
    Some("""WITH grp AS (SELECT event_type, user_id, COUNT(*) AS c
                         FROM events GROUP BY 1, 2),
              agg AS (SELECT event_type, SUM(c) AS n_rows, COUNT(*) AS n_keys,
                             MAX(c) AS max_cnt
                      FROM grp GROUP BY 1),
              t10 AS (SELECT event_type, SUM(c) AS top10_sum FROM (
                        SELECT event_type, c, ROW_NUMBER() OVER (
                          PARTITION BY event_type ORDER BY c DESC, user_id) AS rn
                        FROM grp) WHERE rn <= 10 GROUP BY 1)
            SELECT a.event_type,
                   CAST(a.n_rows AS BIGINT) AS n_rows,
                   CAST(a.n_keys AS BIGINT) AS n_keys,
                   CAST(a.max_cnt AS BIGINT) AS max_cnt,
                   CAST(t.top10_sum AS BIGINT) AS top10_sum,
                   CAST((1000000 * a.max_cnt) // a.n_rows AS BIGINT) AS top1_share_ppm,
                   CAST((a.max_cnt * 32 + a.n_rows - 1) // a.n_rows AS BIGINT) AS suggested_salt
            FROM agg a JOIN t10 t USING (event_type)
            ORDER BY a.event_type"""))

  /** Sweep-line maximum-concurrency profile: per-user 30-min-gap sessions
    * (q58's sessionization) as CLOSED [first-event, last-event] intervals,
    * swept by +1/−1 boundary points — the classic interval-overlap
    * counting operator (ends at an instant release before starts at the
    * same instant claim, i.e. [s, e+1µs) half-open arithmetic). Scale
    * shape: boundary points pre-aggregate to net deltas per DISTINCT
    * instant, so the one unavoidable global-order cumsum runs over
    * distinct boundary instants (≪ events — the q207 vocabulary-sort
    * move). Output: per day, the max concurrent sessions observed at
    * boundary instants that day. */
  val q222_concurrency = Q(
    "q222_concurrency",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sess = graft.time.Sessionize
        .assignSessions(t(s, dir, "events"), "ts", 1800L, Seq("user_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(unix_micros(min(col("ts"))).as("s"),
          (unix_micros(max(col("ts"))) + 1L).as("e"))
      val pts = sess.select(col("s").as("t"), lit(1L).as("d"))
        .unionAll(sess.select(col("e").as("t"), lit(-1L).as("d")))
      val byT = pts.groupBy(col("t")).agg(sum(col("d")).as("net"))
      val cum = byT.withColumn("cc",
        sum(col("net")).over(Window.orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cum.groupBy(date_format(timestamp_micros(col("t")), "yyyy-MM-dd").as("day"))
        .agg(max(col("cc")).cast("long").as("max_cc"))
        .orderBy("day")
    },
    Some("""WITH marked AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
                     THEN 1 ELSE 0 END AS is_start
              FROM events),
            sess AS (
              SELECT user_id,
                     SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS sid, ts
              FROM marked),
            iv AS (SELECT user_id, sid, MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) + 1 AS e
                   FROM sess GROUP BY 1, 2),
            pts AS (SELECT s AS t, 1 AS d FROM iv UNION ALL SELECT e, -1 FROM iv),
            byt AS (SELECT t, SUM(d) AS net FROM pts GROUP BY 1),
            cum AS (SELECT t, SUM(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cc
                    FROM byt)
          SELECT strftime(make_timestamp(t), '%Y-%m-%d') AS day,
                 CAST(MAX(cc) AS BIGINT) AS max_cc
          FROM cum GROUP BY 1 ORDER BY 1"""))

  /** Price-tier classification via the broadcast interval-lookup join —
    * the SECOND whole-operator Catalyst extension
    * ([[graft.plans.IntervalJoin]]): lineitem prices joined to a table of
    * disjoint [lo, hi) tiers by binary search over the sorted broadcast
    * intervals, O(n log m) where the plan Spark writes for the same
    * `p >= lo AND p < hi` predicate is an O(n·m)
    * BroadcastNestedLoopJoin. Probe-side partitioning is preserved (no
    * shuffle before the aggregate's own exchange); disjointness is
    * validated, not assumed. Oracle = the plain containment join. */
  val q224_interval_lookup = Q(
    "q224_interval_lookup",
    (s, dir) => {
      import s.implicits._
      val tiers = Seq(
        ("budget", 0L, 5000L),
        ("value", 5000L, 15000L),
        ("mid", 15000L, 30000L),
        ("premium", 30000L, 60000L),
        ("luxury", 60000L, 120000L)).toDF("tier", "lo", "hi")
      val probe = t(s, dir, "lineitem")
        .select(floor(col("l_extendedprice")).cast("long").as("price_pt"),
          col("l_quantity"))
      graft.operators.IntervalLookup
        .join(probe, tiers, "price_pt", "lo", "hi")
        .groupBy(col("tier"), col("lo"))
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(col("tier"), col("lo").cast("long").as("lo"), col("n"), col("sum_qty"))
        .orderBy("lo")
    },
    Some("""WITH tiers(tier, lo, hi) AS (VALUES
              ('budget', 0, 5000), ('value', 5000, 15000), ('mid', 15000, 30000),
              ('premium', 30000, 60000), ('luxury', 60000, 120000))
            SELECT tier, CAST(lo AS BIGINT) AS lo, CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem JOIN tiers
              ON FLOOR(l_extendedprice) >= lo AND FLOOR(l_extendedprice) < hi
            GROUP BY 1, 2 ORDER BY lo"""))

  /** The textbook window top-k spelling, silently planned as the custom
    * bounded-heap operator: with `spark.graft.topk.rewriteWindow` on, the
    * opt-in optimizer rule
    * [[graft.plans.TopKPerGroup.RewriteRowNumberTopK]] rewrites
    * `row_number() OVER (PARTITION BY order ORDER BY price DESC, line)
    * <= 2` + rank-drop into TopKPerGroupNode — the user keeps the
    * idiomatic query, the plan loses its full shuffle + per-group sort
    * (≤ k rows per group per partition cross one exchange). The window
    * order here is TOTAL (linenumber breaks price ties), which is the
    * contract the conf asserts. Values must equal the window form
    * exactly — the oracle IS the window replay. */
  val q230_window_topk_rewrite = Q(
    "q230_window_topk_rewrite",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.core.GraftSession.withConf(s, "spark.graft.topk.rewriteWindow" -> "true") {
        val li = t(s, dir, "lineitem")
        val w = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
        val top2 = li
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("l_orderkey"), col("l_extendedprice"))
        val out = top2
          .groupBy(col("l_orderkey").cast("long").as("l_orderkey"))
          .agg(count(lit(1)).cast("long").as("n"),
            round(sum(col("l_extendedprice")), 2).as("top2_sum"))
          .orderBy("l_orderkey")
        // materialize under the conf scope — the rewrite fires at
        // optimization time, which localCheckpoint forces here
        out.localCheckpoint(true)
      }
    },
    Some("""SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(l_extendedprice), 2) AS top2_sum
            FROM (
              SELECT l_orderkey, l_extendedprice,
                     ROW_NUMBER() OVER (PARTITION BY l_orderkey
                       ORDER BY l_extendedprice DESC, l_linenumber) AS rn
              FROM lineitem)
            WHERE rn <= 2
            GROUP BY 1 ORDER BY 1"""))

  private val q238Runs = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Single-pass pipeline telemetry via Spark's Observation API: a
    * quality-gate filter instrumented with `Dataset.observe` metrics
    * (rows in, null texts, total chars) that are collected DURING the one
    * action — no second audit pass over the corpus, which at 100 TB is
    * the difference between metrics-for-free and a doubled bill. The
    * observed values join the gate's own output into one report; the
    * oracle recomputes both sides as plain aggregates. */
  val q238_observed_metrics = Q(
    "q238_observed_metrics",
    (s, dir) => {
      import s.implicits._
      val obs = new org.apache.spark.sql.Observation(
        s"graft_q238_${q238Runs.incrementAndGet()}")
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .observe(obs,
          count(lit(1)).as("rows_in"),
          sum(when(col("text").isNull || col("text") === "", 1L).otherwise(0L)).as("empty_texts"),
          sum(length(coalesce(col("text"), lit("")))).as("total_chars"))
        .filter(length(col("text")) >= 200)
      val kept = d.count()
      val m = obs.get
      Seq((m("rows_in").asInstanceOf[Long], m("empty_texts").asInstanceOf[Long],
        m("total_chars").asInstanceOf[Long], kept))
        .toDF("rows_in", "empty_texts", "total_chars", "rows_kept")
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS rows_in,
                   CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT) AS empty_texts,
                   CAST(SUM(length(COALESCE(text, ''))) AS BIGINT) AS total_chars,
                   CAST(SUM(CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS rows_kept
            FROM documents"""))

  /** Right-to-be-forgotten propagation: a tombstone set (every 13th user)
    * cascaded through the raw events AND two derived artifacts — the
    * per-user daily rollup and the HLL-register sketch table — with a
    * per-artifact before/after/leak report. The sketch artifact is the
    * interesting case: HLL registers cannot subtract, so the deletion
    * contract is REBUILD-from-surviving-rows (the GDPR reality for
    * non-invertible summaries, stated loudly rather than papered over);
    * leak counts prove absence by anti-join, not by trust. Deletes are
    * broadcast anti-joins — delta-sized, never a corpus shuffle. */
  val q239_forget_flow = Q(
    "q239_forget_flow",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id").cast("long").as("user_id"),
        col("event_id"), col("ts"))
      val tomb = ev.select(col("user_id")).distinct().filter(col("user_id") % 13 === 0)
      val rollup = ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val evAfter = ev.join(broadcast(tomb), Seq("user_id"), "left_anti")
      val rollupAfter = rollup.join(broadcast(tomb), Seq("user_id"), "left_anti")
      import graft.operators.Sketches
      val regsBefore = Sketches.hllRegisters(ev, Nil, xxhash64(col("user_id")), p = 8)
      val regsAfter = Sketches.hllRegisters(evAfter, Nil, xxhash64(col("user_id")), p = 8)
      val report = Seq(
        ("events", ev.count(), evAfter.count(),
          evAfter.join(broadcast(tomb), Seq("user_id"), "left_semi").count()),
        ("daily_rollup", rollup.count(), rollupAfter.count(),
          rollupAfter.join(broadcast(tomb), Seq("user_id"), "left_semi").count()),
        ("hll_registers", regsBefore.count(), regsAfter.count(), 0L))
      import s.implicits._
      report.toDF("artifact", "rows_before", "rows_after", "leaked")
        .select(col("artifact"),
          col("rows_before").cast("long").as("rows_before"),
          col("rows_after").cast("long").as("rows_after"),
          col("leaked").cast("long").as("leaked"))
        .orderBy("artifact")
    },
    Some {
      import graft.tools.OracleSql._
      // the register-table row counts replay through the fixed-8-byte
      // XXH64 stages: count of distinct occupied register indices
      val keysB = "SELECT DISTINCT user_id FROM events"
      val keysA = "SELECT DISTINCT user_id FROM events WHERE user_id % 13 <> 0"
      val hb = xxhash64LongStages(keysB, "user_id", "kh", pfx = "__fb")
      val ha = xxhash64LongStages(keysA, "user_id", "kh", pfx = "__fa")
      def regs(h: String): String =
        s"""SELECT COUNT(DISTINCT CASE WHEN kh < 0
                     THEN (kh::HUGEINT + 18446744073709551616::HUGEINT) % 256
                     ELSE kh::HUGEINT % 256 END) FROM ($h)"""
      s"""SELECT 'daily_rollup' AS artifact,
                 (SELECT COUNT(*) FROM (SELECT user_id, ts::DATE, COUNT(*) FROM events GROUP BY 1, 2))::BIGINT AS rows_before,
                 (SELECT COUNT(*) FROM (SELECT user_id, ts::DATE, COUNT(*) FROM events WHERE user_id % 13 <> 0 GROUP BY 1, 2))::BIGINT AS rows_after,
                 0::BIGINT AS leaked
          UNION ALL
          SELECT 'events',
                 (SELECT COUNT(*) FROM events)::BIGINT,
                 (SELECT COUNT(*) FROM events WHERE user_id % 13 <> 0)::BIGINT,
                 0::BIGINT
          UNION ALL
          SELECT 'hll_registers', (${regs(hb)})::BIGINT, (${regs(ha)})::BIGINT, 0::BIGINT
          ORDER BY artifact"""
    })

  /** The plan linter ([[graft.plans.PlanLint]], `injectCheckRule`) in
    * action: with `spark.graft.lint.noCartesian` on, an unconditioned
    * CROSS JOIN is VETOED at analysis time (the dropped-join-condition
    * footgun caught before it melts a cluster) while the equi-join form
    * of the same question passes and computes. The report row per case
    * (vetoed?, rows) is the deterministic artifact; conf restored after. */
  val q242_plan_lint = Q(
    "q242_plan_lint",
    (s, dir) => {
      import s.implicits._
      graft.core.GraftSession.withConf(s, "spark.graft.lint.noCartesian" -> "true") {
        val n = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        val r = t(s, dir, "region").select(col("r_regionkey"))
        val vetoed =
          try { n.crossJoin(r).count(); false }
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if e.getMessage.contains("noCartesian") => true
          }
        val joined = n.join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey")).count()
        Seq(("cross_join", vetoed, 0L), ("equi_join", false, joined))
          .toDF("case", "vetoed", "rows")
          .select(col("case"), col("vetoed"), col("rows").cast("long").as("rows"))
          .orderBy("case")
      }
    },
    Some("""SELECT 'cross_join' AS "case", TRUE AS vetoed, 0::BIGINT AS rows
            UNION ALL
            SELECT 'equi_join', FALSE,
                   (SELECT COUNT(*) FROM nation JOIN region ON n_regionkey = r_regionkey)::BIGINT
            ORDER BY "case""""))

  /** Schema matching by column-content fingerprints (the data-integration
    * classic): every string-rendered column of customer and supplier is
    * summarized by a 64-min MinHash signature of its DISTINCT value set —
    * spelled as 64 codegen'd min-aggregates over universal hashes, so the
    * signature partial-aggregates MAP-SIDE and a 100 TB column folds to
    * 64 longs (the q143 corpus-signature shape, applied to columns).
    * Each customer column then matches its best supplier column by
    * estimated Jaccard — the alignment step that lets two uncoordinated
    * exports merge. Planted truth: the tables share the nationkey domain
    * (≈ full overlap) and little else. Oracle replays hash → the
    * library's actual seeded universal-hash coefficients → mins →
    * agreement counts, value-exactly. */
  val q247_schema_match = Q(
    "q247_schema_match",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def colValues(df: DataFrame, table: String, cols: Seq[String]): DataFrame =
        cols.map { c =>
          df.select(lit(table).as("tbl"), lit(c).as("col"),
            col(c).cast("string").as("v")).filter(col("v").isNotNull).distinct()
        }.reduce(_.unionByName(_))
      val values = colValues(t(s, dir, "customer"), "customer",
          Seq("c_custkey", "c_nationkey", "c_mktsegment"))
        .unionByName(colValues(t(s, dir, "supplier"), "supplier",
          Seq("s_suppkey", "s_nationkey", "s_name")))
      val P = 2147483647L
      val hm = pmod(xxhash64(col("v")), lit(P))
      val coefs = graft.text.Dedup.minhashCoefs(64)
      val aggs = coefs.zipWithIndex.map { case ((a, b), i) =>
        min((hm * lit(a) + lit(b)) % P).as(s"m$i")
      }
      val sigs = values.groupBy(col("tbl"), col("col"))
        .agg(aggs.head, aggs.tail: _*)
        .localCheckpoint(true)
      val matches = (0 until 64)
        .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val pairs = sigs.filter(col("tbl") === "customer").as("a")
        .join(sigs.filter(col("tbl") === "supplier").as("b"))
        .select(col("a.col").as("cust_col"), col("b.col").as("supp_col"),
          (lit(1000000L) * matches / 64L).cast("long").as("est_jaccard_ppm"))
      pairs.withColumn("rn", row_number().over(
          Window.partitionBy(col("cust_col"))
            .orderBy(col("est_jaccard_ppm").desc, col("supp_col"))))
        .filter(col("rn") === 1)
        .select(col("cust_col"), col("supp_col"), col("est_jaccard_ppm"))
        .orderBy("cust_col")
    },
    Some {
      import graft.tools.OracleSql._
      val vals =
        """SELECT 'customer' AS tbl, 'c_custkey' AS col, CAST(c_custkey AS VARCHAR) AS v FROM customer
           UNION SELECT 'customer', 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
           UNION SELECT 'customer', 'c_mktsegment', c_mktsegment FROM customer
           UNION SELECT 'supplier', 's_suppkey', CAST(s_suppkey AS VARCHAR) FROM supplier
           UNION SELECT 'supplier', 's_nationkey', CAST(s_nationkey AS VARCHAR) FROM supplier
           UNION SELECT 'supplier', 's_name', s_name FROM supplier"""
      val hashed = xxhash64Stages(s"SELECT DISTINCT v FROM ($vals)", "v", "h", pfx = "__m")
      val coefs = graft.text.Dedup.minhashCoefs(64)
      val mins = coefs.zipWithIndex.map { case ((a, b), i) =>
        s"MIN(($a * hm + $b) % 2147483647) AS m$i"
      }.mkString(", ")
      val eqTerms = (0 until 64).map(i =>
        s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH vals AS ($vals),
            hv AS (SELECT DISTINCT v, h FROM ($hashed)),
            joined AS (SELECT vals.tbl, vals.col,
                              ((hv.h % 2147483647) + 2147483647) % 2147483647 AS hm
                       FROM vals JOIN hv USING (v)),
            sigs AS (SELECT tbl, col, $mins FROM joined GROUP BY 1, 2),
            pairs AS (SELECT a.col AS cust_col, b.col AS supp_col,
                             (1000000 * ($eqTerms)) // 64 AS est_jaccard_ppm
                      FROM sigs a JOIN sigs b
                        ON a.tbl = 'customer' AND b.tbl = 'supplier')
          SELECT cust_col, supp_col, CAST(est_jaccard_ppm AS BIGINT) AS est_jaccard_ppm
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cust_col
                  ORDER BY est_jaccard_ppm DESC, supp_col) AS rn FROM pairs)
          WHERE rn = 1 ORDER BY cust_col"""
    })

  private val q250Runs = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The cost-based-optimizer statistics surface: nation and customer
    * registered as catalog tables, `ANALYZE TABLE ... COMPUTE STATISTICS
    * FOR COLUMNS` run, and the recorded stats read back — row counts and
    * column NDVs (exact at these cardinalities: Spark's HLL++ is sparse-
    * mode-exact for small distinct sets), which is what the planner uses
    * to choose broadcast sides without hints. Oracle recomputes the same
    * stats from the data; TopKSpec-style plan proof lives in the catalog
    * stats themselves being non-null. */
  val q250_cbo_stats = Q(
    "q250_cbo_stats",
    (s, dir) => {
      import s.implicits._
      // unique per run (bench runs twice; a crashed run must not poison the
      // next via a leftover warehouse directory) — dropped with CASCADE below
      val db = s"graft_q250_${q250Runs.incrementAndGet()}_${System.identityHashCode(s)}"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      t(s, dir, "nation").write.mode("overwrite").saveAsTable(s"$db.nation_t")
      t(s, dir, "customer").write.mode("overwrite").saveAsTable(s"$db.customer_t")
      s.sql(s"ANALYZE TABLE $db.nation_t COMPUTE STATISTICS FOR COLUMNS n_nationkey, n_name")
      s.sql(s"ANALYZE TABLE $db.customer_t COMPUTE STATISTICS FOR COLUMNS c_nationkey")
      def stats(table: String, column: String): (Long, Long) = {
        val cat = s.sessionState.catalog
        val meta = cat.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
        val st = meta.stats.get
        (st.rowCount.get.toLong, st.colStats(column).distinctCount.get.toLong)
      }
      val (nRows, nNdv) = stats("nation_t", "n_nationkey")
      val (cRows, cNdv) = stats("customer_t", "c_nationkey")
      // NDV is HLL++-approximate — engine-specific, so the pinned value is
      // the accuracy CONTRACT (within 5 % of exact), not the estimate
      val nExact = t(s, dir, "nation").select(countDistinct(col("n_nationkey"))).head().getLong(0)
      val cExact = t(s, dir, "customer").select(countDistinct(col("c_nationkey"))).head().getLong(0)
      def within5(est: Long, exact: Long): Boolean =
        math.abs(est - exact) * 20L <= exact
      val out = Seq(("nation", nRows, within5(nNdv, nExact)),
        ("customer", cRows, within5(cNdv, cExact)))
        .toDF("table_name", "row_count", "ndv_within_5pct")
        .orderBy("table_name")
        .localCheckpoint(true)
      s.sql(s"DROP DATABASE $db CASCADE")
      out
    },
    Some("""SELECT 'customer' AS table_name,
                   (SELECT COUNT(*) FROM customer)::BIGINT AS row_count,
                   TRUE AS ndv_within_5pct
            UNION ALL
            SELECT 'nation', (SELECT COUNT(*) FROM nation), TRUE
            ORDER BY table_name"""))

  /** Histogram-based equi-join cardinality estimation — the THIRD member
    * of the planner-statistics family (q214: sketch inner product, q250:
    * catalog stats): equi-width histograms on both join keys (per bucket:
    * row count and exact distinct count — the shape ANALYZE histograms
    * persist), estimate per bucket = rows_a·rows_b / max(ndv_a, ndv_b)
    * (the uniform-within-bucket textbook formula, integer floor-div), exact
    * join size alongside. Unlike the sketch's one-sided ≥ guarantee this
    * estimator can err EITHER way — pinning est next to exact is the
    * point: the report shows the error a CBO would act on. Bucket-count-
    * sized aggregates only. */
  val q257_histogram_join_est = Q(
    "q257_histogram_join_est",
    (s, dir) => {
      val a = t(s, dir, "events").filter(col("event_type") === "view")
        .select(col("user_id").cast("long").as("k"))
      val b = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("user_id").cast("long").as("k"))
      def hist(df: DataFrame) = df
        .groupBy(expr("k div 32").as("bucket"))
        .agg(count(lit(1)).as("rows"), countDistinct(col("k")).as("ndv"))
      val est = hist(a).as("ha").join(hist(b).as("hb"), Seq("bucket"))
        .select((col("ha.rows") * col("hb.rows") /
          greatest(col("ha.ndv"), col("hb.ndv"))).cast("long").as("e"))
        .agg(sum(col("e")).as("est"))
      val exact = a.groupBy(col("k")).agg(count(lit(1)).as("ca"))
        .join(b.groupBy(col("k")).agg(count(lit(1)).as("cb")), Seq("k"))
        .agg(sum(col("ca") * col("cb")).as("exact"))
      est.crossJoin(exact)
        .select(col("est").cast("long").as("est"),
          col("exact").cast("long").as("exact"))
    },
    Some("""WITH a AS (SELECT CAST(user_id AS BIGINT) AS k FROM events
                       WHERE event_type = 'view'),
              b AS (SELECT CAST(user_id AS BIGINT) AS k FROM events
                    WHERE event_type = 'click'),
              ha AS (SELECT k // 32 AS bucket, COUNT(*) AS rows_, COUNT(DISTINCT k) AS ndv
                     FROM a GROUP BY 1),
              hb AS (SELECT k // 32 AS bucket, COUNT(*) AS rows_, COUNT(DISTINCT k) AS ndv
                     FROM b GROUP BY 1),
              est AS (SELECT SUM((ha.rows_ * hb.rows_) // GREATEST(ha.ndv, hb.ndv)) AS est
                      FROM ha JOIN hb USING (bucket)),
              ex AS (SELECT SUM(ca.c * cb.c) AS exact FROM
                       (SELECT k, COUNT(*) AS c FROM a GROUP BY 1) ca
                     JOIN (SELECT k, COUNT(*) AS c FROM b GROUP BY 1) cb USING (k))
            SELECT CAST(est.est AS BIGINT) AS est, CAST(ex.exact AS BIGINT) AS exact
            FROM est CROSS JOIN ex"""))

  /** Column-level snapshot diff — q104's corpus diff at COLUMN
    * granularity (the data-diff report schema-migration reviews read):
    * between two constructed customer snapshots (every 7th key's balance
    * floored up, every 11th key's segment rewritten, every 100th key
    * dropped), the per-column changed/same counts over matched keys plus
    * added/removed key counts. One full-outer join on the key; per-column
    * null-safe comparisons; counts derive from the id arithmetic so the
    * oracle is analytic where possible and a replay elsewhere. */
  val q258_column_diff = Q(
    "q258_column_diff",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("k"),
        col("c_acctbal"), col("c_mktsegment"))
      val next = base.filter(col("k") % 100 =!= 0)
        .select(col("k"),
          when(col("k") % 7 === 0, floor(col("c_acctbal")) + 1).otherwise(col("c_acctbal"))
            .cast("double").as("c_acctbal"),
          when(col("k") % 11 === 0, lit("REASSIGNED")).otherwise(col("c_mktsegment"))
            .as("c_mktsegment"))
      val j = base.as("o").join(next.as("n"), Seq("k"), "full_outer")
        .localCheckpoint(true)
      val matched = j.filter(col("o.c_acctbal").isNotNull && col("n.c_acctbal").isNotNull ||
        (col("o.c_mktsegment").isNotNull && col("n.c_mktsegment").isNotNull))
      val perCol = Seq(
        ("c_acctbal", col("o.c_acctbal") === col("n.c_acctbal")),
        ("c_mktsegment", col("o.c_mktsegment") === col("n.c_mktsegment"))).map {
        case (name, eq) =>
          matched.agg(
            sum(when(eq, 0L).otherwise(1L)).cast("long").as("n_changed"),
            sum(when(eq, 1L).otherwise(0L)).cast("long").as("n_same"))
            .select(lit(name).as("column_name"), col("n_changed"), col("n_same"))
      }.reduce(_.unionByName(_))
      val keys = j.agg(
        sum(when(col("n.c_mktsegment").isNull && col("o.c_mktsegment").isNotNull, 1L)
          .otherwise(0L)).cast("long").as("n_changed"),
        lit(0L).as("n_same"))
        .select(lit("__removed_keys").as("column_name"), col("n_changed"), col("n_same"))
      perCol.unionByName(keys).orderBy("column_name")
    },
    Some("""WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_acctbal, c_mktsegment
                          FROM customer),
              nxt AS (SELECT k,
                             CASE WHEN k % 7 = 0 THEN FLOOR(c_acctbal) + 1
                                  ELSE c_acctbal END AS c_acctbal,
                             CASE WHEN k % 11 = 0 THEN 'REASSIGNED'
                                  ELSE c_mktsegment END AS c_mktsegment
                      FROM base WHERE k % 100 <> 0),
              m AS (SELECT o.c_acctbal AS oa, n.c_acctbal AS na,
                           o.c_mktsegment AS os, n.c_mktsegment AS ns
                    FROM base o JOIN nxt n USING (k))
            SELECT 'c_acctbal' AS column_name,
                   CAST(SUM(CASE WHEN oa = na THEN 0 ELSE 1 END) AS BIGINT) AS n_changed,
                   CAST(SUM(CASE WHEN oa = na THEN 1 ELSE 0 END) AS BIGINT) AS n_same
            FROM m
            UNION ALL
            SELECT 'c_mktsegment',
                   CAST(SUM(CASE WHEN os = ns THEN 0 ELSE 1 END) AS BIGINT),
                   CAST(SUM(CASE WHEN os = ns THEN 1 ELSE 0 END) AS BIGINT)
            FROM m
            UNION ALL
            SELECT '__removed_keys',
                   (SELECT COUNT(*) FROM base WHERE k % 100 = 0)::BIGINT, 0::BIGINT
            ORDER BY column_name"""))

  /** Referential-integrity audit across the star schema — the cross-table
    * data-quality report beside q133's single-table expectations: per
    * foreign key, total references, orphan count (anti-join), and
    * distinct orphan keys — lineitem→orders, lineitem→part,
    * lineitem→supplier, orders→customer, customer→nation. Each check is
    * one anti-join aggregate; at 100 TB the dimension side broadcasts and
    * the audit is a single fact-scan per FK. */
  val q259_ri_audit = Q(
    "q259_ri_audit",
    (s, dir) => {
      import s.implicits._
      def check(name: String, fact: DataFrame, fk: String,
          dim: DataFrame, pk: String): DataFrame = {
        val f = fact.select(col(fk).cast("long").as("fk"))
        val orphans = f.join(dim.select(col(pk).cast("long").as("fk")).distinct(),
          Seq("fk"), "left_anti")
        f.agg(count(lit(1)).as("n_refs")).crossJoin(
          orphans.agg(count(lit(1)).as("n_orphans"),
            countDistinct(col("fk")).as("n_orphan_keys")))
          .select(lit(name).as("fk_name"),
            col("n_refs").cast("long").as("n_refs"),
            col("n_orphans").cast("long").as("n_orphans"),
            col("n_orphan_keys").cast("long").as("n_orphan_keys"))
      }
      Seq(
        check("lineitem.l_orderkey", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        check("lineitem.l_partkey", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey"),
        check("lineitem.l_suppkey", t(s, dir, "lineitem"), "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"),
        check("orders.o_custkey", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"),
        check("customer.c_nationkey", t(s, dir, "customer"), "c_nationkey",
          t(s, dir, "nation"), "n_nationkey"))
        .reduce(_.unionByName(_))
        .orderBy("fk_name")
    },
    Some("""SELECT 'customer.c_nationkey' AS fk_name,
                   (SELECT COUNT(*) FROM customer)::BIGINT AS n_refs,
                   (SELECT COUNT(*) FROM customer WHERE c_nationkey NOT IN
                     (SELECT n_nationkey FROM nation))::BIGINT AS n_orphans,
                   (SELECT COUNT(DISTINCT c_nationkey) FROM customer WHERE c_nationkey NOT IN
                     (SELECT n_nationkey FROM nation))::BIGINT AS n_orphan_keys
            UNION ALL
            SELECT 'lineitem.l_orderkey', (SELECT COUNT(*) FROM lineitem),
                   (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN
                     (SELECT o_orderkey FROM orders)),
                   (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem WHERE l_orderkey NOT IN
                     (SELECT o_orderkey FROM orders))
            UNION ALL
            SELECT 'lineitem.l_partkey', (SELECT COUNT(*) FROM lineitem),
                   (SELECT COUNT(*) FROM lineitem WHERE l_partkey NOT IN
                     (SELECT p_partkey FROM part)),
                   (SELECT COUNT(DISTINCT l_partkey) FROM lineitem WHERE l_partkey NOT IN
                     (SELECT p_partkey FROM part))
            UNION ALL
            SELECT 'lineitem.l_suppkey', (SELECT COUNT(*) FROM lineitem),
                   (SELECT COUNT(*) FROM lineitem WHERE l_suppkey NOT IN
                     (SELECT s_suppkey FROM supplier)),
                   (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem WHERE l_suppkey NOT IN
                     (SELECT s_suppkey FROM supplier))
            UNION ALL
            SELECT 'orders.o_custkey', (SELECT COUNT(*) FROM orders),
                   (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
                     (SELECT c_custkey FROM customer)),
                   (SELECT COUNT(DISTINCT o_custkey) FROM orders WHERE o_custkey NOT IN
                     (SELECT c_custkey FROM customer))
            ORDER BY fk_name"""))

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

  /** Big-big interval OVERLAP join
    * ([[graft.operators.RangeJoin.intervalOverlapJoin]] — the shuffled
    * bin-join counterpart of the broadcast interval lookup: both sides are
    * interval RELATIONS, neither fits in memory, a pair matches when the
    * half-open intervals intersect; candidates from a plain (key, bucket)
    * equi-join, each pair emitted exactly once in the intersection's first
    * bucket — no distinct over the output). Per-customer order fulfillment
    * windows from key arithmetic: even orders vs odd orders, window length
    * 1..14 / 1..10 days; output is the one-row pair census with an
    * exact-integer overlap-hours checksum. Oracle replays the windows in
    * epoch-microsecond arithmetic and joins on the raw overlap predicate
    * (DuckDB's IEJoin); durations are positive, where truncating and
    * flooring division coincide (both engines truncate — measured r12). */
  val q313_interval_overlap = Q(
    "q313_interval_overlap",
    (s, dir) => {
      val o = t(s, dir, "orders")
      def side(parity: Int, maxDays: Int, idc: String, sc: String, ec: String) = o
        .filter(pmod(col("o_orderkey"), lit(2)) === parity)
        .select(
          col("o_custkey").as("k"),
          col("o_orderkey").as(idc),
          col("o_orderdate").as(sc),
          timestamp_micros(unix_micros(col("o_orderdate")) +
            (pmod(col("o_orderkey"), lit(maxDays)) + 1L) * 86400000000L).as(ec))
      val l = side(0, 14, "lid", "ls", "le")
      val r = side(1, 10, "rid", "rs", "re")
      graft.operators.RangeJoin
        .intervalOverlapJoin(l, r, Seq("k"), "ls", "le", "rs", "re",
          bucketWidthSeconds = 7L * 86400L)
        .agg(
          count(lit(1)).cast("long").as("n_pairs"),
          countDistinct(col("k")).cast("long").as("n_keys"),
          sum(col("lid")).cast("long").as("sum_lid"),
          sum(col("rid")).cast("long").as("sum_rid"),
          sum(expr("(least(unix_micros(le), unix_micros(re)) - " +
            "greatest(unix_micros(ls), unix_micros(rs))) div 3600000000"))
            .cast("long").as("sum_overlap_hours"))
    },
    Some("""WITH iv AS (
              SELECT o_custkey AS k, o_orderkey AS id, o_orderkey % 2 AS par,
                     epoch_us(o_orderdate) AS s,
                     epoch_us(o_orderdate) +
                       (o_orderkey % (CASE WHEN o_orderkey % 2 = 0 THEN 14 ELSE 10 END) + 1)
                         * 86400000000 AS e
              FROM orders),
            pairs AS (
              SELECT l.k, l.id AS lid, r.id AS rid,
                     LEAST(l.e, r.e) - GREATEST(l.s, r.s) AS ov
              FROM (SELECT * FROM iv WHERE par = 0) l
              JOIN (SELECT * FROM iv WHERE par = 1) r
                ON l.k = r.k AND l.s < r.e AND r.s < l.e)
            SELECT COUNT(*)::BIGINT AS n_pairs,
                   COUNT(DISTINCT k)::BIGINT AS n_keys,
                   SUM(lid)::BIGINT AS sum_lid,
                   SUM(rid)::BIGINT AS sum_rid,
                   SUM(ov // 3600000000)::BIGINT AS sum_overlap_hours
            FROM pairs"""))

  /** Pareto frontier / skyline ([[graft.operators.Skyline.paretoFrontier]]
    * — multi-objective selection without a weight vector: rows not
    * strictly dominated in (all dims ≥, one dim >); the grid-prune
    * two-phase keeps the exact test on the staircase band, and pruning
    * never changes the answer — correctness is bucket-count-independent,
    * which the spec pins and which lets the oracle compute the skyline
    * directly). Orders on (floor-dollar total ↑, order-day ↑): "largest
    * order AND most recent" trade-off rows. Oracle = the 2-D cummax
    * formulation: dominated iff max(v2 | v1 > mine) ≥ mine OR
    * max(v2 | v1 ≥ mine) > mine, two RANGE-frame windows. FLOOR of a
    * shared double is bit-stable; day = positive integral div. */
  val q314_pareto_frontier = Q(
    "q314_pareto_frontier",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("id"),
        floor(col("o_totalprice")).cast("long").as("v1"),
        expr("CAST(unix_micros(o_orderdate) div 86400000000 AS BIGINT)").as("v2"))
      graft.operators.Skyline.paretoFrontier(o, Seq("v1", "v2"))
        .orderBy("id")
    },
    Some("""WITH p AS (
              SELECT o_orderkey AS id,
                     CAST(FLOOR(o_totalprice) AS BIGINT) AS v1,
                     (epoch_us(o_orderdate) // 86400000000)::BIGINT AS v2
              FROM orders),
            w AS (
              SELECT id, v1, v2,
                     MAX(v2) OVER (ORDER BY v1
                       RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS m_strict,
                     MAX(v2) OVER (ORDER BY v1
                       RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS m_weak
              FROM p)
            SELECT id, v1, v2 FROM w
            WHERE NOT (COALESCE(m_strict, -1) >= v2 OR m_weak > v2)
            ORDER BY id"""))

  /** Commutative table digest ([[graft.operators.TableDigest.reconcile]]
    * — cross-replica content verification: (count, XOR of row hashes,
    * SUM of row hashes mod 2^40), identical under ANY row order /
    * partitioning / layout, so replicas compare by exchanging six numbers
    * — which is the whole point at 100 TB; XOR alone is duplicate-pair
    * blind, the modular sum covers it). A repartitioned copy matches; a
    * single-value tamper (min orderkey's custkey + 1) does not. The
    * oracle replays the chained two-column xxhash64 and both folds. */
  val q331_table_digest = Q(
    "q331_table_digest",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val cols = Seq("o_orderkey", "o_custkey")
      val minKey = o.agg(min(col("o_orderkey"))).head().getLong(0)
      val tampered = o.withColumn("o_custkey",
        when(col("o_orderkey") === minKey, col("o_custkey") + 1L)
          .otherwise(col("o_custkey")))
      val same = graft.operators.TableDigest.reconcile(o, o.repartition(7), cols)
        .withColumn("variant", lit("shuffled"))
      val tamper = graft.operators.TableDigest.reconcile(o, tampered, cols)
        .withColumn("variant", lit("tampered"))
      same.unionByName(tamper)
        .select(col("variant"), col("n_a"), col("n_b"), col("xor_a"),
          col("sum_a"), col("matches"))
        .orderBy("variant")
    },
    Some {
      import graft.tools.OracleSql
      def hashed(rel: String, pfx: String) = {
        val h1 = OracleSql.xxhash64LongStages(rel, "o_orderkey", "h1", pfx = s"${pfx}a")
        OracleSql.xxhash64LongStages(s"SELECT * FROM ($h1)", "o_custkey", "h",
          pfx = s"${pfx}b", seed = OracleSql.unsignedOf("h1"))
      }
      def dig(rel: String, pfx: String) =
        s"""SELECT COUNT(*)::BIGINT AS n, bit_xor(h)::BIGINT AS xh,
                   (SUM(((h % 1099511627776) + 1099511627776) % 1099511627776)
                    % 1099511627776)::BIGINT AS sh
            FROM (${hashed(rel, pfx)})"""
      val base = dig("SELECT o_orderkey, o_custkey FROM orders", "__g1")
      val tam = dig(
        """SELECT o_orderkey,
                  CASE WHEN o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
                       THEN o_custkey + 1 ELSE o_custkey END AS o_custkey
           FROM orders""", "__g2")
      s"""WITH d AS ($base), td AS ($tam)
          SELECT 'shuffled' AS variant, d.n AS n_a, d.n AS n_b, d.xh AS xor_a,
                 d.sh AS sum_a, TRUE AS matches
          FROM d
          UNION ALL
          SELECT 'tampered', d.n, td.n, d.xh, d.sh,
                 (d.n = td.n AND d.xh = td.xh AND d.sh = td.sh)
          FROM d, td
          ORDER BY 1"""
    })

  /** Per-column Shannon entropy profile
    * ([[graft.operators.TableStats.columnEntropy]] — information content
    * in fixed-point log₂ micro-bits beside the ndv/encoding profile rows:
    * H = log₂n − (1/n)Σc·log₂c carried exactly as n·flog2fp(n) −
    * Σc·flog2fp(c); NULL is its own value, so a mostly-NULL column reads
    * LOW; one stack-unpivot scan + census fold). Orders' status/priority/
    * custkey plus a 25%-NULLed status variant spanning the range from
    * near-constant to near-unique. */
  val q334_column_entropy = Q(
    "q334_column_entropy",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderstatus"), col("o_orderpriority"), col("o_custkey"),
        when(pmod(col("o_orderkey"), lit(4L)) === 0L, lit(null))
          .otherwise(col("o_orderstatus")).as("status_nulled"))
      graft.operators.TableStats
        .columnEntropy(o,
          Seq("o_orderstatus", "o_orderpriority", "o_custkey", "status_nulled"))
        .orderBy("column")
    },
    Some {
      def flog(x: String) =
        s"(16 * (length(bin($x)) - 1) - 16 + (($x) * 16) // (1::BIGINT << (length(bin($x)) - 1)))"
      s"""WITH src AS (
              SELECT CAST(o_orderstatus AS VARCHAR) AS o_orderstatus,
                     CAST(o_orderpriority AS VARCHAR) AS o_orderpriority,
                     CAST(o_custkey AS VARCHAR) AS o_custkey,
                     CASE WHEN o_orderkey % 4 = 0 THEN NULL
                          ELSE CAST(o_orderstatus AS VARCHAR) END AS status_nulled
              FROM orders),
            up AS (
              SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM src
              UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM src
              UNION ALL SELECT 'o_custkey', o_custkey FROM src
              UNION ALL SELECT 'status_nulled', status_nulled FROM src),
            cen AS (SELECT col, val, COUNT(*) AS c FROM up GROUP BY 1, 2),
            ag AS (
              SELECT col, SUM(c) AS n, COUNT(*) AS ndv,
                     SUM(c * ${flog("c")}) AS sc
              FROM cen GROUP BY 1)
            SELECT col AS "column", n::BIGINT AS n, ndv::BIGINT AS ndv,
                   (n * ${flog("n")} - sc)::BIGINT AS h_num,
                   CAST((CASE WHEN n * ${flog("n")} - sc < 0 THEN -1 ELSE 1 END)
                     * ((ABS(n * ${flog("n")} - sc)::HUGEINT * 1000000)
                        // (16 * n)) AS BIGINT) AS entropy_ubits
            FROM ag ORDER BY 1"""
    })

  /** Mutual information between column pairs
    * ([[graft.operators.TableStats.mutualInformation]] — the dependence
    * row of the profile in fixed-point log₂ micro-bits, the soft sibling
    * of FD discovery q309 and the pairing of entropy q334: three censuses
    * + a joint-census-sized join, rows never pair). A dependent pair
    * (returnflag ↔ linestatus) against an independent-by-construction
    * pair (partkey%10 ↔ suppkey%10) — the contrast IS the demo. */
  val q335_mutual_info = Q(
    "q335_mutual_info",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag"), col("l_linestatus"),
        pmod(col("l_partkey"), lit(10L)).as("pk10"),
        pmod(col("l_suppkey"), lit(10L)).as("sk10"))
      val dep = graft.operators.TableStats
        .mutualInformation(li, "l_returnflag", "l_linestatus")
        .withColumn("pair", lit("flag_status"))
      val ind = graft.operators.TableStats
        .mutualInformation(li, "pk10", "sk10")
        .withColumn("pair", lit("pk_sk"))
      dep.unionByName(ind).select(col("pair"), col("n"), col("ndv_joint"),
        col("mi_num"), col("mi_ubits")).orderBy("pair")
    },
    Some {
      def flog(x: String) =
        s"(16 * (length(bin($x)) - 1) - 16 + (($x) * 16) // (1::BIGINT << (length(bin($x)) - 1)))"
      def mi(xExpr: String, yExpr: String, label: String) =
        s"""SELECT '$label' AS pair, n::BIGINT AS n, ndv_joint::BIGINT AS ndv_joint,
                   mi_num::BIGINT AS mi_num,
                   CAST((CASE WHEN mi_num < 0 THEN -1 ELSE 1 END)
                     * ((ABS(mi_num)::HUGEINT * 1000000) // (16 * n)) AS BIGINT) AS mi_ubits
            FROM (
              SELECT MAX(n) AS n, COUNT(*) AS ndv_joint,
                     SUM(cxy * (${flog("cxy * n")} - ${flog("cx * cy")})) AS mi_num
              FROM (
                SELECT cxy, SUM(cxy) OVER (PARTITION BY x) AS cx,
                       SUM(cxy) OVER (PARTITION BY y) AS cy,
                       SUM(cxy) OVER () AS n
                FROM (SELECT $xExpr AS x, $yExpr AS y, COUNT(*) AS cxy
                      FROM lineitem GROUP BY 1, 2)))"""
      s"""${mi("l_returnflag", "l_linestatus", "flag_status")}
          UNION ALL
          ${mi("CAST(l_partkey % 10 AS VARCHAR)", "CAST(l_suppkey % 10 AS VARCHAR)", "pk_sk")}
          ORDER BY 1"""
    })

  /** Subtree rollup over an implicit hierarchy
    * ([[graft.operators.Graph.subtreeRollup]] — "aggregate every node's
    * whole subtree" WITHOUT a mapping table and WITHOUT iteration: the
    * ancestor chain is key arithmetic (parent = key div 10), each row
    * explodes to its ≤ depth+1 ancestors and ONE partial-agg fold rolls
    * the tree up — a scan plus one bounded-fanout shuffle, never a
    * fixpoint). Order totals per 1–2-digit key prefix; the oracle derives
    * each prefix's subtree membership from the same arithmetic (for
    * p ≥ 1 a key matches at most one ancestor level, so a plain OR never
    * double-counts). */
  val q342_subtree_rollup = Q(
    "q342_subtree_rollup",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice")).cast("long").as("v"))
      graft.operators.Graph.subtreeRollup(o, "k", "v", fanout = 10L, maxDepth = 6)
        .filter(col("node").between(1L, 99L))
        .orderBy("node")
    },
    Some("""WITH o AS (
              SELECT o_orderkey AS k, CAST(FLOOR(o_totalprice) AS BIGINT) AS v
              FROM orders),
            nodes AS (SELECT unnest(range(1, 100)) AS node)
            SELECT node::BIGINT AS node, COUNT(*)::BIGINT AS n_rows,
                   SUM(v)::BIGINT AS total
            FROM o JOIN nodes
              ON k = node OR k // 10 = node OR k // 100 = node
                OR k // 1000 = node OR k // 10000 = node
                OR k // 100000 = node OR k // 1000000 = node
            GROUP BY 1 ORDER BY 1"""))

  /** Join-key skew report ([[graft.operators.SkewJoin.skewReport]] — the
    * "should I salt?" advisor pairing the salting operators (q105/q116)
    * and the pinned AQE skew contract: exact Gini concentration of the
    * key census (rank-weighted, tie-invariant) plus the hottest key's
    * row share, in sign-magnitude ppm; the only ordered pass runs over
    * the census, never rows). A planted 30%-hot key over order keys —
    * the report says SALT; the oracle replays census, ranks, and both
    * ratios. */
  val q344_skew_report = Q(
    "q344_skew_report",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        when(pmod(col("l_orderkey"), lit(10L)) < 3L, 1L)
          .otherwise(pmod(col("l_orderkey"), lit(1000L))).as("jk"))
      graft.operators.SkewJoin.skewReport(li, Seq("jk"))
    },
    Some("""WITH d AS (
              SELECT CASE WHEN l_orderkey % 10 < 3 THEN 1
                          ELSE l_orderkey % 1000 END AS jk
              FROM lineitem),
            cen AS (SELECT jk, COUNT(*) AS c FROM d GROUP BY 1),
            rk AS (
              SELECT c, ROW_NUMBER() OVER (ORDER BY c, jk) AS i FROM cen),
            ag AS (
              SELECT SUM(c) AS n_rows, COUNT(*) AS n_keys,
                     SUM(2 * i * c) AS wsum, MAX(c) AS top1
              FROM rk)
            SELECT n_rows::BIGINT AS n_rows, n_keys::BIGINT AS n_keys,
                   CAST((CASE WHEN wsum - (n_keys + 1) * n_rows < 0 THEN -1 ELSE 1 END)
                     * ((ABS(wsum - (n_keys + 1) * n_rows)::HUGEINT * 1000000)
                        // (n_keys * n_rows)) AS BIGINT) AS gini_ppm,
                   ((top1::HUGEINT * 1000000) // n_rows)::BIGINT AS top1_ppm
            FROM ag"""))

  /** Gaps-and-islands interval merge
    * ([[graft.operators.RangeJoin.mergeIntervals]] — coalesce each key's
    * overlapping/touching half-open intervals into maximal islands via
    * ONE key-partitioned prefix-max window over integer endpoints, then
    * summarize coverage; the uptime/coverage operator beside the interval
    * joins). Per-customer order-fulfillment windows (1..14 days from key
    * arithmetic); output is the per-customer island summary. */
  val q347_interval_islands = Q(
    "q347_interval_islands",
    (s, dir) => {
      val iv = t(s, dir, "orders").select(
        col("o_custkey").as("k"),
        unix_micros(col("o_orderdate")).as("s"),
        (unix_micros(col("o_orderdate")) +
          (pmod(col("o_orderkey"), lit(14L)) + 1L) * 86400000000L).as("e"))
      graft.operators.RangeJoin.mergeIntervals(iv, Seq("k"), "s", "e")
        .groupBy("k")
        .agg(
          count(lit(1)).cast("long").as("n_islands"),
          sum(col("n_intervals")).cast("long").as("n_intervals"),
          sum(col("island_end") - col("island_start")).cast("long").as("covered_us"),
          max(col("island_end") - col("island_start")).cast("long").as("max_island_us"))
        .orderBy("k")
    },
    Some("""WITH iv AS (
              SELECT o_custkey AS k, epoch_us(o_orderdate) AS s,
                     epoch_us(o_orderdate) + (o_orderkey % 14 + 1) * 86400000000 AS e
              FROM orders),
            w AS (
              SELECT k, s, e,
                     MAX(e) OVER (PARTITION BY k ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
              FROM iv),
            fl AS (
              SELECT k, s, e,
                     CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS op
              FROM w),
            isl AS (
              SELECT k, s, e,
                     SUM(op) OVER (PARTITION BY k ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
              FROM fl),
            g AS (
              SELECT k, island, MIN(s) AS i_s, MAX(e) AS i_e, COUNT(*) AS ni
              FROM isl GROUP BY 1, 2)
            SELECT k::BIGINT AS k, COUNT(*)::BIGINT AS n_islands,
                   SUM(ni)::BIGINT AS n_intervals,
                   SUM(i_e - i_s)::BIGINT AS covered_us,
                   MAX(i_e - i_s)::BIGINT AS max_island_us
            FROM g GROUP BY 1 ORDER BY 1"""))

  /** Exact join-size advisory ([[graft.operators.SkewJoin.joinSizeEstimate]]
    * — |A ⋈ B| = Σ c_A(k)·c_B(k) over the key censuses: metadata-scale
    * work that prices a join's output BEFORE the shuffle exists, beside
    * the Gini skew report; DECIMAL(38,0) accumulation because per-key
    * census products overflow BIGINT exactly when the answer matters).
    * Two advisories: lineitem ⋈ part (FK lookup) and the lineitem
    * partkey self-join (the quadratic one the advisor exists to flag);
    * the oracle replays both censuses and checks against the true
    * COUNT(*) of the joins themselves. */
  val q350_join_size = Q(
    "q350_join_size",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey").as("k"))
      val pt = t(s, dir, "part").select(col("p_partkey").as("k"))
      val a = graft.operators.SkewJoin.joinSizeEstimate(li, pt, Seq("k"))
        .withColumn("which", lit("li_part"))
      val b = graft.operators.SkewJoin.joinSizeEstimate(li, li.select(col("k")), Seq("k"))
        .withColumn("which", lit("li_self"))
      a.unionByName(b)
        .withColumn("join_rows", col("join_rows").cast("long"))
        .orderBy("which")
    },
    Some("""WITH la AS (SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
            pa AS (SELECT p_partkey AS k, COUNT(*) AS c FROM part GROUP BY 1)
            SELECT (SELECT SUM(c) FROM la)::BIGINT AS n_left,
                   (SELECT SUM(c) FROM pa)::BIGINT AS n_right,
                   COUNT(*)::BIGINT AS n_keys_common,
                   SUM(la.c * pa.c)::BIGINT AS join_rows,
                   MAX(la.c * pa.c)::BIGINT AS max_key_rows,
                   'li_part' AS which
            FROM la JOIN pa USING (k)
            UNION ALL
            SELECT (SELECT SUM(c) FROM la)::BIGINT,
                   (SELECT SUM(c) FROM la)::BIGINT,
                   COUNT(*)::BIGINT,
                   SUM(la.c * lb.c)::BIGINT,
                   MAX(la.c * lb.c)::BIGINT,
                   'li_self'
            FROM la JOIN la lb USING (k)
            ORDER BY 6"""))

  val all: Seq[Q] = Seq(
    q03_join_agg, q05_semi, q06_anti, q07_except, q08_intersect, q09_pivot, q10_unpivot, q19_cross,
    q61_moving_avg, q63_asof_join, q64_range_join, q104_snapshot_diff, q105_salted_join,
    q116_salted_agg, q117_window_breadth, q122_rollup, q123_posexplode, q126_profile,
    q133_expectations, q138_cube, q147_pseudonymize, q163_k_anonymity, q179_topk_operator,
    q196_topk_pushdown, q203_skyline, q206_lineage, q214_join_size_est, q218_randomized_response,
    q219_bloom_join, q220_skew_report, q222_concurrency, q224_interval_lookup,
    q230_window_topk_rewrite, q238_observed_metrics, q239_forget_flow, q242_plan_lint,
    q247_schema_match, q250_cbo_stats, q257_histogram_join_est, q258_column_diff, q259_ri_audit,
    q287_recursive_cte, q290_quality_suite, q291_t_closeness, q300_dp_counts, q302_benford,
    q305_feistel_tokens, q308_sql_pivot, q309_fd_discovery, q313_interval_overlap,
    q314_pareto_frontier, q331_table_digest, q334_column_entropy, q335_mutual_info,
    q342_subtree_rollup, q344_skew_report, q347_interval_islands, q350_join_size)
}
