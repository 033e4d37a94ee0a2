package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Constants._
import graft.operators.{Aggregation, DatasetExpr, DimensionFilter, MappingKernel, Reshape}
import graft.functions.{Growth, Units}
import graft.time.{AnnualTime, TimeAdjustments}

import graft.QueryDsl._

/** Catalog family: the dsgrid operators themselves — dimension filters,
  * mapping joins and fraction/scaling application, the aggregation
  * registry, the time operators (§2.9), unit and growth functions
  * (§2.10), reports and the project-query lifecycle (§3). COVERAGE.md
  * §2.2–§2.4, §2.9, §2.10 and §3 rows. Registered in [[graft.Queries]]. */
private[graft] object DsgridCatalog {

  /** TPC-H Q1-style aggregation (SURVEY §2.4 query aggregation). */
  val q01_agg = Q(
    "q01_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      Aggregation
        .aggregateMany(
          li.withColumn("disc_price", col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          Seq("l_returnflag", "l_linestatus"),
          Seq(
            ("sum", "l_quantity", "sum_qty"),
            ("sum", "disc_price", "sum_disc_price"),
            ("mean", "l_discount", "avg_disc"),
            ("count", "l_quantity", "n")))
        .select(
          col("l_returnflag"),
          col("l_linestatus"),
          round(col("sum_qty"), 2).as("sum_qty"),
          round(col("sum_disc_price"), 2).as("sum_disc_price"),
          round(col("avg_disc"), 4).as("avg_disc"),
          col("n").cast("long").as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
            ROUND(SUM(l_quantity), 2) AS sum_qty,
            ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
            ROUND(AVG(l_discount), 4) AS avg_disc,
            CAST(COUNT(l_quantity) AS BIGINT) AS n
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** The dimension-filter ADT, all predicate forms composed (SURVEY §2.2). */
  val q02_filter = Q(
    "q02_filter",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val filters = Seq(
        DimensionFilter.ExpressionFilter("l_quantity", ">", 30),
        DimensionFilter.ColumnOperatorFilter("l_returnflag", "isin", Seq("R", "A")),
        DimensionFilter.BetweenFilter("l_discount", 0.02, 0.08),
        DimensionFilter.ColumnOperatorFilter("l_linestatus", "startswith", Seq("F")),
        DimensionFilter.RawFilter("l_tax < 0.07"))
      DimensionFilter
        .applyAll(li, filters)
        .select(
          col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"),
          col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
            CAST(l_linenumber AS BIGINT) AS l_linenumber,
            l_quantity, l_extendedprice
            FROM lineitem
            WHERE l_quantity > 30 AND l_returnflag IN ('R','A')
              AND l_discount BETWEEN 0.02 AND 0.08
              AND l_linestatus LIKE 'F%' AND l_tax < 0.07
            ORDER BY l_orderkey, l_linenumber"""))

  /** The mapping kernel: aggregation mapping (nation→region) chained with a
    * ×0.5 disaggregation, fraction accumulation, one fraction-collapse
    * groupBy (SURVEY §2.3 mapping join + §2.4 fraction application). */
  val q04_mapping = Q(
    "q04_mapping",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      // fact table in the engine's shape: stacked dims + value
      val fact = c.select(
        col("c_nationkey").cast("string").as("geography"),
        col("c_acctbal").as(ValueColumn))
      // mapping 1: nation id -> region name (many-to-one aggregation)
      val m1 = n.join(r, n("n_regionkey") === r("r_regionkey"))
        .select(
          col("n_nationkey").cast("string").as(FromIdColumn),
          col("r_name").as(ToIdColumn),
          lit(1.0).as(FromFractionColumn))
      // mapping 2: region -> two shares at 0.4/0.6 (one-to-many
      // disaggregation). 0.4/0.6 keeps sums on a 0.002 grid so the 2-decimal
      // round never sits on a .005 boundary (0.5 shares did, and the two
      // engines' different summation orders tipped boundary values apart).
      val halves = s.createDataFrame(Seq(("A", 0.4), ("B", 0.6))).toDF("suffix", "frac")
      val m2 = r.crossJoin(halves).select(
        col("r_name").as(FromIdColumn),
        concat(col("r_name"), lit("_"), col("suffix")).as(ToIdColumn),
        col("frac").as(FromFractionColumn))
      val mapped = MappingKernel.mapAndApply(fact, Seq("geography" -> m1, "geography" -> m2))
      mapped
        .select(col("geography"), round(col(ValueColumn), 2).as(ValueColumn))
        .orderBy("geography")
    },
    Some("""SELECT r_name || '_' || sfx AS geography,
            ROUND(SUM(c_acctbal * sfrac), 2) AS value
            FROM customer
            JOIN nation ON CAST(c_nationkey AS VARCHAR) = CAST(n_nationkey AS VARCHAR)
            JOIN region ON n_regionkey = r_regionkey
            CROSS JOIN (SELECT 'A' AS sfx, 0.4 AS sfrac UNION ALL SELECT 'B', 0.6) s
            GROUP BY 1 ORDER BY 1"""))

  /** Peak rows per group, all-ties semantics (report_peak_load shape,
    * SURVEY §2.4/§2.6). */
  val q11_peak = Q(
    "q11_peak",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col(ValueColumn))
      Aggregation
        .peakRowsPerGroupAllTies(e, Seq("user_id"), ValueColumn)
        .select(
          col("user_id").cast("long").as("user_id"),
          unix_timestamp(col("ts")).as("epoch"),
          col(ValueColumn))
        .orderBy("user_id", "epoch")
    },
    Some("""SELECT CAST(e.user_id AS BIGINT) AS user_id,
            CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) AS epoch, e.value
            FROM events e
            JOIN (SELECT user_id, MAX(value) AS value FROM events GROUP BY user_id) m
            ON e.user_id = m.user_id AND e.value = m.value
            ORDER BY user_id, epoch"""))

  /** Deterministic top-k per group via window row_number (SURVEY §2.5/§2.6). */
  val q12_topk = Q(
    "q12_topk",
    (s, dir) => {
      val o = t(s, dir, "orders")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(desc("o_totalprice"), asc("o_orderkey"))
      o.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(
          col("o_orderpriority"),
          col("rank").cast("long").as("rank"),
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_totalprice"))
        .orderBy("o_orderpriority", "rank")
    },
    Some("""SELECT o_orderpriority, CAST(rank AS BIGINT) AS rank,
            CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank FROM orders)
            WHERE rank <= 3 ORDER BY o_orderpriority, rank"""))

  /** Calendar aggregation on the time column (SURVEY §2.9). */
  val q13_time_agg = Q(
    "q13_time_agg",
    (s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(
          year(col("ts")).cast("long").as("y"),
          dayofmonth(col("ts")).cast("long").as("d"),
          col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"), round(sum(col(ValueColumn)), 2).as("total"))
        .orderBy("y", "d", "event_type")
    },
    Some("""SELECT CAST(EXTRACT(year FROM ts) AS BIGINT) AS y,
            CAST(EXTRACT(day FROM ts) AS BIGINT) AS d, event_type,
            CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS total
            FROM events GROUP BY 1, 2, 3 ORDER BY y, d, event_type"""))

  /** Unit-conversion when-ladder (SURVEY §2.10): mixed-unit values
    * normalized to GWh, no UDFs. */
  val q14_units = Q(
    "q14_units",
    (s, dir) => {
      val sup = t(s, dir, "supplier")
        .withColumn(
          "unit",
          when(col("s_suppkey") % 3 === 0, "kWh")
            .when(col("s_suppkey") % 3 === 1, "MWh")
            .otherwise("GWh"))
      val converted = sup.withColumn(
        "gwh",
        Units.convertEnergy(col("s_acctbal"), col("unit"), lit("GWh")))
      converted
        .groupBy(col("s_nationkey").cast("long").as("nationkey"))
        .agg(round(sum(col("gwh")), 4).as("total_gwh"))
        .orderBy("nationkey")
    },
    Some("""SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
            ROUND(SUM(CASE
              WHEN u = 'GWh' THEN s_acctbal
              ELSE s_acctbal * (CASE u WHEN 'kWh' THEN 1.0 WHEN 'MWh' THEN 1000.0 END) / 1000000.0
            END), 4) AS total_gwh
            FROM (SELECT *, CASE CAST(s_suppkey % 3 AS INT) WHEN 0 THEN 'kWh' WHEN 1 THEN 'MWh'
              ELSE 'GWh' END AS u FROM supplier)
            GROUP BY 1 ORDER BY 1"""))

  /** Dataset-expression arithmetic `a - b` with aligned-row join
    * (SURVEY §2.10 expression language + §2.3 aligned arithmetic). */
  val q15_expr_arith = Q(
    "q15_expr_arith",
    (s, dir) => {
      val o = t(s, dir, "orders")
      def byStatus(status: String): DataFrame =
        o.filter(col("o_orderstatus") === status)
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("o_totalprice")).as(ValueColumn))
      val result = DatasetExpr.evaluate("a - b", Map("a" -> byStatus("O"), "b" -> byStatus("F")))
      result
        .select(col("o_orderpriority"), round(col(ValueColumn), 2).as(ValueColumn))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT a.o_orderpriority, ROUND(a.v - b.v, 2) AS value FROM
            (SELECT o_orderpriority, SUM(o_totalprice) AS v FROM orders
             WHERE o_orderstatus='O' GROUP BY 1) a
            JOIN
            (SELECT o_orderpriority, SUM(o_totalprice) AS v FROM orders
             WHERE o_orderstatus='F' GROUP BY 1) b
            USING (o_orderpriority) ORDER BY o_orderpriority"""))

  /** Dataset-expression union `a | b` (SURVEY §2.7/§2.10). */
  val q16_expr_union = Q(
    "q16_expr_union",
    (s, dir) => {
      val o = t(s, dir, "orders")
      def slice(status: String): DataFrame =
        o.filter(col("o_orderstatus") === status)
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("o_totalprice")).as(ValueColumn))
          .withColumn("src", lit(status))
      val result = DatasetExpr.evaluate("a | b", Map("a" -> slice("O"), "b" -> slice("F")))
      result
        .select(col("o_orderpriority"), col("src"), round(col(ValueColumn), 2).as(ValueColumn))
        .orderBy("o_orderpriority", "src")
    },
    Some("""SELECT o_orderpriority, src, ROUND(v, 2) AS value FROM (
            SELECT o_orderpriority, 'O' AS src, SUM(o_totalprice) AS v FROM orders
            WHERE o_orderstatus='O' GROUP BY 1
            UNION ALL
            SELECT o_orderpriority, 'F' AS src, SUM(o_totalprice) AS v FROM orders
            WHERE o_orderstatus='F' GROUP BY 1)
            ORDER BY o_orderpriority, src"""))

  /** Scaling-factor application with NULL passthrough (SURVEY §2.4). */
  val q17_scaling = Q(
    "q17_scaling",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn(ValueColumn, col("l_extendedprice"))
        .withColumn(
          ScalingFactorColumn,
          when(col("l_tax") > 0.04, lit(1.0) + col("l_tax")).otherwise(lit(null).cast("double")))
      MappingKernel
        .applyScalingFactor(li)
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col(ValueColumn)), 2).as("total"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, ROUND(SUM(
              CASE WHEN l_tax > 0.04 THEN l_extendedprice * (1.0 + l_tax)
                   ELSE l_extendedprice END), 2) AS total
            FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** Exponential-growth projection (SURVEY §2.10): rate 1.0 → exact 2^k. */
  val q18_growth = Q(
    "q18_growth",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("model_year", (lit(2020) + col("o_orderkey") % 5).cast("string"))
        .select(col("model_year"), col("o_totalprice").as(ValueColumn))
      val years = s.createDataFrame((0 until 5).map(i => ((2020 + i).toString, 1.0))).toDF("model_year", ValueColumn)
      Growth
        .applyExponentialGrowthRate(o, years, Seq("model_year"), "model_year", 2020)
        .groupBy(col("model_year"))
        .agg(round(sum(col(ValueColumn)), 2).as("projected"))
        .orderBy("model_year")
    },
    Some("""SELECT CAST(2020 + o_orderkey % 5 AS VARCHAR) AS model_year,
            ROUND(SUM(o_totalprice * POWER(2.0, CAST(o_orderkey % 5 AS INT))), 2) AS projected
            FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Annual → hourly time expansion, sum-preserving (SURVEY §2.9). */
  val q20_annual = Q(
    "q20_annual",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val annual = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(
          col("n_name").as("geography"),
          (lit(2020) + col("n_nationkey") % 2).cast("string").as("model_year"))
        .agg(sum(col("c_acctbal")).as(ValueColumn))
      val expanded = AnnualTime.annualToDatetime(annual, "model_year", 3600L, valueIsTotal = true)
      expanded
        .groupBy(col("model_year"))
        .agg(count(lit(1)).cast("long").as("n_hours"), round(sum(col(ValueColumn)), 2).as("total"))
        .orderBy("model_year")
    },
    Some("""SELECT CAST(2020 + n_nationkey % 2 AS VARCHAR) AS model_year,
            CAST(COUNT(DISTINCT n_name) * (CASE WHEN n_nationkey % 2 = 0 THEN 8784 ELSE 8760 END) AS BIGINT) AS n_hours,
            ROUND(SUM(c_acctbal), 2) AS total
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY CAST(2020 + n_nationkey % 2 AS VARCHAR), n_nationkey % 2
            ORDER BY model_year"""))

  /** Per-geography time-zone conversion (SURVEY §2.9): January data, fixed
    * offsets, local-hour histogram. */
  val q21_tz = Q(
    "q21_tz",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn(
          TimeZoneColumn,
          when(col("user_id") % 3 === 0, "America/New_York")
            .when(col("user_id") % 3 === 1, "America/Denver")
            .otherwise("UTC"))
      e.withColumn("local", from_utc_timestamp(col("ts"), col(TimeZoneColumn)))
        .groupBy(col(TimeZoneColumn), hour(col("local")).cast("long").as("local_hour"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(TimeZoneColumn, "local_hour")
    },
    Some("""SELECT tz AS time_zone, CAST((EXTRACT(hour FROM ts) + 24 +
              CASE tz WHEN 'America/New_York' THEN -5
                      WHEN 'America/Denver' THEN -7 ELSE 0 END) % 24 AS BIGINT) AS local_hour,
            CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT *, CASE CAST(user_id % 3 AS INT)
              WHEN 0 THEN 'America/New_York' WHEN 1 THEN 'America/Denver'
              ELSE 'UTC' END AS tz FROM events)
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Leap-day-style calendar adjustment: drop Jan 1 rows (SURVEY §2.9). */
  val q22_calendar_adjust = Q(
    "q22_calendar_adjust",
    (s, dir) => {
      val e = t(s, dir, "events")
      TimeAdjustments
        .adjustLeapDay(e, "ts", TimeAdjustments.DropJan1)
        .groupBy(dayofmonth(col("ts")).cast("long").as("d"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("d")
    },
    Some("""SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS n
            FROM events
            WHERE NOT (EXTRACT(month FROM ts) = 1 AND EXTRACT(day FROM ts) = 1)
            GROUP BY 1 ORDER BY 1"""))

  /** JSON property extraction (events.props is a JSON string). */
  val q23_json = Q(
    "q23_json",
    (s, dir) => {
      val e = t(s, dir, "events")
      e.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(round(sum(col("k")), 2).cast("long").as("sum_k"), count(lit(1)).cast("long").as("n"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
            CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** Index time → datetime (SURVEY §2.9): integer step index + per-row tz
    * → UTC instants. January only, so fixed offsets mirror cleanly in SQL. */
  val q35_index_time = Q(
    "q35_index_time",
    (s, dir) => {
      val sup = t(s, dir, "supplier")
        .select(
          col("s_suppkey"),
          (col("s_suppkey") % 24).cast("long").as("time_index"),
          when(col("s_nationkey") % 3 === 0, "America/New_York")
            .when(col("s_nationkey") % 3 === 1, "America/Denver")
            .otherwise("UTC").as(TimeZoneColumn))
      graft.time.IndexTime
        .indexToDatetime(sup, "time_index", "2024-01-01 00:00:00", 3600L)
        .select(
          col("s_suppkey").cast("long").as("s_suppkey"),
          unix_timestamp(col("timestamp")).as("epoch"))
        .orderBy("s_suppkey")
    },
    Some("""SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
            CAST(1704067200 + (s_suppkey % 24) * 3600 +
              CASE CAST(s_nationkey % 3 AS INT)
                WHEN 0 THEN 5 * 3600
                WHEN 1 THEN 7 * 3600
                ELSE 0 END AS BIGINT) AS epoch
            FROM supplier ORDER BY s_suppkey"""))

  /** Representative-period expansion (SURVEY §2.9): (month, day_of_week,
    * hour) template joined onto a January hourly spine. */
  val q36_rep_period = Q(
    "q36_rep_period",
    (s, dir) => {
      val template = s.createDataFrame(Seq(
        ("g1", 1, 0, 5, 10.0), // Mondays 05:00
        ("g1", 1, 5, 17, 20.0), // Saturdays 17:00
        ("g1", 1, 6, 0, 30.0))) // Sundays 00:00
        .toDF("geography", "month", "day_of_week", "hour", ValueColumn)
      val spine = graft.time.TimeSpine.spine(s, "2024-01-01 00:00:00", "2024-01-31 23:00:00", 3600L)
      val tzs = s.createDataFrame(Seq(("g1", "UTC"))).toDF("id", "time_zone")
      graft.time.RepresentativePeriodTime
        .oneWeekPerMonthByHour(template, spine, "geography", tzs)
        .select(
          col("geography"),
          unix_timestamp(col("timestamp")).as("epoch"),
          col(ValueColumn))
        .orderBy("epoch")
    },
    Some("""WITH spine AS (
              SELECT ts FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                TIMESTAMP '2024-01-31 23:00:00', INTERVAL 1 HOUR) AS g(ts)),
            template(geography, m, dow, h, value) AS (
              VALUES ('g1', 1, 0, 5, 10.0), ('g1', 1, 5, 17, 20.0), ('g1', 1, 6, 0, 30.0))
            SELECT geography, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS epoch, value
            FROM spine JOIN template
              ON EXTRACT(month FROM ts) = m
             AND (CAST(EXTRACT(dow FROM ts) AS INT) + 6) % 7 = dow
             AND EXTRACT(hour FROM ts) = h
            ORDER BY epoch"""))

  /** Null-preserving unpivot (SURVEY §2.8): expected-missing rows carried as
    * all-null value columns come back as explicit null-value rows. */
  val q37_unpivot_nulls = Q(
    "q37_unpivot_nulls",
    (s, dir) => {
      val p = t(s, dir, "part")
      // engineer: every 5th part is an expected-missing (all-null) row
      val wide = p.select(
        col("p_partkey").cast("long").as("p_partkey"),
        when(col("p_partkey") % 5 === 0, lit(null).cast("double"))
          .otherwise(col("p_retailprice")).as("m1"),
        when(col("p_partkey") % 5 === 0, lit(null).cast("double"))
          .otherwise(col("p_size").cast("double")).as("m2"))
      Reshape
        .unpivotPreservingNulls(wide, Seq("p_partkey"), Seq("m1", "m2"), "attr")
        .orderBy("p_partkey", "attr")
    },
    Some("""SELECT p_partkey, attr, value FROM (
            SELECT CAST(p_partkey AS BIGINT) AS p_partkey, 'm1' AS attr,
              CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE p_retailprice END AS value
            FROM part
            UNION ALL
            SELECT CAST(p_partkey AS BIGINT), 'm2',
              CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE CAST(p_size AS DOUBLE) END
            FROM part)
            ORDER BY p_partkey, attr"""))

  /** Records-lookup join: ids → display names via broadcast records
    * (SURVEY §2.3 records-lookup; table_format_handler_base ids→names). */
  val q38_names = Q(
    "q38_names",
    (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("string").as("geography"), col("c_acctbal").as(ValueColumn))
      val records = t(s, dir, "nation")
        .select(col("n_nationkey").cast("string").as("id"), col("n_name").as("name"))
      MappingKernel
        .idsToNames(c, "geography", records)
        .groupBy("geography")
        .agg(round(sum(col(ValueColumn)), 2).as("total"), count(lit(1)).cast("long").as("n"))
        .orderBy("geography")
    },
    Some("""SELECT n_name AS geography, ROUND(SUM(c_acctbal), 2) AS total,
            CAST(COUNT(*) AS BIGINT) AS n
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1 ORDER BY 1"""))

  /** Count-distinct per group (SURVEY §2.4). */
  val q39_count_distinct = Q(
    "q39_count_distinct",
    (s, dir) => {
      val e = t(s, dir, "events")
      Aggregation
        .aggregate(e, Seq("event_type"), "count_distinct", valueColumn = "user_id", as = Some("n_users"))
        .select(col("event_type"), col("n_users").cast("long").as("n_users"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** Distributed time-spine generation (SURVEY §2.9): a year's hourly spine
    * via sequence+explode, no driver loop. */
  val q41_spine = Q(
    "q41_spine",
    (s, dir) => {
      graft.time.TimeSpine
        .yearHourlySpine(s, 2024)
        .agg(
          count(lit(1)).cast("long").as("n"),
          min(unix_timestamp(col("timestamp"))).as("first_epoch"),
          max(unix_timestamp(col("timestamp"))).as("last_epoch"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(MIN(FLOOR(EPOCH(ts))) AS BIGINT) AS first_epoch,
            CAST(MAX(FLOOR(EPOCH(ts))) AS BIGINT) AS last_epoch
            FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
              TIMESTAMP '2024-12-31 23:00:00', INTERVAL 1 HOUR) AS g(ts)"""))

  /** Annual multiplier growth (SURVEY §2.10): value * r joined on dims. */
  val q42_annual_multiplier = Q(
    "q42_annual_multiplier",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice").as(ValueColumn))
      val mult = t(s, dir, "orders")
        .select("o_orderpriority").distinct()
        .withColumn(ValueColumn, lit(1.0) + (length(col("o_orderpriority")) % 3) * 0.25)
      Growth
        .applyAnnualMultiplier(o, mult, Seq("o_orderpriority"))
        .groupBy("o_orderpriority")
        .agg(round(sum(col(ValueColumn)), 2).as("total"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
            ROUND(SUM(o_totalprice * (1.0 + (LENGTH(o_orderpriority) % 3) * 0.25)), 2) AS total
            FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Full declarative pipeline (SURVEY §3): register a project (dataset +
    * mapping + dimension records) into a filesystem registry, then run a
    * ProjectQuery through the Submitter — mapping join, fraction collapse,
    * filter, aggregation, ids→names, sort. */
  val q44_project_query = Q(
    "q44_project_query",
    (s, dir) => {
      import graft.query.Models._
      val reg = coreRegistry(s, dir)
      val q = ProjectQuery(
        name = "regional_balances",
        datasets = DatasetSection(Seq(
          DatasetRef("accounts", Seq(DimensionMappingRef("geography", "nation_to_region"))))),
        result = ResultSection(
          filters = Seq(graft.operators.DimensionFilter.ColumnOperatorFilter(
            "sector", "isin", Seq("BUILDING", "MACHINERY", "AUTOMOBILE"))),
          aggregations = Seq(graft.query.Models.Aggregation(groupBy = Seq("geography", "sector"))),
          idsToNames = Seq("sector"),
          sortBy = Seq("geography", "sector")))
      new graft.query.Submitter(reg)
        .submit(q)
        .select(col("geography"), col("sector"), round(col(ValueColumn), 2).as(ValueColumn))
    },
    Some("""SELECT r_name AS geography, LOWER(c_mktsegment) AS sector,
            ROUND(SUM(c_acctbal), 2) AS value
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Two-table dataset layout (SURVEY §1.1/§2.3): load_data carries
    * (id, value); the broadcast lookup join attaches the dimensions. */
  val q45_two_table = Q(
    "q45_two_table",
    (s, dir) => {
      val loadData = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("id"), col("l_extendedprice").as(ValueColumn))
      val lookup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("id"), col("s_nationkey").cast("string").as("geography"))
      MappingKernel
        .joinLookup(loadData, lookup)
        .groupBy(col("geography"))
        .agg(round(sum(col(ValueColumn)), 2).as("total"), count(lit(1)).cast("long").as("n"))
        .select(col("geography").cast("long").as("geography"), col("total"), col("n"))
        .orderBy("geography")
    },
    Some("""SELECT CAST(s_nationkey AS BIGINT) AS geography,
            ROUND(SUM(l_extendedprice), 2) AS total, CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY 1 ORDER BY 1"""))

  /** Interval resampling with measurement-type semantics (SURVEY §2.9 /
    * chronify): events downsampled to daily buckets, TOTAL measurement. */
  val q46_resample = Q(
    "q46_resample",
    (s, dir) => {
      val e = t(s, dir, "events")
      graft.time.Resample
        .downsample(e, "ts", 86400L, "total", Seq("event_type"))
        .select(
          unix_timestamp(col("ts")).as("epoch"),
          col("event_type"),
          round(col(ValueColumn), 2).as(ValueColumn))
        .orderBy("epoch", "event_type")
    },
    Some("""SELECT CAST(FLOOR(EPOCH(ts) / 86400) * 86400 AS BIGINT) AS epoch, event_type,
            ROUND(SUM(value), 2) AS value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Per-dataset dimension filter, pushed below the mapping joins (SURVEY
    * §2.2 pre-filter; ref ProjectQueryDatasetParamsModel.dimension_filters):
    * the filter is expressed in project space (region names), translated
    * back through the mapping to nation keys, and pruned before mapping. */
  val q47_prefilter = Q(
    "q47_prefilter",
    (s, dir) => {
      import graft.query.Models._
      val reg = coreRegistry(s, dir)
      val q = ProjectQuery(
        name = "filtered_regional",
        datasets = DatasetSection(Seq(DatasetRef(
          "accounts",
          mappings = Seq(DimensionMappingRef("geography", "nation_to_region")),
          filters = Seq(DimensionFilter.ColumnOperatorFilter(
            "geography", "isin", Seq("EUROPE", "ASIA")))))),
        result = ResultSection(
          aggregations = Seq(graft.query.Models.Aggregation(groupBy = Seq("geography"))),
          sortBy = Seq("geography")))
      new graft.query.Submitter(reg)
        .submit(q)
        .select(col("geography"), round(col(ValueColumn), 2).as(ValueColumn))
    },
    Some("""SELECT r_name AS geography, ROUND(SUM(c_acctbal), 2) AS value
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name IN ('EUROPE', 'ASIA')
            GROUP BY 1 ORDER BY 1"""))

  /** `time_zone: "geography"` + a peak-load report through the declarative
    * result model (SURVEY §2.9/§2.11; ref models.py:530-535 +
    * report_peak_load.py): per-geography local-time conversion driven by the
    * geography dimension records, then the report picks each geography's
    * peak row. January data → fixed offsets, so DuckDB can replay. */
  val q48_geo_tz_report = Q(
    "q48_geo_tz_report",
    (s, dir) => {
      import graft.query.Models._
      val reg = meterRegistry(s, dir)
      val q = ProjectQuery(
        name = "geo_local_peaks",
        datasets = DatasetSection(Seq(DatasetRef("meter"))),
        result = ResultSection(
          aggregations = Seq(graft.query.Models.Aggregation(groupBy = Seq("geography", "timestamp"))),
          timeZone = Some("geography"),
          reports = Seq(PeakLoadReport(groupBy = Seq("geography"), tieBreak = Seq("timestamp")))))
      val (_, reports) = new graft.query.Submitter(reg).submitWithReports(q)
      reports.head._2.select(
          col("geography"),
          unix_timestamp(col("timestamp")).as("local_epoch"),
          round(col(ValueColumn), 2).as(ValueColumn))
        .orderBy("geography")
    },
    Some("""WITH sums AS (
              SELECT 'g' || CAST(user_id % 3 AS VARCHAR) AS geography, ts,
                     SUM(value) AS value
              FROM events GROUP BY 1, 2
            ), conv AS (
              -- FLOOR before the cast: Spark's unix_timestamp truncates
              -- fractional seconds, DuckDB's CAST(double) rounds
              SELECT geography,
                     CAST(FLOOR(EPOCH(ts)) AS BIGINT) +
                       CASE geography WHEN 'g0' THEN -5*3600
                                      WHEN 'g1' THEN -7*3600 ELSE 0 END AS local_epoch,
                     value
              FROM sums
            )
            SELECT geography, local_epoch, ROUND(value, 2) AS value FROM conv
            QUALIFY ROW_NUMBER() OVER (PARTITION BY geography
                                       ORDER BY value DESC, local_epoch) = 1
            ORDER BY geography"""))

  /** QueryContext-style column naming (SURVEY §2.2/§3; ref
    * dataset_schema_handler_base.py:497-518): two datasets whose files
    * disagree on the geography column name are renamed per-dataset into one
    * project space and combined. */
  val q49_column_renames = Q(
    "q49_column_renames",
    (s, dir) => {
      import graft.query.Models._
      val reg = coreRegistry(s, dir)
      val q = ProjectQuery(
        name = "renamed_union",
        datasets = DatasetSection(Seq(
          DatasetRef("cust_bal", columnRenames = Seq("nation_code" -> "geography")),
          DatasetRef("supp_bal", columnRenames = Seq("geo_id" -> "geography")))),
        result = ResultSection(
          aggregations = Seq(graft.query.Models.Aggregation(groupBy = Seq("geography")))))
      new graft.query.Submitter(reg)
        .submit(q)
        .select(
          col("geography").cast("long").as("geography"),
          round(col(ValueColumn), 2).as(ValueColumn))
        .orderBy("geography")
    },
    Some("""SELECT CAST(geography AS BIGINT) AS geography, ROUND(SUM(value), 2) AS value
            FROM (
              SELECT CAST(c_nationkey AS VARCHAR) AS geography, c_acctbal AS value FROM customer
              UNION ALL
              SELECT CAST(s_nationkey AS VARCHAR), s_acctbal FROM supplier
            ) GROUP BY 1 ORDER BY 1"""))

  /** Subset-dimension filter (SURVEY §2.2; ref dimension_filters.py:232-276):
    * keep rows whose dimension value is in the union of record-id sets — a
    * broadcast semi-join, the scalable form of a giant IN list. */
  val q50_subset_filter = Q(
    "q50_subset_filter",
    (s, dir) => {
      import graft.query.Models._
      val reg = coreRegistry(s, dir)
      val ids = t(s, dir, "nation")
        .filter(col("n_nationkey") % 5 === 0)
        .select(col("n_nationkey").cast("string").as("id"))
      val q = DatasetQuery(
        name = "subset_geo",
        dataset = DatasetRef("accounts"),
        result = ResultSection(
          filters = Seq(DimensionFilter.SubsetFilter("geography", Seq(ids))),
          aggregations = Seq(graft.query.Models.Aggregation(groupBy = Seq("geography")))))
      new graft.query.Submitter(reg)
        .submit(q)
        .select(
          col("geography").cast("long").as("geography"),
          round(col(ValueColumn), 2).as(ValueColumn))
        .orderBy("geography")
    },
    Some("""SELECT CAST(c_nationkey AS BIGINT) AS geography, ROUND(SUM(c_acctbal), 2) AS value
            FROM customer WHERE c_nationkey % 5 = 0
            GROUP BY 1 ORDER BY 1"""))

  /** Supplemental-dimension filter (SURVEY §2.2; ref
    * dimension_filters.py:279-308): keep base records that map to a
    * supplemental dimension — semi-join against the mapping's from-side. */
  val q51_supplemental_filter = Q(
    "q51_supplemental_filter",
    (s, dir) => {
      import graft.query.Models._
      val reg = coreRegistry(s, dir)
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      // base-to-supplemental mapping: nations in AMERICA map, others don't
      val mapping = n.join(r, n("n_regionkey") === r("r_regionkey")).select(
        col("n_nationkey").cast("string").as(FromIdColumn),
        when(col("r_name") === "AMERICA", col("r_name")).as(ToIdColumn))
      val q = DatasetQuery(
        name = "supplemental_geo",
        dataset = DatasetRef("accounts"),
        result = ResultSection(
          filters = Seq(DimensionFilter.SupplementalFilter("geography", mapping)),
          aggregations = Seq(graft.query.Models.Aggregation(groupBy = Seq("geography")))))
      new graft.query.Submitter(reg)
        .submit(q)
        .select(
          col("geography").cast("long").as("geography"),
          round(col(ValueColumn), 2).as(ValueColumn))
        .orderBy("geography")
    },
    Some("""SELECT CAST(c_nationkey AS BIGINT) AS geography, ROUND(SUM(c_acctbal), 2) AS value
            FROM customer
            WHERE c_nationkey IN (
              SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'AMERICA')
            GROUP BY 1 ORDER BY 1"""))

  /** DST adjustments, all three modes (SURVEY §2.9; ref
    * dimension/time.py:143-187): fall-back duplicate (original value kept on
    * both? no — duplicate repeats the measured value), fall-back interpolate
    * (the ADDED row carries mean(prev, next)), spring-forward drop (the
    * nonexistent 02:30 local stamp is removed). Series built from the region
    * table: hour rk of the DST date, value rk²·10. */
  val q52_dst = Q(
    "q52_dst",
    (s, dir) => {
      val base = t(s, dir, "region").select(col("r_regionkey").cast("int").as("rk"))
      def series(start: String) = base.select(
        lit("g").as("g"),
        expr(s"timestampadd(HOUR, rk, TIMESTAMP'$start')").as("ts"),
        (col("rk") * col("rk") * lit(10.0)).as("value"),
        lit("America/New_York").as("tz"))
      val fall = series("2024-11-03 00:30:00")
      val spring = series("2024-03-10 00:30:00")
      val dup = TimeAdjustments.duplicateFallBackHour(fall, "ts", "tz")
        .withColumn("mode", lit("dup"))
      val interp = TimeAdjustments
        .interpolateFallBackHour(fall, "ts", "tz", "value", Seq("g"))
        .withColumn("mode", lit("interp"))
      val drop = TimeAdjustments.dropSpringForwardHour(spring, "ts", "tz")
        .withColumn("mode", lit("spring"))
      dup.unionByName(interp).unionByName(drop)
        .select(
          col("mode"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("value"))
        .orderBy("mode", "ts", "value")
    },
    Some("""WITH base AS (
              SELECT CAST(r_regionkey AS INT) AS rk,
                     TIMESTAMP '2024-11-03 00:30:00' + to_hours(CAST(r_regionkey AS BIGINT)) AS fts,
                     TIMESTAMP '2024-03-10 00:30:00' + to_hours(CAST(r_regionkey AS BIGINT)) AS sts,
                     CAST(r_regionkey * r_regionkey * 10 AS DOUBLE) AS value
              FROM region)
            SELECT 'dup' AS mode, strftime(fts, '%Y-%m-%d %H:%M:%S') AS ts, value FROM base
            UNION ALL SELECT 'dup', '2024-11-03 01:30:00', 10.0
            UNION ALL SELECT 'interp', strftime(fts, '%Y-%m-%d %H:%M:%S'), value FROM base
            UNION ALL SELECT 'interp', '2024-11-03 01:30:00', 20.0
            UNION ALL SELECT 'spring', strftime(sts, '%Y-%m-%d %H:%M:%S'), value FROM base WHERE rk <> 2
            ORDER BY mode, ts, value"""))

  /** Single-zone time conversion (SURVEY §2.9; ref models.py:530-535):
    * convert to one named zone's local clock, carry the tz column. January
    * data → fixed -7 offset for DuckDB. */
  val q53_single_tz = Q(
    "q53_single_tz",
    (s, dir) => {
      val e = t(s, dir, "events")
      graft.time.TimeZones.toSingleZone(e, "ts", "America/Denver")
        .groupBy(col(TimeZoneColumn), hour(col("ts")).cast("long").as("local_hour"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("local_hour")
    },
    Some("""SELECT 'America/Denver' AS time_zone,
            CAST((EXTRACT(hour FROM ts) + 24 - 7) % 24 AS BIGINT) AS local_hour,
            CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2 ORDER BY 2"""))

  /** Gap-based sessionization of the events stream table (beyond-parity;
    * training pipelines sessionize before per-session quality filters):
    * 30-minute gap per user, then a histogram of sessions per user. Exact
    * integer-microsecond gap comparison on both sides. */
  val q58_sessions = Q(
    "q58_sessions",
    (s, dir) => {
      val e = t(s, dir, "events")
      graft.time.Sessionize
        .assignSessions(e, "ts", 1800L, Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(max(col("session_id")).as("n_sessions"))
        .groupBy(col("n_sessions").cast("long").as("n_sessions"))
        .agg(count(lit(1)).cast("long").as("n_users"))
        .orderBy("n_sessions")
    },
    Some("""WITH marked AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     -- half-open gap (>=), matching session_window semantics
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
                     THEN 1 ELSE 0 END AS is_start
              FROM events),
            per_user AS (
              SELECT user_id, CAST(SUM(is_start) AS BIGINT) AS n_sessions FROM marked GROUP BY user_id)
            SELECT n_sessions, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM per_user GROUP BY 1 ORDER BY 1"""))

  /** Statistical aggregates (SURVEY §2.4 registry depth): median +
    * interpolated percentile + stddev + correlation, matched against
    * DuckDB's definitions of the same functions. */
  val q62_stats = Q(
    "q62_stats",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      Aggregation
        .aggregateMany(
          li,
          Seq("l_returnflag"),
          Seq(("median", "l_quantity", "med_qty"), ("stddev", "l_extendedprice", "sd_price")))
        .join(
          li.groupBy(col("l_returnflag"))
            .agg(
              percentile(col("l_quantity"), lit(0.9)).as("p90_qty"),
              corr(col("l_quantity"), col("l_extendedprice")).as("qty_price_corr")),
          Seq("l_returnflag"))
        .select(
          col("l_returnflag"),
          round(col("med_qty"), 2).as("med_qty"),
          round(col("p90_qty"), 2).as("p90_qty"),
          round(col("sd_price"), 2).as("sd_price"),
          round(col("qty_price_corr"), 4).as("qty_price_corr"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
            ROUND(MEDIAN(l_quantity), 2) AS med_qty,
            ROUND(QUANTILE_CONT(l_quantity, 0.9), 2) AS p90_qty,
            ROUND(STDDEV_SAMP(l_extendedprice), 2) AS sd_price,
            ROUND(CORR(l_quantity, l_extendedprice), 4) AS qty_price_corr
            FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** Calendar-interval arithmetic (SURVEY §2.9 interval op): shift
    * timestamps by calendar units (month-end clamping and all) and
    * aggregate on the shifted calendar — both engines must agree on
    * Jan 31 + 1 MONTH. */
  val q73_interval_op = Q(
    "q73_interval_op",
    (s, dir) => {
      val shifted = graft.time.TimeAdjustments.addInterval(
        graft.time.TimeAdjustments.addInterval(col("l_shipdate"), 1, "MONTH"), 2, "WEEK")
      t(s, dir, "lineitem")
        .select(year(shifted).cast("long").as("y"), month(shifted).cast("long").as("m"))
        .groupBy("y", "m")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("y", "m")
    },
    Some("""SELECT CAST(EXTRACT(year FROM d) AS BIGINT) AS y,
                   CAST(EXTRACT(month FROM d) AS BIGINT) AS m,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT l_shipdate + INTERVAL 1 MONTH + INTERVAL 2 WEEK AS d FROM lineitem)
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Registration-time time-consistency checks (SURVEY §2.9): spine
    * equality (ship dates cover every day of their span) and
    * equal-time-array-lengths per dimension combo — one true case, one
    * false case, so a check that always answers the same way fails. */
  val q74_time_consistency = Q(
    "q74_time_consistency",
    (s, dir) => {
      import graft.time.TimeChecks
      // the whole report is ONE composed plan (spine bounds derived
      // inside it) — the boolean check forms cost one driver action per
      // check; at scale those are sequential full scans of the spine
      val days = t(s, dir, "lineitem").select(col("l_shipdate").as("timestamp"), col("l_returnflag"))
      TimeChecks.report(
        TimeChecks.timestampsMatchSpineCheck(
          days, "timestamp",
          TimeChecks.spineFromBounds(days, "timestamp", 86400L), "spine_ok"),
        TimeChecks.equalTimeArrayLengthsCheck(
          days.select(col("l_returnflag"), trunc(col("timestamp"), "month").as("m")).distinct(),
          Seq("l_returnflag"), "equal_months"),
        TimeChecks.equalTimeArrayLengthsCheck(
          t(s, dir, "orders")
            .select(col("o_orderpriority"), trunc(col("o_orderdate"), "month").as("m")).distinct(),
          Seq("o_orderpriority"), "equal_priority_months"))
    },
    Some("""SELECT
              CAST(CASE WHEN (SELECT COUNT(DISTINCT l_shipdate) FROM lineitem) =
                             (SELECT date_diff('day', MIN(l_shipdate), MAX(l_shipdate)) + 1 FROM lineitem)
                   THEN 1 ELSE 0 END AS BIGINT) AS spine_ok,
              CAST(CASE WHEN (SELECT COUNT(DISTINCT c) FROM (
                       SELECT l_returnflag, COUNT(DISTINCT date_trunc('month', l_shipdate)) AS c
                       FROM lineitem GROUP BY 1)) = 1
                   THEN 1 ELSE 0 END AS BIGINT) AS equal_months,
              CAST(CASE WHEN (SELECT COUNT(DISTINCT c) FROM (
                       SELECT o_orderpriority, COUNT(DISTINCT date_trunc('month', o_orderdate)) AS c
                       FROM orders GROUP BY 1)) = 1
                   THEN 1 ELSE 0 END AS BIGINT) AS equal_priority_months"""))

  /** Wrap-time (SURVEY §2.9 wrap_time_allowed): fold a month of events
    * into one representative week by whole-range shifts, then histogram by
    * wrapped day — weather-year alignment semantics. */
  val q75_wrap_time = Q(
    "q75_wrap_time",
    (s, dir) => {
      graft.time.Resample
        .wrapTime(t(s, dir, "events"), "ts", "2024-01-01 00:00:00", "2024-01-08 00:00:00")
        .select(dayofmonth(col("ts")).cast("long").as("wrapped_day"))
        .groupBy("wrapped_day")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("wrapped_day")
    },
    // floor() mirrors Spark's unix_timestamp second truncation; a CAST
    // would round half-up and shift boundary events across midnight
    Some("""SELECT CAST(1 + ((CAST(FLOOR(epoch(ts)) AS BIGINT) -
                              CAST(epoch(TIMESTAMP '2024-01-01 00:00:00') AS BIGINT)) % 604800) // 86400
                        AS BIGINT) AS wrapped_day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** DATETIME_EXTERNAL_TZ (SURVEY §2.9, the reference's sixth time
    * representation): tz-NAIVE timestamps localized to absolute UTC through
    * a time zone resolved from the geography dimension records — the
    * inverse direction of q21/q48's UTC→local conversion. Wall-clock
    * readings in three zones shift by different whole-hour offsets, so UTC
    * day counts differ per geography; January data keeps the oracle clear
    * of DST ambiguity. */
  val q76_external_tz = Q(
    "q76_external_tz",
    (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .withColumn("geography", concat(lit("g"), pmod(col("user_id"), lit(3)).cast("string")))
      val geoRecords = Seq(
        ("g0", "America/New_York"),
        ("g1", "America/Denver"),
        ("g2", "Asia/Tokyo")).toDF("id", "time_zone")
      graft.time.TimeZones.geographyLocalToUtc(ev, "ts", "geography", geoRecords)
        .select(col("geography"), dayofmonth(col("ts")).cast("long").as("utc_day"))
        .groupBy("geography", "utc_day")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("geography", "utc_day")
    },
    Some("""SELECT geography, CAST(EXTRACT(day FROM utc_ts) AS BIGINT) AS utc_day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT 'g' || CAST(user_id % 3 AS VARCHAR) AS geography,
                         timezone('UTC', timezone(
                           CASE user_id % 3 WHEN 0 THEN 'America/New_York'
                                            WHEN 1 THEN 'America/Denver'
                                            ELSE 'Asia/Tokyo' END, ts)) AS utc_ts
                  FROM events)
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Session-time-zone management (SURVEY §2.9, the last spec-only time
    * row): the SAME column expression (`date_format`) renders different
    * wall-clock fields under a scoped session-zone override
    * (`GraftSession.withConf` — the reference restarts its session for
    * this, query_submitter.py:697-714). The aggregate is materialized
    * INSIDE the scope: session-zone-dependent expressions resolve the conf
    * at execution, so a lazily-returned frame would silently run under the
    * restored zone — exactly the trap the scoped helper exists to prevent. */
  val q80_session_tz = Q(
    "q80_session_tz",
    (s, dir) => {
      // BOTH the frame definition and the collect live inside the scope:
      // time-zone-aware expressions (date_format) capture the session zone
      // at ANALYSIS time, so a frame defined outside would bake in the old
      // zone no matter when it executes.
      val (rows, schema) = graft.core.GraftSession.withConf(s, "spark.sql.session.timeZone" -> "America/Denver") {
        val agg = t(s, dir, "events")
          .select(date_format(col("ts"), "HH").cast("long").as("local_hour"))
          .groupBy("local_hour")
          .agg(count(lit(1)).cast("long").as("n"))
          .orderBy("local_hour")
        (agg.collect(), agg.schema)
      }
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    },
    Some("""SELECT CAST(EXTRACT(hour FROM timezone('America/Denver', timezone('UTC', ts))) AS BIGINT) AS local_hour,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** collect_list through the whitelist aggregation registry (SURVEY §2.4
    * row, previously spec-only): per-region nation names, sorted then
    * joined so the unordered collection is hash-deterministic. */
  val q109_collect_list = Q(
    "q109_collect_list",
    (s, dir) => {
      val n = t(s, dir, "nation")
      Aggregation.aggregate(n, Seq("n_regionkey"), "collect_list", "n_name", Some("names"))
        .select(
          col("n_regionkey").cast("long").as("n_regionkey"),
          array_join(array_sort(col("names")), ",").as("names"))
        .orderBy("n_regionkey")
    },
    Some("""SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
                   string_agg(n_name, ',' ORDER BY n_name) AS names
            FROM nation GROUP BY 1 ORDER BY 1"""))

  /** Content hashing (SURVEY §2.10 cache-key row, previously spec-only):
    * the same SHA-256/16-hex fingerprint `query.Models.contentHash` uses
    * for cache keys, applied as a codegen column (`sha2`) — DuckDB's
    * `sha256` replays it byte-for-byte. */
  val q111_content_hash = Q(
    "q111_content_hash",
    (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 50)
      d.select(
        col("doc_id").cast("long").as("doc_id"),
        substring(sha2(col("text"), 256), 1, 16).as("fp"))
        .orderBy("doc_id")
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id, substr(sha256(text), 1, 16) AS fp
            FROM documents WHERE doc_id < 50 ORDER BY doc_id"""))

  /** Hourly spine-coverage report via the NEW SQL table-valued function
    * `graft_time_spine` (`injectTableFunction` — the dense time spine
    * every monitor here joins against, now a SQL-text surface planned as
    * a distributed Catalyst Range, never a driver-side collection): the
    * events span is covered hour by hour and empty slots counted — the
    * ingest-gap audit, spelled entirely in SQL. The only driver scalars
    * are the two span bounds. Oracle = a generate_series spine replay. */
  val q241_spine_coverage = Q(
    "q241_spine_coverage",
    (s, dir) => {
      val ev = t(s, dir, "events")
      ev.createOrReplaceTempView("graft_q241_events")
      val b = ev.agg(min(unix_timestamp(col("ts"))).as("lo"),
        max(unix_timestamp(col("ts"))).as("hi")).head()
      val lo = b.getLong(0) / 3600 * 3600
      val hi = b.getLong(1) / 3600 * 3600 + 3600
      s.sql(s"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_slots,
               CAST(SUM(CASE WHEN c.n IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_with_events,
               CAST(SUM(CASE WHEN c.n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
               CAST(COALESCE(SUM(c.n), 0) AS BIGINT) AS n_events
        FROM graft_time_spine(timestamp_seconds($lo), timestamp_seconds($hi), 3600) sp
        LEFT JOIN (SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n
                   FROM graft_q241_events GROUP BY 1) c
          ON sp.ts = c.h""")
    },
    Some("""WITH b AS (SELECT (epoch_us(MIN(ts)) // 3600000000) * 3600 AS lo,
                              (epoch_us(MAX(ts)) // 3600000000) * 3600 + 3600 AS hi
                       FROM events),
              spine AS (SELECT unnest(generate_series(lo, hi - 3600, 3600)) AS t FROM b),
              c AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS h, COUNT(*) AS n
                    FROM events GROUP BY 1)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_slots,
                   CAST(SUM(CASE WHEN c.n IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_with_events,
                   CAST(SUM(CASE WHEN c.n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
                   CAST(COALESCE(SUM(c.n), 0) AS BIGINT) AS n_events
            FROM spine LEFT JOIN c ON spine.t = c.h"""))

  /** Completeness failure → closed-pattern diagnosis, end to end: a fact
    * table is PLANTED with two missing slabs (all of one nation across
    * every region × sector; one region × one sector across every nation),
    * [[graft.operators.Validation.missingAssociations]] recovers the
    * missing cross-product rows, and
    * [[graft.operators.Validation.minimalClosedPatterns]] compresses the
    * 39 missing combinations into the two patterns that CAUSED them — the
    * reference's Rust miner surface (rust/src/lib.rs:298-612 via
    * dsgrid/utils/dataset.py:241-291), re-expressed as levelwise
    * groupBy-count plans. The oracle derives the expected patterns
    * independently from the plant arithmetic (nation 7; region 2 × 'm1'),
    * not by replaying the miner. */
  val q260_missing_patterns = Q(
    "q260_missing_patterns",
    (s, dir) => {
      import graft.operators.Validation
      val nations = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val regions = t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
      val geoRecs = nations.select(col("n_name").as("id"))
      val scenRecs = regions.select(col("r_name").as("id"))
      import s.implicits._
      val secRecs = Seq("m0", "m1", "m2").toDF("id")
      val cube = geoRecs.select(col("id").as("geography"))
        .crossJoin(scenRecs.select(col("id").as("scenario")))
        .crossJoin(secRecs.select(col("id").as("sector")))
      val slabG = nations.filter(col("n_nationkey") === 7)
        .select(col("n_name").as("geography"))
      val slabRS = regions.filter(col("r_regionkey") === 2)
        .select(col("r_name").as("scenario"), lit("m1").as("sector"))
      val data = cube
        .join(slabG, Seq("geography"), "left_anti")
        .join(slabRS, Seq("scenario", "sector"), "left_anti")
      val missing = Validation.missingAssociations(
        data, Seq("geography", "scenario", "sector"),
        Map("geography" -> geoRecs, "scenario" -> scenRecs, "sector" -> secRecs))
      Validation.minimalClosedPatterns(missing)
        .select(
          concat_ws("|", col("columns")).as("pattern_cols"),
          concat_ws("|", col("values")).as("pattern_vals"),
          col("num_rows").cast("long").as("num_rows"))
        .orderBy("pattern_cols", "pattern_vals")
    },
    Some("""SELECT 'geography' AS pattern_cols,
                   (SELECT n_name FROM nation WHERE n_nationkey = 7) AS pattern_vals,
                   15::BIGINT AS num_rows
            UNION ALL
            SELECT 'scenario|sector',
                   (SELECT r_name FROM region WHERE r_regionkey = 2) || '|m1',
                   25::BIGINT
            ORDER BY pattern_cols, pattern_vals"""))

  val all: Seq[Q] = Seq(
    q01_agg, q02_filter, q04_mapping, q11_peak, q12_topk, q13_time_agg, q14_units, q15_expr_arith,
    q16_expr_union, q17_scaling, q18_growth, q20_annual, q21_tz, q22_calendar_adjust, q23_json,
    q35_index_time, q36_rep_period, q37_unpivot_nulls, q38_names, q39_count_distinct, q41_spine,
    q42_annual_multiplier, q44_project_query, q45_two_table, q46_resample, q47_prefilter,
    q48_geo_tz_report, q49_column_renames, q50_subset_filter, q51_supplemental_filter, q52_dst,
    q53_single_tz, q58_sessions, q62_stats, q73_interval_op, q74_time_consistency, q75_wrap_time,
    q76_external_tz, q80_session_tz, q109_collect_list, q111_content_hash, q241_spine_coverage,
    q260_missing_patterns)
}
