package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Par
import graft.sources.TxnLog

import graft.QueryDsl._

/** Catalog family: sources, sinks and table management — format
  * round-trips, partitioned and bucketed layouts, the DataSource V2
  * fixed-width source, file skipping, and the transaction-log table's
  * lifecycle (MERGE, deletion vectors, VACUUM, change feed, RESTORE,
  * concurrency, clones, schema/partition evolution, constraints, history,
  * materialized views). COVERAGE.md §2.1 and the lakehouse rows.
  * Registered in [[graft.Queries]]. */
private[graft] object LakehouseCatalog {

  /** CSV sink round-trip (SURVEY §2.1 sinks): write header CSV, read back
    * with schema (rows-only — exercises Writers.csv + Readers.csv). */
  val q43_csv_roundtrip = Q(
    "q43_csv_roundtrip",
    (s, dir) => {
      val agg = t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(round(sum(col("o_totalprice")), 2).as("total"))
      val out = scratch("graft-q43") + "/roundtrip"
      graft.sources.Writers.csv(agg, out, singleFile = true)
      graft.sources.Readers
        .csv(s, out, Some(graft.core.FileSchema(Seq("o_orderpriority" -> "STRING", "total" -> "DOUBLE"))))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, ROUND(SUM(o_totalprice), 2) AS total
            FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Auto-partitioned parquet sink round-trip (SURVEY §2.1; ref
    * dsgrid/utils/spark.py:530-630): write with the 128MB-target resize
    * algorithm (forced to engage via a 1MB target), re-read, aggregate. */
  val q54_autopartition = Q(
    "q54_autopartition",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      val out = scratch("graft-q54") + "/li.parquet"
      graft.sources.Writers.parquetAutoPartition(
        s, li, out, targetMb = 1, minNumPartitions = 1)
      s.read.parquet(out)
        .agg(
          count(lit(1)).cast("long").as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
            ROUND(SUM(l_quantity), 2) AS sum_qty,
            ROUND(SUM(l_extendedprice), 2) AS sum_price
            FROM lineitem"""))

  /** Warehouse/table sink round-trip (SURVEY §2.1; ref
    * dsgrid/utils/spark.py:675-733): saveAsTable + read back via the
    * catalog, then aggregate from the table. */
  val q55_warehouse = Q(
    "q55_warehouse",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val table = graft.sources.Writers.toTable(s, o, "graft_q55_orders")
      table.groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            ROUND(SUM(o_totalprice), 2) AS total
            FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Bucketed-table co-located join (beyond-parity; SURVEY §2.1/§2.3): both
    * sides bucketed on the join key at write time, so the join itself runs
    * with zero exchanges — the write-once shuffle that makes repeated joins
    * cheap at 100 TB (IOSpec carries the shuffle-free plan contract). */
  val q56_bucketed_join = Q(
    "q56_bucketed_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_suppkey"), col("l_quantity"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val bli = graft.sources.Writers.toBucketedTable(
        s, li, "graft_q56_lineitem", Seq("l_suppkey"), 8)
      val bsup = graft.sources.Writers.toBucketedTable(
        s, sup, "graft_q56_supplier", Seq("s_suppkey"), 8)
      bli.join(bsup, bli("l_suppkey") === bsup("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          round(sum(col("l_quantity")), 2).as("total_qty"))
        .select(col("s_nationkey").cast("long").as("s_nationkey"), col("n"), col("total_qty"))
        .orderBy("s_nationkey")
    },
    Some("""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
            CAST(COUNT(*) AS BIGINT) AS n,
            ROUND(SUM(l_quantity), 2) AS total_qty
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY 1 ORDER BY 1"""))

  /** Hive-partitioned time-series layout (SURVEY §2.1 sink family): events
    * written partitioned by day, re-read with a one-day predicate that
    * prunes directories (PartitionFilters, zero IO on other days), then
    * aggregated. The first-line data-skipping pattern for 100 TB
    * time-series. */
  val q59_partitioned_write = Q(
    "q59_partitioned_write",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
      val out = scratch("graft-q59") + "/events"
      graft.sources.Writers.parquetPartitionedBy(e, out, Seq("event_date"), sortWithin = Seq("ts"))
      s.read.parquet(out)
        .filter(col("event_date") === "2024-01-15")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          round(sum(col("value")), 2).as("total"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            ROUND(SUM(value), 2) AS total
            FROM events
            WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
            GROUP BY 1 ORDER BY 1"""))

  /** JSON round-trip (SURVEY §2.1 JSON scan, FAILFAST): aggregate, write
    * line-delimited JSON, read it back through the strict reader. The
    * oracle recomputes the aggregate straight from parquet, so a lossy or
    * lenient round-trip would hash-mismatch. */
  val q70_json_roundtrip = Q(
    "q70_json_roundtrip",
    (s, dir) => {
      val agg = t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      val out = scratch("graft-q70") + "/roundtrip"
      graft.sources.Writers.json(agg, out, singleFile = true)
      graft.sources.Readers.json(s, out)
        .select(col("o_orderstatus"), col("n"), col("total"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(o_totalprice), 2) AS total
            FROM orders GROUP BY 1 ORDER BY 1"""))

  /** In-place overwrite (SURVEY §2.1): a parquet dataset is rewritten at
    * its own path (tmp-write + swap + re-read) with a filtered view of
    * itself — Spark cannot read and overwrite one path in a single job. */
  val q71_overwrite_inplace = Q(
    "q71_overwrite_inplace",
    (s, dir) => {
      val table = scratch("graft-q71") + "/orders"
      graft.sources.Writers.parquet(
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice"), table)
      val pruned = graft.sources.Writers
        .overwriteInPlace(s, s.read.parquet(table).filter(col("o_totalprice") > 150000.0), table)
      pruned
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).cast("long").as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(o_totalprice), 2) AS total
            FROM orders WHERE o_totalprice > 150000.0 GROUP BY 1 ORDER BY 1"""))

  /** Persist-intermediate (SURVEY §2.1): a mid-pipeline frame is cut to
    * scratch parquet and read back (lineage truncation) as a
    * `FileCache.cached` entry, and a second call whose build would throw
    * reuses it — both must yield the same bytes the oracle computes
    * directly. */
  val q72_persist_intermediate = Q(
    "q72_persist_intermediate",
    (s, dir) => {
      // a fresh dir per run: the reuse must only ever see this run's
      // entry, never another run's or scale factor's
      val cut = scratch("graft-q72")
      val perSupp = t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(sum(col("l_quantity")).as("qty"))
      // the cut lands at `<cut>/per_supp/table.parquet`
      graft.query.FileCache.cached(s, cut, "per_supp")(perSupp)
      val resumed = graft.query.FileCache.cached(s, cut, "per_supp")(
        throw new IllegalStateException("q72: the published entry was not reused"))
      resumed
        .select(floor(col("qty") / 100.0).cast("long").as("qty_bucket"))
        .groupBy("qty_bucket")
        .agg(count(lit(1)).cast("long").as("n_suppliers"))
        .orderBy("qty_bucket")
    },
    Some("""SELECT CAST(FLOOR(qty / 100.0) AS BIGINT) AS qty_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_suppliers
            FROM (SELECT l_suppkey, SUM(l_quantity) AS qty FROM lineitem GROUP BY 1)
            GROUP BY 1 ORDER BY 1"""))

  /** In-row semi-structured extraction (SURVEY §2.10 family): the events
    * `props` JSON column parsed with a declared schema (`from_json` —
    * codegen'd, unlike a per-field get_json_object re-parse) and aggregated.
    * Exact integer outputs. */
  val q103_json_props = Q(
    "q103_json_props",
    (s, dir) => {
      val e = t(s, dir, "events")
      e.select(
        col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType))))
          .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("k")).cast("long").as("n_k"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).cast("long").as("min_k"),
          max(col("k")).cast("long").as("max_k"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
                   CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS n_k,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
                   CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS min_k,
                   CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS max_k
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** Invalid-file recovery (SURVEY §2.1 row, previously spec-only): a
    * corrupt .parquet planted next to real part files must be skipped by
    * the recovering reader, and the surviving rows must equal the clean
    * subset — the oracle reads the ORIGINAL table, so any lost or phantom
    * row diverges the hash. */
  val q110_read_recovery = Q(
    "q110_read_recovery",
    (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      val out = scratch("graft-q110") + "/data"
      li.coalesce(2).write.mode("overwrite").parquet(out)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/zz_corrupt.parquet"),
        "not a parquet file".getBytes("UTF-8"))
      graft.sources.Readers.readWithRecovery(s, out)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem WHERE l_orderkey % 10 = 0
            GROUP BY 1 ORDER BY 1"""))

  /** Schema'd reader with renames/ignores (SURVEY §2.1 row, previously
    * spec-only): customer exported to CSV, re-read through a typed
    * `FileSchema` that renames two columns and drops one; the aggregate
    * must equal the original table under the same aliases. */
  val q112_file_schema = Q(
    "q112_file_schema",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val out = scratch("graft-q112") + "/c.csv"
      c.coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
      val fs = graft.core.FileSchema(
        columns = Seq(
          ("c_custkey", "bigint"), ("c_name", "string"), ("c_nationkey", "bigint"),
          ("c_acctbal", "double"), ("c_mktsegment", "string")),
        renames = Map("c_mktsegment" -> "segment", "c_acctbal" -> "balance"),
        ignoreColumns = Seq("c_name"))
      graft.sources.Readers
        .applyFileSchema(graft.sources.Readers.csv(s, out, Some(fs)), fs)
        .groupBy(col("segment"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          round(sum(col("balance")), 2).as("total_balance"))
        .orderBy("segment")
    },
    Some("""SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(c_acctbal), 2) AS total_balance
            FROM customer GROUP BY 1 ORDER BY 1"""))

  /** Z-order (Morton) layout pruning: part/supplier keys masked to a
    * 1024×1024 grid, interleaved to a 20-bit curve position, bucketed into
    * 256 "files" of 4096 curve points (64×64 tiles). The box predicate then
    * touches only the buckets its tiles intersect — 6 of 256 here, the
    * pruning a z-ordered layout buys on BOTH dimensions where a plain sort
    * prunes one. Pure integer bit arithmetic; the oracle replays the
    * interleave as the same 20-term shift/mask sum. */
  val q118_zorder = Q(
    "q118_zorder",
    (s, dir) => {
      import graft.operators.Zorder
      val li = t(s, dir, "lineitem").select(
        (col("l_partkey") % 1024).cast("long").as("x"),
        (col("l_orderkey") % 1024).cast("long").as("y"))
      li.withColumn("z", Zorder.interleave(col("x"), col("y"), 10))
        .withColumn("bucket", expr("z div 4096"))
        .filter(col("x").between(90, 180) && col("y").between(200, 280))
        .groupBy(col("bucket").cast("long").as("bucket"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"),
          min(col("z")).as("min_z"), max(col("z")).as("max_z"))
        .orderBy("bucket")
    },
    Some {
      val zterms = (0 until 10)
        .map(b => s"((x >> $b) & 1) * ${1L << (2 * b)} + ((y >> $b) & 1) * ${1L << (2 * b + 1)}")
        .mkString(" + ")
      s"""WITH g AS (
            SELECT CAST(l_partkey % 1024 AS BIGINT) AS x,
                   CAST(l_orderkey % 1024 AS BIGINT) AS y
            FROM lineitem),
          z AS (SELECT x, y, CAST($zterms AS BIGINT) AS z FROM g)
          SELECT CAST(z // 4096 AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
                 MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y,
                 MIN(z) AS min_z, MAX(z) AS max_z
          FROM z
          WHERE x BETWEEN 90 AND 180 AND y BETWEEN 200 AND 280
          GROUP BY 1 ORDER BY 1"""
    })

  /** ORC round-trip (source/sink breadth): the other native columnar
    * format — write an aggregate as ORC, read it back through the
    * vectorized ORC reader. Warehouse interop at scale is format
    * plurality; the sink/scan pair must be lossless. */
  val q127_orc_roundtrip = Q(
    "q127_orc_roundtrip",
    (s, dir) => {
      val agg = t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          round(sum(col("l_extendedprice")), 2).as("total"),
          count(lit(1)).cast("long").as("n"))
      val out = scratch("graft-q127") + "/roundtrip"
      graft.sources.Writers.orc(agg, out)
      graft.sources.Readers.orc(s, out).orderBy("l_linestatus")
    },
    Some("""SELECT l_linestatus, ROUND(SUM(l_extendedprice), 2) AS total,
            CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** SCD2 history build (analytics-engineering breadth): per-user
    * event_type observation stream compressed to validity intervals by
    * gaps-and-islands — one window sort carries the lag, the island sum,
    * and the closing lead. Epoch-microsecond integers end to end. */
  val q131_scd2 = Q(
    "q131_scd2",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(
          col("user_id"),
          col("event_type"),
          unix_micros(col("ts")).as("tsu"),
          col("event_id"))
      graft.operators.History
        .scd2(ev, Seq("user_id"), "tsu", "event_type", tieBreak = Seq("event_id"))
        .select(
          col("user_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("n_observations"))
        .orderBy("user_id", "valid_from")
    },
    Some("""WITH o AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
            f AS (SELECT *, CASE WHEN event_type IS NOT DISTINCT FROM
                                      LAG(event_type) OVER w THEN 0 ELSE 1 END AS chg
                  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
            i AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                                           ROWS UNBOUNDED PRECEDING) AS island FROM f),
            g AS (SELECT user_id, island, MIN(event_type) AS event_type,
                         MIN(tsu) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_observations
                  FROM i GROUP BY 1, 2)
            SELECT user_id, event_type, valid_from,
                   LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
                   n_observations
            FROM g ORDER BY user_id, valid_from"""))

  /** Additive schema evolution (source breadth): two parquet roots written
    * at different schema versions, reconciled by mergeSchema — the old
    * files' missing column surfaces as NULL, no rewrite of old data. */
  val q132_schema_evolution = Q(
    "q132_schema_evolution",
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val base = scratch("graft-q132")
      val v1 = orders.filter(col("o_orderkey") % 2 === 0)
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(round(sum(col("o_totalprice")), 2).as("total"))
      val v2 = orders.filter(col("o_orderkey") % 2 === 1)
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(
          round(sum(col("o_totalprice")), 2).as("total"),
          count(lit(1)).cast("long").as("n"))
      graft.sources.Writers.parquet(v1, s"$base/v1")
      graft.sources.Writers.parquet(v2, s"$base/v2")
      graft.sources.Readers.parquetMerged(s, s"$base/v1", s"$base/v2")
        .select(col("pri"), col("total"), col("n"))
        .orderBy(col("pri"), col("n").asc_nulls_first)
    },
    Some("""WITH v1 AS (SELECT o_orderpriority AS pri, ROUND(SUM(o_totalprice), 2) AS total,
                               CAST(NULL AS BIGINT) AS n
                        FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
            v2 AS (SELECT o_orderpriority AS pri, ROUND(SUM(o_totalprice), 2) AS total,
                          CAST(COUNT(*) AS BIGINT) AS n
                   FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1)
            SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
            ORDER BY pri, n NULLS FIRST"""))

  /** CDC merge-apply (MERGE INTO shape): a change batch (inserts/updates/
    * deletes derived deterministically from orders) folded into the
    * customer snapshot — delta compacted to one winner per key, then ONE
    * outer join against the base. The oracle replays the same winner
    * selection and join in SQL. */
  val q134_merge_upsert = Q(
    "q134_merge_upsert",
    (s, dir) => {
      val base = t(s, dir, "customer")
        .select(
          col("c_custkey").cast("long").as("k"),
          col("c_mktsegment").as("seg"),
          col("c_acctbal").as("bal"))
      val changes = t(s, dir, "orders").select(
        when(col("o_orderkey") % 10 === 0, col("o_custkey"))
          .when(col("o_orderkey") % 10 <= 3, col("o_custkey"))
          .otherwise(col("o_custkey") + 1000000L).cast("long").as("k"),
        when(col("o_orderkey") % 10 === 0, "D")
          .when(col("o_orderkey") % 10 <= 3, "U")
          .otherwise("I").as("op"),
        col("o_orderpriority").as("seg"),
        col("o_totalprice").as("bal"),
        col("o_orderkey").cast("long").as("seqno"))
      graft.operators.Cdc
        .applyChanges(base, changes, Seq("k"), "op", Seq(col("seqno")))
        .orderBy("k")
    },
    Some("""WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
                                 c_acctbal AS bal FROM customer),
            ch AS (SELECT CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_custkey
                                    WHEN o_orderkey % 10 <= 3 THEN o_custkey
                                    ELSE o_custkey + 1000000 END AS BIGINT) AS k,
                          CASE WHEN o_orderkey % 10 = 0 THEN 'D'
                               WHEN o_orderkey % 10 <= 3 THEN 'U'
                               ELSE 'I' END AS op,
                          o_orderpriority AS cseg, o_totalprice AS cbal,
                          CAST(o_orderkey AS BIGINT) AS seqno
                   FROM orders),
            win AS (SELECT * FROM (
                      SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seqno DESC) AS rn
                      FROM ch) WHERE rn = 1)
            SELECT COALESCE(b.k, w.k) AS k,
                   CASE WHEN w.op IS NULL THEN b.seg ELSE w.cseg END AS seg,
                   CASE WHEN w.op IS NULL THEN b.bal ELSE w.cbal END AS bal
            FROM base b FULL OUTER JOIN win w ON b.k = w.k
            WHERE w.op IS NULL OR w.op <> 'D'
            ORDER BY k"""))

  /** Small-file compaction (table maintenance): a 40-file fragmented copy
    * of documents rewritten in place to byte-targeted files; the oracle
    * checks content identity — compaction is layout, never semantics.
    * File-count mechanics are spec-asserted (IOValidationSpec). */
  val q137_compaction = Q(
    "q137_compaction",
    (s, dir) => {
      val base = scratch("graft-q137") + "/documents"
      graft.sources.Writers.parquet(
        t(s, dir, "documents").repartition(40), base)
      graft.sources.Writers.compactFiles(s, base, targetFileBytes = 4L << 20)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy("source")
    },
    Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY 1 ORDER BY 1"""))

  /** Plain-text source/sink roundtrip (source breadth): documents flattened
    * to delimited single-line records, written with the text sink, read
    * back with the text source, re-parsed and aggregated — the lowest-
    * common-denominator interchange format still everywhere in corpus
    * plumbing. The oracle recomputes the aggregate from the table. */
  val q140_text_roundtrip = Q(
    "q140_text_roundtrip",
    (s, dir) => {
      val base = scratch("graft-q140") + "/lines"
      val lines = t(s, dir, "documents").select(
        concat(col("doc_id").cast("string"), lit("|"),
          regexp_replace(col("text"), "[\\n\\r\\t]", " ")).as("value"))
      graft.sources.Writers.text(lines, base)
      graft.sources.Readers.text(s, base)
        .select(
          split(col("value"), "\\|", 2).getItem(0).cast("long").as("doc_id"),
          split(col("value"), "\\|", 2).getItem(1).as("payload"))
        .groupBy((col("doc_id") % 10).as("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(length(col("payload"))).cast("long").as("chars"))
        .orderBy("bucket")
    },
    Some("""SELECT CAST(doc_id % 10 AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(len(regexp_replace(text, '[\n\r\t]', ' ', 'g'))) AS BIGINT) AS chars
            FROM documents GROUP BY 1 ORDER BY 1"""))

  /** Incremental partition-selective refresh (materialized-view
    * maintenance): day-partitioned fingerprints (order-independent
    * bit_xor of row hashes) diff two event snapshots; only changed days
    * are recomputed, unchanged days stitch through from the previous
    * derived table — and the result must equal a full recompute of the
    * next snapshot, which is exactly what the oracle computes. */
  val q141_incremental_refresh = Q(
    "q141_incremental_refresh",
    (s, dir) => {
      import graft.operators.Incremental._
      val prev = t(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      // the "next" snapshot: value bumped on days where day-of-month ≡ 3 (mod 7)
      val next = prev.withColumn("value",
        when(dayofmonth(col("ts")) % 7 === 3, col("value") + lit(1.0))
          .otherwise(col("value")))
      val derive = (df: DataFrame) => df.groupBy(col("day"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(floor(col("value") * 100).cast("long")).cast("long").as("cents"))
      val hashCols = Seq("event_id", "user_id", "event_type", "value")
      val changed = changedPartitions(
        partitionFingerprints(prev, Seq("day"), hashCols),
        partitionFingerprints(next, Seq("day"), hashCols),
        Seq("day"))
      refresh(derive(prev), next, changed, Seq("day"), derive)
        .orderBy("day")
    },
    Some("""WITH nxt AS (
              SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                     CASE WHEN EXTRACT(day FROM ts) % 7 = 3
                          THEN value + 1.0 ELSE value END AS value
              FROM events)
            SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM nxt GROUP BY 1 ORDER BY 1"""))

  /** Semi-structured VARIANT ingestion (Spark 4 VariantType): each event
    * serialized to a JSON payload (with a nested object and a sometimes-
    * missing field), parsed into the binary variant encoding, and shredded
    * back into typed columns with `try_variant_get` path extraction —
    * missing paths yield NULL, not errors. The oracle recomputes the same
    * aggregate straight from the base columns, so any parse/extract loss
    * or type coercion drift in the variant round-trip hash-mismatches. */
  val q149_variant_shred = Q(
    "q149_variant_shred",
    (s, dir) => {
      import graft.functions.SemiStructured
      val payloads = t(s, dir, "events").select(
        to_json(struct(
          col("event_type").as("type"),
          struct(
            col("user_id").as("id"),
            (col("user_id") % 7).as("cohort")).as("user"),
          floor(col("value") * 100).cast("long").as("cents"),
          // present only for even event ids — exercises NULL-on-missing
          when(col("event_id") % 2 === 0, col("event_id")).as("trace"))).as("payload"))
      val shredded = SemiStructured.shredJson(payloads, "payload", Seq(
        SemiStructured.Field("etype", "$.type", "string"),
        SemiStructured.Field("cohort", "$.user.cohort", "bigint"),
        SemiStructured.Field("cents", "$.cents", "bigint"),
        SemiStructured.Field("trace", "$.trace", "bigint"),
        SemiStructured.Field("missing", "$.nope.deeper", "string")))
      shredded
        .groupBy(col("etype"), col("cohort"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("cents")).cast("long").as("total_cents"),
          count(col("trace")).cast("long").as("n_traced"),
          count(col("missing")).cast("long").as("n_missing_hits"))
        .orderBy("etype", "cohort")
    },
    Some("""SELECT event_type AS etype,
                   CAST(user_id % 7 AS BIGINT) AS cohort,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
                   CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_traced,
                   CAST(0 AS BIGINT) AS n_missing_hits
            FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

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

  /** Manifest-based data skipping (lakehouse pattern): orders written
    * range-clustered on o_totalprice into 8 files, a per-file min/max
    * manifest built once, and a selective range query planned against the
    * MANIFEST — it must open a strict subset of files (asserted) and
    * still produce exactly the full-scan answer (the oracle). */
  val q194_file_skipping = Q(
    "q194_file_skipping",
    (s, dir) => {
      import graft.sources.Skipping
      val table = scratch("graft-q194") + "/orders"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartitionByRange(8, col("o_totalprice"))
        .write.parquet(table)
      val manifest = Skipping.buildManifest(s, table, "o_totalprice")
      val nFiles = manifest.count()
      val (files, ranged) = Skipping.readRange(s, table, manifest, "o_totalprice", 100000.0, 150000.0)
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

  /** The custom DataSource V2 fixed-width source end-to-end
    * ([[graft.sources.fixedwidth.FixedWidthSource]] — schema from the
    * `fields` option, byte-level column pruning, scan-side comparison
    * pushdown with Spark re-checking the residuals): supplier exported to
    * fixed-width lines (the mainframe interchange layout), read back
    * through `.format("graft-fixedwidth")`, filtered and aggregated. The
    * oracle computes the same report from the ORIGINAL table — the
    * round-trip through format/parse plus the pushdown path must be
    * value-invisible. */
  val q233_fixedwidth_source = Q(
    "q233_fixedwidth_source",
    (s, dir) => {
      val sup = t(s, dir, "supplier")
      val out = scratch("graft-q233")
      sup.select(format_string("%10d%6d%14d%-30s",
          col("s_suppkey").cast("long"), col("s_nationkey").cast("long"),
          floor(col("s_acctbal") * 100).cast("long"), col("s_name")).as("value"))
        .write.mode("overwrite").text(out)
      s.read.format("graft-fixedwidth")
        .option("fields", "suppkey:10:long,nkey:6:long,balc:14:long,name:30:string")
        .load(out)
        .filter(col("nkey") < 8)
        .groupBy(col("nkey"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("balc")).cast("long").as("sum_balc"),
          max(col("name")).as("max_name"))
        .orderBy("nkey")
    },
    Some("""SELECT CAST(s_nationkey AS BIGINT) AS nkey,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(FLOOR(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_balc,
                   MAX(s_name) AS max_name
            FROM supplier WHERE s_nationkey < 8
            GROUP BY 1 ORDER BY 1"""))

  /** The DSv2 source's WRITE side closing the loop: part rows exported
    * through `.write.format("graft-fixedwidth")` (per-task append
    * writers, left/right slot padding — the exact inverse of the reader's
    * trim, over-wide values refused), read back through the same source
    * with a pushed filter, and aggregated. Oracle = the same report from
    * the original table; the full write→read cycle must be
    * value-invisible. */
  val q234_fixedwidth_write = Q(
    "q234_fixedwidth_write",
    (s, dir) => {
      val out = scratch("graft-q234") + "/part_fw"
      val fieldsOpt = "partkey:10:long,size:6:long,retailc:14:long,brand:12:string"
      t(s, dir, "part")
        .select(col("p_partkey").cast("long").as("partkey"),
          col("p_size").cast("long").as("size"),
          floor(col("p_retailprice") * 100).cast("long").as("retailc"),
          col("p_brand").as("brand"))
        .write.format("graft-fixedwidth").option("fields", fieldsOpt)
        .mode("append").save(out)
      s.read.format("graft-fixedwidth").option("fields", fieldsOpt).load(out)
        .filter(col("size") <= 25)
        .groupBy(col("brand"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("retailc")).cast("long").as("sum_retailc"),
          max(col("partkey")).cast("long").as("max_partkey"))
        .orderBy("brand")
    },
    Some("""SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(FLOOR(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS sum_retailc,
                   CAST(MAX(p_partkey) AS BIGINT) AS max_partkey
            FROM part WHERE p_size <= 25
            GROUP BY 1 ORDER BY 1"""))

  /** DSv2 aggregate pushdown over the fixed-width source: ungrouped
    * COUNT(*)/MIN/MAX fold INSIDE the scan (one partial row per file
    * reaches Spark's final merge — `SupportsPushDownAggregates`, the
    * contract that turns a table-stat query over a 100 TB export into a
    * metadata-speed pass). The spec pins the partial-push plan shape;
    * here the values must equal the same stats computed from the original
    * table. */
  val q235_fixedwidth_agg_push = Q(
    "q235_fixedwidth_agg_push",
    (s, dir) => {
      val out = scratch("graft-q235") + "/ev_fw"
      val fieldsOpt = "event_id:12:long,user_id:10:long"
      t(s, dir, "events")
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"))
        .write.format("graft-fixedwidth").option("fields", fieldsOpt)
        .mode("append").save(out)
      s.read.format("graft-fixedwidth").option("fields", fieldsOpt).load(out)
        .agg(count(lit(1)).cast("long").as("n"),
          min(col("event_id")).cast("long").as("min_event"),
          max(col("event_id")).cast("long").as("max_event"),
          max(col("user_id")).cast("long").as("max_user"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(MIN(event_id) AS BIGINT) AS min_event,
                   CAST(MAX(event_id) AS BIGINT) AS max_event,
                   CAST(MAX(user_id) AS BIGINT) AS max_user
            FROM events"""))

  /** Metadata-speed corpus accounting from parquet FOOTERS: events
    * re-laid-out as a 4-file parquet table, then row counts taken from the
    * file footers alone — zero data pages read, the layout-audit query a
    * 100 TB lakehouse answers from metadata (file and row-group counts
    * are deterministic here: 4 round-robin files, one row group each at
    * this size). The footer total must equal the real COUNT(*) — which is
    * exactly what the oracle checks from the original table. At fleet
    * scale the footer reads parallelize over the file list; 4 files read
    * driver-side keep the demo honest without ceremony. */
  val q243_parquet_footers = Q(
    "q243_parquet_footers",
    (s, dir) => {
      import s.implicits._
      val out = scratch("graft-q243") + "/ev"
      t(s, dir, "events").repartition(4).write.mode("overwrite").parquet(out)
      val conf = s.sparkContext.hadoopConfiguration
      val files = new java.io.File(out).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
      val perFile = files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val blocks = reader.getFooter.getBlocks.asScala
          (blocks.size.toLong, blocks.map(_.getRowCount).sum)
        } finally reader.close()
      }
      Seq((files.length.toLong, perFile.map(_._1).sum, perFile.map(_._2).sum))
        .toDF("n_files", "n_row_groups", "meta_rows")
    },
    Some("""SELECT 4::BIGINT AS n_files, 4::BIGINT AS n_row_groups,
                   CAST(COUNT(*) AS BIGINT) AS meta_rows
            FROM events"""))

  /** A fresh table root for query `q` under the scratch root, and its
    * transaction-log dir. */
  private def txnRoot(q: String): (String, String) = {
    val root = scratch(s"graft-$q")
    (root, s"$root/_log")
  }

  /** The `part` table as (key, value = 2·key) — the lakehouse queries'
    * fixture, so every oracle is residue arithmetic over part. */
  private def residueBase(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey").cast("long").as("key"),
      (col("p_partkey") * 2).cast("long").as("value"))

  /** The standard 3-residue-file (key, value=2k) data files, built ONCE
    * per (sf-dir, session) and SHARED across the lakehouse queries: txn
    * data files are immutable — each query commits the same files into
    * its OWN log, and all derived writes (DVs, merges, compactions) land
    * in per-query roots. Safe because no catalog query vacuums a log
    * referencing these files (vacuum physically deletes; specs that
    * exercise it build private fixtures). */
  private def sharedResidueFiles(s: SparkSession, dir: String): Seq[String] =
    memo(s, dir, "residue") {
      val root = scratch("graft-residue")
      val base = residueBase(s, dir)
      // disjoint-path fixture writes run overlapped (guide §2.6)
      Par.map(0 until 3)(m =>
        TxnLog.writeDataFile(base.filter(pmod(col("key"), lit(3)) === m), s"$root/m$m"))
    }

  /** A fresh txn table for query `q` (own root and log) whose v0 commits
    * the shared residue files: (root, logDir, residueBase). */
  private def residueTable(s: SparkSession, dir: String, q: String)
      : (String, String, DataFrame) = {
    val (root, logDir) = txnRoot(q)
    TxnLog.commit(logDir, 0, adds = sharedResidueFiles(s, dir), removes = Nil)
    (root, logDir, residueBase(s, dir))
  }

  /** Versioned table layout via the minimal transaction log
    * ([[graft.sources.TxnLog]] — per-commit JSON action files published by
    * atomic rename, snapshots resolved by metadata-only log replay):
    * v0 writes events as two files, v1 COMPACTS them into one (remove ×2
    * + add — contents identical), v2 appends a late-arrivals file. The
    * report reads every version AS OF its number — file counts prove the
    * layout history, row counts prove compaction moved bytes without
    * changing content and that time travel sees exactly the pre-append
    * state. Oracle derives each version's expected shape from the
    * construction arithmetic. */
  val q245_txn_log = Q(
    "q245_txn_log",
    (s, dir) => {
      import s.implicits._
      val (root, logDir) = txnRoot("q245")
      val ev = t(s, dir, "events").select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"))
      // disjoint-path fixture writes run overlapped (guide §2.6)
      val Seq(f0a, f0b) = Par.map(Seq(
        ("even", col("event_id") % 2 === 0), ("odd", col("event_id") % 2 === 1))) {
        case (name, pred) => TxnLog.writeDataFile(ev.filter(pred), s"$root/$name")
      }
      TxnLog.commit(logDir, 0, adds = Seq(f0a, f0b), removes = Nil)
      val f1 = TxnLog.writeDataFile(TxnLog.readAsOf(s, logDir, 0), s"$root/compacted")
      TxnLog.commit(logDir, 1, adds = Seq(f1), removes = Seq(f0a, f0b))
      val f2 = TxnLog.writeDataFile(ev.filter(col("event_id") % 97 === 0)
        .select((col("event_id") + 10000000L).as("event_id"), col("user_id")), s"$root/late")
      TxnLog.commit(logDir, 2, adds = Seq(f2), removes = Nil)
      // post-final-log version reads run overlapped (guide §2.6)
      Par.map(0L to 2L) { v =>
        val snap = TxnLog.readAsOf(s, logDir, v)
        (v, TxnLog.liveFiles(logDir, v).size.toLong, snap.count())
      }.toDF("version", "n_files", "n_rows")
        .select(col("version").cast("long").as("version"),
          col("n_files").cast("long").as("n_files"),
          col("n_rows").cast("long").as("n_rows"))
        .orderBy("version")
    },
    Some("""SELECT 0::BIGINT AS version, 2::BIGINT AS n_files,
                   (SELECT COUNT(*) FROM events)::BIGINT AS n_rows
            UNION ALL
            SELECT 1, 1, (SELECT COUNT(*) FROM events)
            UNION ALL
            SELECT 2, 2,
                   (SELECT COUNT(*) FROM events) +
                   (SELECT COUNT(*) FROM events WHERE event_id % 97 = 0)
            ORDER BY version"""))

  /** Bitmap-index set intersection (the roaring-bitmap pattern reduced to
    * word alignment): per event type, user-id membership packed
    * into 64-bit words (word = key div 64, bit = key mod 64 — a set's
    * 100 TB id set folds to ids/64 longs); pairwise segment overlap =
    * Σ bit_count(wordA & wordB) over the word-aligned equi-join (ids/64
    * rows per side) — the bitmap AND that replaces a row-level id join.
    * The exact row-join
    * count rides alongside (q204's fidelity convention) and must agree
    * EXACTLY — bitmaps are lossless, unlike the sketch family. */
  val q256_bitmap_index = Q(
    "q256_bitmap_index",
    (s, dir) => {
      val c = t(s, dir, "events").select(col("event_type").as("seg"),
        col("user_id").cast("long").as("k"))
      // distinct first: sum of single-bit words equals the bitwise OR only
      // when every (seg, key) contributes its bit exactly once
      val dKeys = c.distinct().localCheckpoint(true)
      val words = dKeys
        .groupBy(col("seg"), expr("k div 64").as("w"))
        .agg(sum(expr("shiftleft(1L, CAST(k % 64 AS INT))")).as("bits"))
        .localCheckpoint(true)
      val overlap = words.as("a")
        .join(words.as("b"), col("a.w") === col("b.w") && col("a.seg") < col("b.seg"))
        .groupBy(col("a.seg").as("seg1"), col("b.seg").as("seg2"))
        .agg(sum(bit_count(col("a.bits").bitwiseAND(col("b.bits")))).cast("long").as("bitmap_common"))
      val exact = dKeys.as("x").join(dKeys.as("y"),
          col("x.k") === col("y.k") && col("x.seg") < col("y.seg"))
        .groupBy(col("x.seg").as("seg1"), col("y.seg").as("seg2"))
        .agg(count(lit(1)).cast("long").as("exact_common"))
      overlap.join(exact, Seq("seg1", "seg2"), "full_outer")
        .select(col("seg1"), col("seg2"),
          coalesce(col("bitmap_common"), lit(0L)).as("bitmap_common"),
          coalesce(col("exact_common"), lit(0L)).as("exact_common"))
        .orderBy("seg1", "seg2")
    },
    Some("""WITH c AS (SELECT DISTINCT event_type AS seg, CAST(user_id AS BIGINT) AS k
                       FROM events),
              words AS (SELECT seg, k // 64 AS w,
                               -- UBIGINT: bit 63 overflows a signed shift;
                               -- the bit PATTERN matches Spark's signed sum
                               CAST(SUM(1::UBIGINT << CAST(k % 64 AS INT)) AS UBIGINT) AS bits
                        FROM c GROUP BY 1, 2),
              overlap AS (SELECT a.seg AS seg1, b.seg AS seg2,
                                 SUM(bit_count(a.bits & b.bits)) AS bitmap_common
                          FROM words a JOIN words b
                            ON a.w = b.w AND a.seg < b.seg
                          GROUP BY 1, 2),
              exact AS (SELECT x.seg AS seg1, y.seg AS seg2, COUNT(*) AS exact_common
                        FROM c x JOIN c y ON x.k = y.k AND x.seg < y.seg
                        GROUP BY 1, 2)
            SELECT COALESCE(o.seg1, e.seg1) AS seg1, COALESCE(o.seg2, e.seg2) AS seg2,
                   CAST(COALESCE(o.bitmap_common, 0) AS BIGINT) AS bitmap_common,
                   CAST(COALESCE(e.exact_common, 0) AS BIGINT) AS exact_common
            FROM overlap o FULL OUTER JOIN exact e
              ON o.seg1 = e.seg1 AND o.seg2 = e.seg2
            ORDER BY seg1, seg2"""))

  /** Dynamic partition pruning end-to-end — the star-schema scan killer at
    * 100 TB: a fact table Hive-partitioned by a dimension attribute
    * (brand), joined on that attribute to a dimension FILTERED ON A
    * DIFFERENT COLUMN, can only be pruned at RUNTIME from the dim side's
    * surviving keys — static pushdown sees no literal predicate on the
    * partition column. Spark plants a DynamicPruningSubquery on the fact
    * scan's partition filters (reusing the dim broadcast); the query pins
    * `dpp_planned` — the plan-shape contract — as data, and
    * PlanChecksSpec pins the MEASURED effect (numFiles read shrinks vs
    * the same query with DPP disabled). The construction join (attaching
    * brand to lineitem) is the query's own setup, written to scratch like
    * q190's serving table. */
  val q262_dpp = Q(
    "q262_dpp",
    (s, dir) => {
      val base = scratch("graft-q262")
      val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"))
      val part = t(s, dir, "part")
      li.join(part.select(col("p_partkey").as("l_partkey"), col("p_brand").as("brand")),
          Seq("l_partkey"))
        .write.mode("overwrite").partitionBy("brand").parquet(s"$base/fact")
      val fact = s.read.parquet(s"$base/fact")
      // the filter is on p_partkey, NOT on brand: only the runtime subquery
      // over the broadcast dim can know which brand partitions survive
      val dim = part
        .filter(col("p_partkey") % 500 === 42)
        .select(col("p_partkey").as("l_partkey"), col("p_brand").as("brand"))
      val joined = fact.join(broadcast(dim), Seq("l_partkey", "brand"))
        .groupBy(col("brand"))
        .agg(
          count(lit(1)).cast("long").as("n_rows"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
      val planned = joined.queryExecution.executedPlan.toString
        .toLowerCase(java.util.Locale.ROOT).contains("dynamicpruning")
      joined.withColumn("dpp_planned", lit(planned)).orderBy("brand")
    },
    Some("""SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty,
                   true AS dpp_planned
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_partkey % 500 = 42
            GROUP BY 1 ORDER BY 1"""))

  /** MERGE INTO (copy-on-write upsert) on the transaction-log table — the
    * flagship lakehouse write: matched keys replace their row, unmatched
    * insert, and ONLY files containing a matched key rewrite
    * ([[graft.sources.TxnLog.mergeCopyOnWrite]]). The update keys are
    * confined to one of three residue-class files by construction, so the
    * carry-over contract is pinned as data: n_carried = 2 of the 3
    * pre-merge files stay live by reference, at every SF. The pre-merge
    * snapshot stays time-travelable (version 0 row unchanged). Oracle is
    * pure key arithmetic over part. */
  val q263_merge_cow = Q(
    "q263_merge_cow",
    (s, dir) => {
      import s.implicits._
      val (root, logDir, base) = residueTable(s, dir, "q263")
      // updates: keys % 300 == 0 (all in the mod-3==0 file) replace their
      // row; keys +1e7 (new) insert
      val updates = base.filter(col("key") % 300 === 0)
        .select(col("key"), (col("key") * 1000).as("value"))
        .unionByName(base.filter(col("key") % 500 === 0)
          .select((col("key") + 10000000L).as("key"),
            ((col("key") + 10000000L) * 1000).as("value")))
      TxnLog.mergeCopyOnWrite(s, logDir, s"$root/merged", updates, "key")
      val v0Files = TxnLog.liveFiles(logDir, 0)
      // post-final-log version reads run overlapped (guide §2.6)
      Par.map(0L to 1L) { v =>
        val live = TxnLog.liveFiles(logDir, v)
        val agg = TxnLog.readAsOf(s, logDir, v)
          .agg(count(lit(1)).cast("long"), sum(col("value")).cast("long")).head()
        val carried = if (v == 0) 0L else live.intersect(v0Files).size.toLong
        (v, live.size.toLong, carried, agg.getLong(0), agg.getLong(1))
      }.toDF("version", "n_files", "n_carried", "n_rows", "sum_val")
        .orderBy("version")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
            upd AS (SELECT k FROM p WHERE k % 300 = 0),
            ins AS (SELECT k + 10000000 AS k FROM p WHERE k % 500 = 0)
            SELECT 0::BIGINT AS version, 3::BIGINT AS n_files, 0::BIGINT AS n_carried,
                   (SELECT COUNT(*) FROM p)::BIGINT AS n_rows,
                   (SELECT SUM(2 * k) FROM p)::BIGINT AS sum_val
            UNION ALL
            SELECT 1, 3, 2,
                   ((SELECT COUNT(*) FROM p) + (SELECT COUNT(*) FROM ins))::BIGINT,
                   ((SELECT SUM(2 * k) FROM p)
                   - (SELECT COALESCE(SUM(2 * k), 0) FROM upd)
                   + (SELECT COALESCE(SUM(1000 * k), 0) FROM upd)
                   + (SELECT COALESCE(SUM(1000 * k), 0) FROM ins))::BIGINT
            ORDER BY version"""))

  /** Deletion vectors — merge-on-read DELETE on the transaction-log table
    * ([[graft.sources.TxnLog.deleteMergeOnRead]]), the complement of
    * q263's copy-on-write: matching rows of the VISIBLE snapshot record as
    * (file, row-position) pairs in a metadata commit; no data file is
    * rewritten, scans apply the vectors as one anti-join. Write cost ∝
    * deleted-row count, not table size — the GDPR-erasure / retraction
    * path on a trillion-row table. Two successive deletes pin the
    * visible-snapshot semantics: the second vector records only NEWLY
    * killed rows (overlap excluded), and every version stays
    * time-travelable with its own visibility. Oracle is residue arithmetic
    * over part. */
  val q264_delete_vectors = Q(
    "q264_delete_vectors",
    (s, dir) => {
      import s.implicits._
      val (root, logDir, _) = residueTable(s, dir, "q264")
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv1", col("key") % 7 === 0)
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv2", col("key") % 11 === 0)
      // post-final-log version reads run overlapped (guide §2.6)
      Par.map(0L to 2L) { v =>
        val agg = TxnLog.readAsOfWithDeletes(s, logDir, v)
          .agg(count(lit(1)).cast("long"), coalesce(sum(col("value")), lit(0L)).cast("long"))
          .head()
        val dvs = TxnLog.dvFiles(logDir, v).toSeq.sorted
        val nDv = if (dvs.isEmpty) 0L else s.read.parquet(dvs: _*).count()
        (v, TxnLog.liveFiles(logDir, v).size.toLong, agg.getLong(0), agg.getLong(1), nDv)
      }.toDF("version", "n_files", "n_visible", "sum_visible", "n_dv_entries")
        .orderBy("version")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part)
            SELECT 0::BIGINT AS version, 3::BIGINT AS n_files,
                   (SELECT COUNT(*) FROM p)::BIGINT AS n_visible,
                   (SELECT SUM(2 * k) FROM p)::BIGINT AS sum_visible,
                   0::BIGINT AS n_dv_entries
            UNION ALL
            SELECT 1, 3,
                   (SELECT COUNT(*) FROM p WHERE k % 7 != 0)::BIGINT,
                   (SELECT COALESCE(SUM(2 * k), 0) FROM p WHERE k % 7 != 0)::BIGINT,
                   (SELECT COUNT(*) FROM p WHERE k % 7 = 0)::BIGINT
            UNION ALL
            SELECT 2, 3,
                   (SELECT COUNT(*) FROM p WHERE k % 7 != 0 AND k % 11 != 0)::BIGINT,
                   (SELECT COALESCE(SUM(2 * k), 0) FROM p WHERE k % 7 != 0 AND k % 11 != 0)::BIGINT,
                   ((SELECT COUNT(*) FROM p WHERE k % 7 = 0)
                    + (SELECT COUNT(*) FROM p WHERE k % 11 = 0 AND k % 7 != 0))::BIGINT
            ORDER BY version"""))

  /** VACUUM / snapshot expiration on the transaction-log table
    * ([[graft.sources.TxnLog.vacuum]]) — the admin op that keeps a
    * versioned table from growing forever: data files referenced ONLY by
    * expired versions physically delete (here the pre-compaction
    * originals), retained versions read unchanged, and an expired-version
    * read refuses naming the oldest retained version (watermark published
    * before the deletes, so a racing reader can never see a half-deleted
    * snapshot). Completes the lakehouse write lifecycle:
    * append/compact (q245) → CoW merge (q263) → DV delete (q264) →
    * expire (q265). */
  val q265_vacuum = Q(
    "q265_vacuum",
    (s, dir) => {
      import s.implicits._
      val (root, logDir) = txnRoot("q265")
      val ev = t(s, dir, "events").select(
        col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"))
      // disjoint-path fixture writes run overlapped (guide §2.6)
      val Seq(f0a, f0b) = Par.map(Seq(
        ("even", col("event_id") % 2 === 0), ("odd", col("event_id") % 2 === 1))) {
        case (name, pred) => TxnLog.writeDataFile(ev.filter(pred), s"$root/$name")
      }
      TxnLog.commit(logDir, 0, adds = Seq(f0a, f0b), removes = Nil)
      val f1 = TxnLog.writeDataFile(TxnLog.readAsOf(s, logDir, 0), s"$root/compacted")
      TxnLog.commit(logDir, 1, adds = Seq(f1), removes = Seq(f0a, f0b))
      val f2 = TxnLog.writeDataFile(ev.filter(col("event_id") % 97 === 0), s"$root/late")
      TxnLog.commit(logDir, 2, adds = Seq(f2), removes = Nil)
      val deleted = TxnLog.vacuum(logDir, 1)
      val v0Refused =
        try { TxnLog.readAsOf(s, logDir, 0); false }
        catch { case _: IllegalArgumentException => true }
      Seq((
        deleted.size.toLong,
        TxnLog.retainedFrom(logDir),
        TxnLog.liveFiles(logDir, 2).size.toLong,
        TxnLog.readAsOf(s, logDir, 2).count(),
        deleted.forall(f => !new java.io.File(f).exists()),
        v0Refused))
        .toDF("n_deleted", "oldest_retained", "n_files_latest", "n_rows_latest",
          "files_gone", "v0_refused")
    },
    Some("""SELECT 2::BIGINT AS n_deleted, 1::BIGINT AS oldest_retained,
                   2::BIGINT AS n_files_latest,
                   ((SELECT COUNT(*) FROM events)
                    + (SELECT COUNT(*) FROM events WHERE event_id % 97 = 0))::BIGINT AS n_rows_latest,
                   true AS files_gone, true AS v0_refused"""))

  /** Change data feed across the lakehouse lifecycle
    * ([[graft.sources.TxnLog.changesBetween]]): the row-level delta
    * between two versions derived from the FILE-level log diff — only
    * files that changed hands (plus files hit by new deletion vectors)
    * are read, so CDF cost scales with the change, not the table. The
    * window spans a copy-on-write merge AND a DV delete: updates emit as
    * delete+insert pairs, carried rows rewritten verbatim cancel in the
    * content-level EXCEPT ALL, transient rows (inserted by the merge,
    * killed by the later DV) emit nothing. Oracle is residue arithmetic
    * over part. */
  val q266_change_feed = Q(
    "q266_change_feed",
    (s, dir) => {
      val (root, logDir, base) = residueTable(s, dir, "q266")
      // v1: CoW merge — value 1000k+1 (odd) can never equal an original 2k
      val updates = base.filter(col("key") % 300 === 0)
        .select(col("key"), (col("key") * 1000 + 1).as("value"))
        .unionByName(base.filter(col("key") % 500 === 0)
          .select((col("key") + 10000000L).as("key"),
            ((col("key") + 10000000L) * 1000 + 1).as("value")))
      TxnLog.mergeCopyOnWrite(s, logDir, s"$root/merged", updates, "key")
      // v2: DV delete of every visible key % 7 == 0
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv", col("key") % 7 === 0)
      TxnLog.changesBetween(s, logDir, 0, 2)
        .groupBy(col("change_type"))
        .agg(
          count(lit(1)).cast("long").as("n_rows"),
          sum(col("value")).cast("long").as("sum_value"))
        .orderBy("change_type")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
            ins AS (SELECT k + 10000000 AS nk FROM p WHERE k % 500 = 0)
            SELECT 'delete' AS change_type,
                   ((SELECT COUNT(*) FROM p WHERE k % 300 = 0)
                    + (SELECT COUNT(*) FROM p WHERE k % 7 = 0 AND k % 300 != 0))::BIGINT AS n_rows,
                   ((SELECT COALESCE(SUM(2 * k), 0) FROM p WHERE k % 300 = 0)
                    + (SELECT COALESCE(SUM(2 * k), 0) FROM p WHERE k % 7 = 0 AND k % 300 != 0))::BIGINT AS sum_value
            UNION ALL
            SELECT 'insert',
                   ((SELECT COUNT(*) FROM p WHERE k % 300 = 0 AND k % 7 != 0)
                    + (SELECT COUNT(*) FROM ins WHERE nk % 7 != 0))::BIGINT,
                   ((SELECT COALESCE(SUM(1000 * k + 1), 0) FROM p WHERE k % 300 = 0 AND k % 7 != 0)
                    + (SELECT COALESCE(SUM(1000 * nk + 1), 0) FROM ins WHERE nk % 7 != 0))::BIGINT
            ORDER BY change_type"""))

  /** Streaming lakehouse sink — exactly-once micro-batch ingest into the
    * transaction-log table ([[graft.sources.TxnLog.appendBatch]]):
    * Structured Streaming replays a failed micro-batch with the SAME batch
    * id, so the sink records the id as a commit marker and skips
    * already-committed ids — table-level idempotence, proven here by
    * re-delivering the last batch after the drain (a no-op, version count
    * unchanged). Every micro-batch lands as its own time-travelable
    * version; the final snapshot equals the batch source exactly. */
  val q267_stream_txn_sink = Q(
    "q267_stream_txn_sink",
    (s, dir) => {
      import s.implicits._
      import graft.sources.TxnLog
      val raw = s.read.parquet(s"$dir/events.parquet")
      val base = scratch("graft-q267")
      val srcDir = s"$base/src"
      raw.select(col("event_id"), col("user_id")).repartition(4, col("event_id"))
        .write.parquet(srcDir)
      val logDir = s"$base/_log"
      val dataDir = s"$base/data"
      val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = scopedStreamStart(s)(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          TxnLog.appendBatch(logDir, dataDir, batch.toDF(), id)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      q.awaitTermination()
      val versionsAfterDrain = TxnLog.latestVersion(logDir).get + 1
      // a replayed batch (same id) must be a table-level no-op
      val retried = TxnLog.appendBatch(
        logDir, dataDir, raw.select(col("event_id"), col("user_id")).limit(5), 3L)
      val versionsAfterRetry = TxnLog.latestVersion(logDir).get + 1
      val table = TxnLog.readAsOf(s, logDir, versionsAfterRetry - 1)
      Seq((
        versionsAfterDrain,
        table.count(),
        !retried && versionsAfterRetry == versionsAfterDrain,
        TxnLog.committedBatchIds(logDir).size.toLong))
        .toDF("n_versions", "n_rows", "retry_noop", "n_batches")
    },
    Some("""SELECT 4::BIGINT AS n_versions,
                   (SELECT COUNT(*) FROM events)::BIGINT AS n_rows,
                   true AS retry_noop, 4::BIGINT AS n_batches"""))

  /** Value-level secondary index vs min/max manifest
    * ([[graft.sources.Skipping.buildValueIndex]] / `readKeys`): on a
    * high-cardinality key the layout is NOT clustered by, every file's
    * [min, max] covers everything — the manifest opens all 8 files — while
    * the inverted (key → file) index opens exactly the files containing
    * the looked-up keys (3 of 8 here). Both file counts, the row count,
    * and the sum are pinned; the oracle replays the file layout through
    * residue arithmetic (file r holds l_orderkey ≡ r mod 8). */
  val q268_value_index = Q(
    "q268_value_index",
    (s, dir) => {
      import s.implicits._
      import graft.sources.Skipping
      val root = scratch("graft-q268")
      val flat = s"$root/table"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(flat))
      val li = t(s, dir, "lineitem").select(
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("k"),
        pmod(col("l_orderkey"), lit(8)).cast("int").as("r"),
        col("l_quantity"))
      // one partitioned write builds all 8 files, then they flatten
      li.repartition(8, col("r"))
        .write.partitionBy("r").mode("overwrite").parquet(s"$root/base")
      (0 until 8).foreach { r =>
        val part = new java.io.File(s"$root/base/r=$r").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(flat, s"r$r.parquet"))
      }
      val manifest = Skipping.buildManifest(s, flat, "k").localCheckpoint(true)
      val index = Skipping.buildValueIndex(s, flat, "k").localCheckpoint(true)
      val keys = Seq(8L * 8 + 1, 17L * 8 + 1, 26L * 8 + 1)
      val manifestOpens = manifest
        .filter(keys.map(k => col("min_v") <= k && col("max_v") >= k).reduce(_ || _))
        .count()
      val (idxFiles, hits) = Skipping.readKeys(s, flat, index, "k", keys)
      val agg = hits
        .agg(count(lit(1)).cast("long"),
          coalesce(sum(col("l_quantity")), lit(0.0)).cast("long")).head()
      Seq((8L, manifestOpens, idxFiles.size.toLong, agg.getLong(0), agg.getLong(1)))
        .toDF("n_files_total", "n_files_manifest", "n_files_index", "n_rows", "sum_qty")
    },
    Some("""WITH li AS (SELECT l_orderkey * 8 + l_linenumber AS k,
                               l_orderkey % 8 AS r, l_quantity FROM lineitem),
            keys(k) AS (VALUES (8*8+1), (17*8+1), (26*8+1)),
            stats AS (SELECT r, MIN(k) AS mn, MAX(k) AS mx FROM li GROUP BY 1)
            SELECT 8::BIGINT AS n_files_total,
                   (SELECT COUNT(DISTINCT s.r) FROM stats s
                    JOIN keys ky ON ky.k BETWEEN s.mn AND s.mx)::BIGINT AS n_files_manifest,
                   (SELECT COUNT(DISTINCT r) FROM li JOIN keys USING (k))::BIGINT AS n_files_index,
                   (SELECT COUNT(*) FROM li JOIN keys USING (k))::BIGINT AS n_rows,
                   (SELECT CAST(COALESCE(SUM(l_quantity), 0) AS BIGINT)
                    FROM li JOIN keys USING (k)) AS sum_qty"""))

  /** Per-file Bloom skipping ([[graft.sources.Skipping.buildBloomIndex]] /
    * `readKeysBloom`) — completes the skipping triad beside q194's range
    * manifest and q268's exact value index: fixed bytes per file at any
    * key cardinality, never a false negative (no lost rows — pinned
    * against the full-scan truth), occasionally a false-positive open.
    * Same anti-clustered layout as q268; the oracle replays
    * xxhash64 → splitmix64 stride → 5 wrapping probe positions per
    * (file, key) bit-for-bit, so `n_files_bloom` is value-exact even when
    * a false positive occurs. */
  val q269_bloom_skipping = Q(
    "q269_bloom_skipping",
    (s, dir) => {
      import s.implicits._
      import graft.sources.Skipping
      val root = scratch("graft-q269")
      val flat = s"$root/table"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(flat))
      val li = t(s, dir, "lineitem").select(
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("k"),
        pmod(col("l_orderkey"), lit(8)).cast("int").as("r"),
        col("l_quantity"))
      // one partitioned write builds all 8 files, then they flatten
      li.repartition(8, col("r"))
        .write.partitionBy("r").mode("overwrite").parquet(s"$root/base")
      (0 until 8).foreach { r =>
        val part = new java.io.File(s"$root/base/r=$r").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(flat, s"r$r.parquet"))
      }
      val index = Skipping.buildBloomIndex(s, flat, "k", numBits = 1L << 20)
        .localCheckpoint(true)
      val keys = Seq(8L * 8 + 1, 17L * 8 + 1, 26L * 8 + 1)
      val (bloomFiles, hits) = Skipping.readKeysBloom(s, flat, index, "k", keys)
      val agg = hits
        .agg(count(lit(1)).cast("long"),
          coalesce(sum(col("l_quantity")), lit(0.0)).cast("long")).head()
      val truth = li.filter(col("k").isin(keys.map(Long.box): _*))
        .agg(count(lit(1)).cast("long")).head().getLong(0)
      Seq((8L, bloomFiles.size.toLong, agg.getLong(0), agg.getLong(1),
        agg.getLong(0) == truth))
        .toDF("n_files_total", "n_files_bloom", "n_rows", "sum_qty", "no_false_negative")
    },
    Some {
      import graft.tools.OracleSql._
      val C1 = BigInt("9E3779B97F4A7C15", 16)
      val C2 = BigInt("BF58476D1CE4E5B9", 16)
      val C3 = BigInt("94D049BB133111EB", 16)
      val Mask = (1L << 20) - 1
      // splitmix64 stride + 5 wrapping probe positions over a relation
      // exposing UBIGINT `u` (extra columns pass through the stages)
      def probeStages(rel: String, pfx: String): String = {
        var q = rel
        def wrap(expr: String, c: String): Unit = { q = s"SELECT *, $expr AS $c FROM ($q)" }
        wrap(addModSql("u", C1.toString), s"${pfx}z0")
        wrap(mulConstSql(s"xor(${pfx}z0, ${pfx}z0 >> 30)", C2), s"${pfx}z1")
        wrap(mulConstSql(s"xor(${pfx}z1, ${pfx}z1 >> 27)", C3), s"${pfx}z2")
        wrap(s"xor(${pfx}z2, ${pfx}z2 >> 31)", s"${pfx}mx")
        wrap(s"${pfx}mx | 1", s"${pfx}h2")
        wrap("u", s"${pfx}p0")
        (1 to 4).foreach(i => wrap(addModSql(s"${pfx}p${i - 1}", s"${pfx}h2"), s"${pfx}p$i"))
        wrap((0 to 4).map(i => s"${pfx}p$i & $Mask").mkString("[", ", ", "]"), s"${pfx}plist")
        q
      }
      val fileKeys = xxhash64LongStages(
        "SELECT l_orderkey * 8 + l_linenumber AS kk, l_orderkey % 8 AS r FROM lineitem",
        "kk", "key", pfx = "__fk")
      val lookupKeys = xxhash64LongStages(
        "SELECT * FROM (VALUES (8*8+1), (17*8+1), (26*8+1)) t(kk)",
        "kk", "key", pfx = "__lk")
      s"""WITH li AS (SELECT l_orderkey * 8 + l_linenumber AS kk,
                             l_orderkey % 8 AS r, l_quantity FROM lineitem),
            fpos AS MATERIALIZED (
              SELECT DISTINCT r, unnest(__fpplist) AS pos FROM (
                ${probeStages(s"SELECT ${unsignedOf("key")} AS u, r FROM ($fileKeys)", "__fp")})),
            lpos AS MATERIALIZED (
              SELECT kk, unnest(__lpplist) AS pos FROM (
                ${probeStages(s"SELECT ${unsignedOf("key")} AS u, kk FROM ($lookupKeys)", "__lp")})),
            ltot AS (SELECT kk, COUNT(DISTINCT pos) AS t FROM lpos GROUP BY 1),
            opens AS (
              SELECT f.r, l.kk, COUNT(DISTINCT l.pos) AS nhit
              FROM lpos l JOIN fpos f USING (pos)
              GROUP BY 1, 2),
            -- a key's 5 probes can collide onto fewer distinct positions:
            -- bloom-positive iff EVERY distinct position is set, so compare
            -- against the key's own distinct-position count, never literal 5
            bloomfiles AS (
              SELECT DISTINCT o.r FROM opens o JOIN ltot USING (kk)
              WHERE o.nhit = ltot.t),
            matched AS (SELECT * FROM li WHERE kk IN (8*8+1, 17*8+1, 26*8+1))
          SELECT 8::BIGINT AS n_files_total,
                 (SELECT COUNT(*) FROM bloomfiles)::BIGINT AS n_files_bloom,
                 (SELECT COUNT(*) FROM matched)::BIGINT AS n_rows,
                 (SELECT CAST(COALESCE(SUM(l_quantity), 0) AS BIGINT) FROM matched) AS sum_qty,
                 true AS no_false_negative"""
    })

  /** OPTIMIZE ZORDER BY through the transaction log
    * ([[graft.operators.Zorder.optimizeTable]]) — the layout half of the
    * lakehouse story the write ops (q263–q267) leave open: an
    * anti-clustered table (every file's (x, y) box covers the whole
    * domain → box-stat skipping opens all 8 files) rewrites into 8
    * Morton-clustered files in one atomic commit, after which the same
    * rectangle query's stats open a strict subset. Both open counts
    * replay in the oracle: exact rank bucketing over the interleave makes
    * every post-optimize file's bounds pure arithmetic (z ↔ (x,y) is
    * bijective, so equal-z ties are content-identical). */
  val q270_optimize_zorder = Q(
    "q270_optimize_zorder",
    (s, dir) => {
      import s.implicits._
      val (root, logDir) = txnRoot("q270")
      // bounded corpus: optimizeTable's exact-rank assignment is a single
      // window at catalog scale (the scaladoc spells the distributed-rank
      // 100 TB form) — a quarter of lineitem exercises identical semantics
      val g = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 0)
        .select(
          (col("l_partkey") % 1024).cast("long").as("x"),
          (col("l_orderkey") % 1024).cast("long").as("y"),
          // surviving orderkeys are all ≡ 0 (mod 4) — shift before the
          // residue so the 8 anti-clustered files stay balanced
          pmod(expr("l_orderkey div 4"), lit(8)).cast("int").as("r"))
      // one partitioned write builds all 8 anti-clustered files
      g.repartition(8, col("r"))
        .write.partitionBy("r").mode("overwrite").parquet(s"$root/base")
      val fs = (0 until 8).map { m =>
        new java.io.File(s"$root/base/r=$m").listFiles()
          .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
      }
      TxnLog.commit(logDir, 0, adds = fs, removes = Nil)
      val v1 = graft.operators.Zorder.optimizeTable(
        s, logDir, s"$root/opt", "x", "y", bits = 10, numFiles = 8)
      def boxOpens(v: Long): Long = {
        val live = TxnLog.liveFiles(logDir, v).toSeq.sorted
        s.read.parquet(live: _*)
          .groupBy(input_file_name())
          .agg(min(col("x")).as("mnx"), max(col("x")).as("mxx"),
            min(col("y")).as("mny"), max(col("y")).as("mxy"))
          .filter(col("mnx") <= 180 && col("mxx") >= 90 &&
            col("mny") <= 280 && col("mxy") >= 200)
          .count()
      }
      // three independent post-optimize reads run overlapped (guide §2.6)
      val Seq(before, after, rect) = Par.map(Seq(0, 1, 2)) {
        case 0 => boxOpens(0)
        case 1 => boxOpens(v1)
        case _ => TxnLog.readAsOf(s, logDir, v1)
          .filter(col("x").between(90, 180) && col("y").between(200, 280)).count()
      }
      Seq((TxnLog.liveFiles(logDir, v1).size.toLong, before, after, rect, after < before))
        .toDF("n_files", "opens_before", "opens_after", "n_rows_rect", "pruned")
    },
    Some {
      val zterms = (0 until 10)
        .map(b => s"((x >> $b) & 1) * ${1L << (2 * b)} + ((y >> $b) & 1) * ${1L << (2 * b + 1)}")
        .mkString(" + ")
      s"""WITH g AS (SELECT CAST(l_partkey % 1024 AS BIGINT) AS x,
                            CAST(l_orderkey % 1024 AS BIGINT) AS y,
                            (l_orderkey // 4) % 8 AS r FROM lineitem
                     WHERE l_orderkey % 4 = 0),
          z AS (SELECT x, y, CAST($zterms AS BIGINT) AS z FROM g),
          zb AS (SELECT x, y,
                        ((ROW_NUMBER() OVER (ORDER BY z) - 1) * 8)
                          // (SELECT COUNT(*) FROM g) AS b
                 FROM z),
          pre AS (SELECT r, MIN(x) mnx, MAX(x) mxx, MIN(y) mny, MAX(y) mxy FROM g GROUP BY 1),
          post AS (SELECT b, MIN(x) mnx, MAX(x) mxx, MIN(y) mny, MAX(y) mxy FROM zb GROUP BY 1)
          SELECT 8::BIGINT AS n_files,
                 (SELECT COUNT(*) FROM pre
                  WHERE mnx <= 180 AND mxx >= 90 AND mny <= 280 AND mxy >= 200)::BIGINT AS opens_before,
                 (SELECT COUNT(*) FROM post
                  WHERE mnx <= 180 AND mxx >= 90 AND mny <= 280 AND mxy >= 200)::BIGINT AS opens_after,
                 (SELECT COUNT(*) FROM g
                  WHERE x BETWEEN 90 AND 180 AND y BETWEEN 200 AND 280)::BIGINT AS n_rows_rect,
                 ((SELECT COUNT(*) FROM post
                   WHERE mnx <= 180 AND mxx >= 90 AND mny <= 280 AND mxy >= 200)
                  < (SELECT COUNT(*) FROM pre
                     WHERE mnx <= 180 AND mxx >= 90 AND mny <= 280 AND mxy >= 200)) AS pruned"""
    })

  /** Schema evolution on the transaction-log table: a later commit adds
    * files carrying a NEW column, and every snapshot read presents the
    * union schema — pre-evolution rows read the added column as null (the
    * Delta/Iceberg add-column semantics, no rewrite of old files). A
    * copy-on-write merge ON the evolved table then proves the write path
    * composes: survivors from pre-evolution files null-fill the new
    * column, updates carry real values, and the pre-evolution version
    * stays time-travelable with its ORIGINAL 2-column schema. Oracle is
    * key arithmetic over part. */
  val q271_schema_evolution = Q(
    "q271_schema_evolution",
    (s, dir) => {
      import s.implicits._
      val (root, logDir) = txnRoot("q271")
      val base = residueBase(s, dir)
      TxnLog.commit(logDir, 0, adds = Seq(TxnLog.writeDataFile(base, s"$root/v0")), removes = Nil)
      // v1: append rows WITH a new column w — schema widens, no rewrite
      val widened = base.filter(col("key") % 250 === 0)
        .select((col("key") + 20000000L).as("key"),
          (col("key") * 2).as("value"), (col("key") * 3).as("w"))
      TxnLog.commit(logDir, 1, adds = Seq(TxnLog.writeDataFile(widened, s"$root/v1")), removes = Nil)
      // v2: CoW merge on the evolved table (updates carry the full schema)
      val updates = base.filter(col("key") % 400 === 0)
        .select(col("key"), (col("key") * 5).as("value"), (col("key") * 7).as("w"))
      TxnLog.mergeCopyOnWrite(s, logDir, s"$root/merged", updates, "key")
      // post-final-log version reads run overlapped (guide §2.6)
      Par.map(0L to 2L) { v =>
        val snap = TxnLog.readAsOf(s, logDir, v)
        val withW = if (snap.columns.contains("w")) snap
          else snap.withColumn("w", lit(null).cast("long"))
        val agg = withW.agg(
          count(lit(1)).cast("long"),
          sum(when(col("w").isNull, 1L).otherwise(0L)).cast("long"),
          coalesce(sum(col("w")), lit(0L)).cast("long")).head()
        (v, snap.columns.length.toLong, agg.getLong(0), agg.getLong(1), agg.getLong(2))
      }.toDF("version", "n_cols", "n_rows", "n_null_w", "sum_w")
        .orderBy("version")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
            app AS (SELECT k FROM p WHERE k % 250 = 0),
            upd AS (SELECT k FROM p WHERE k % 400 = 0)
            SELECT 0::BIGINT AS version, 2::BIGINT AS n_cols,
                   (SELECT COUNT(*) FROM p)::BIGINT AS n_rows,
                   (SELECT COUNT(*) FROM p)::BIGINT AS n_null_w,
                   0::BIGINT AS sum_w
            UNION ALL
            SELECT 1, 3,
                   ((SELECT COUNT(*) FROM p) + (SELECT COUNT(*) FROM app))::BIGINT,
                   (SELECT COUNT(*) FROM p)::BIGINT,
                   (SELECT COALESCE(SUM(3 * k), 0) FROM app)::BIGINT
            UNION ALL
            SELECT 2, 3,
                   ((SELECT COUNT(*) FROM p) + (SELECT COUNT(*) FROM app))::BIGINT,
                   ((SELECT COUNT(*) FROM p) - (SELECT COUNT(*) FROM upd))::BIGINT,
                   ((SELECT COALESCE(SUM(3 * k), 0) FROM app)
                    + (SELECT COALESCE(SUM(7 * k), 0) FROM upd))::BIGINT
            ORDER BY version"""))

  /** RESTORE TABLE TO VERSION ([[graft.sources.TxnLog.restore]]) — the
    * rollback half of time travel: after a DV delete and a copy-on-write
    * merge, ONE metadata commit returns the head to the version-0 state —
    * old files re-enter by reference, the merge's file un-references, and
    * the deletion vector UN-BINDS (a `dvdrop` action), so rows it killed
    * are visible again. Zero data IO at any table size; every intermediate
    * version stays time-travelable with its own visibility. Oracle is
    * residue arithmetic over part. */
  val q272_restore = Q(
    "q272_restore",
    (s, dir) => {
      import s.implicits._
      val (root, logDir, base) = residueTable(s, dir, "q272")
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv1", col("key") % 7 === 0)
      val updates = base.filter(col("key") % 300 === 0)
        .select(col("key"), (col("key") * 1000).as("value"))
      TxnLog.mergeCopyOnWrite(s, logDir, s"$root/merged", updates, "key")
      TxnLog.restore(s, logDir, 0)
      // post-final-log version reads run overlapped (guide §2.6)
      Par.map(0L to 3L) { v =>
        val agg = TxnLog.readAsOfWithDeletes(s, logDir, v)
          .agg(count(lit(1)).cast("long"), coalesce(sum(col("value")), lit(0L)).cast("long"))
          .head()
        (v, TxnLog.liveFiles(logDir, v).size.toLong, TxnLog.dvFiles(logDir, v).size.toLong,
          agg.getLong(0), agg.getLong(1))
      }.toDF("version", "n_files", "n_dv_bound", "n_visible", "sum_visible")
        .orderBy("version")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part)
            SELECT 0::BIGINT AS version, 3::BIGINT AS n_files, 0::BIGINT AS n_dv_bound,
                   (SELECT COUNT(*) FROM p)::BIGINT AS n_visible,
                   (SELECT SUM(2 * k) FROM p)::BIGINT AS sum_visible
            UNION ALL
            SELECT 1, 3, 1,
                   (SELECT COUNT(*) FROM p WHERE k % 7 != 0)::BIGINT,
                   (SELECT COALESCE(SUM(2 * k), 0) FROM p WHERE k % 7 != 0)::BIGINT
            UNION ALL
            SELECT 2, 3, 1,
                   ((SELECT COUNT(*) FROM p WHERE k % 7 != 0)
                    - (SELECT COUNT(*) FROM p WHERE k % 300 = 0 AND k % 7 != 0)
                    + (SELECT COUNT(*) FROM p WHERE k % 300 = 0))::BIGINT,
                   ((SELECT COALESCE(SUM(2 * k), 0) FROM p WHERE k % 7 != 0)
                    - (SELECT COALESCE(SUM(2 * k), 0) FROM p WHERE k % 300 = 0 AND k % 7 != 0)
                    + (SELECT COALESCE(SUM(1000 * k), 0) FROM p WHERE k % 300 = 0))::BIGINT
            UNION ALL
            SELECT 3, 3, 0,
                   (SELECT COUNT(*) FROM p)::BIGINT,
                   (SELECT SUM(2 * k) FROM p)::BIGINT
            ORDER BY version"""))

  /** Optimistic concurrency on the transaction-log table
    * ([[graft.sources.TxnLog.commitOptimistic]] — the Delta/Iceberg
    * commit protocol over an atomic put-if-absent): writers A and B both
    * prepared rewrites against version 0 touching DIFFERENT files — A
    * lands v1, B detects the lost version race, finds no semantic
    * conflict (disjoint files) and REBASES to v2; writer C's rewrite
    * targets the file A already replaced — stale decision → conflict
    * ABORT, table unchanged. Blind appends always compose; only
    * overlapping rewrites abort. Oracle is residue arithmetic. */
  val q273_concurrent_writers = Q(
    "q273_concurrent_writers",
    (s, dir) => {
      import s.implicits._
      val (root, logDir, base) = residueTable(s, dir, "q273")
      val fs = sharedResidueFiles(s, dir)
      // disjoint-path fixture writes run overlapped (guide §2.6)
      val Seq(m0a, m1b) = Par.map(Seq(
        ("m0a", 0, 10L), ("m1b", 1, 100L))) { case (name, res, mult) =>
        TxnLog.writeDataFile(base.filter(col("key") % 3 === res)
          .select(col("key"), (col("key") * mult).as("value")), s"$root/$name")
      }
      val (vA, _) = TxnLog.commitOptimistic(s, logDir, 0, Seq(m0a), Seq(fs(0)))
      val (vB, _) = TxnLog.commitOptimistic(s, logDir, 0, Seq(m1b), Seq(fs(1)))
      val cConflict =
        try { TxnLog.commitOptimistic(s, logDir, 0, Nil, Seq(fs(0))); false }
        catch { case _: java.util.ConcurrentModificationException => true }
      val head = TxnLog.latestVersion(logDir).get
      // post-final-log version reads run overlapped (guide §2.6)
      Par.map(Seq(("a", vA, false), ("b", vB, false), ("c", head, cConflict))) {
        case (w, v, conflict) =>
          val agg = TxnLog.readAsOf(s, logDir, v)
            .agg(count(lit(1)).cast("long"), sum(col("value")).cast("long")).head()
          (w, v, conflict, TxnLog.liveFiles(logDir, v).size.toLong,
            agg.getLong(0), agg.getLong(1))
      }.toDF("writer", "version", "conflict", "n_files", "n_rows", "sum_value")
        .orderBy("writer")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part)
            SELECT 'a' AS writer, 1::BIGINT AS version, false AS conflict,
                   3::BIGINT AS n_files, (SELECT COUNT(*) FROM p)::BIGINT AS n_rows,
                   ((SELECT COALESCE(SUM(10 * k), 0) FROM p WHERE k % 3 = 0)
                    + (SELECT COALESCE(SUM(2 * k), 0) FROM p WHERE k % 3 != 0))::BIGINT AS sum_value
            UNION ALL
            SELECT 'b', 2, false, 3, (SELECT COUNT(*) FROM p)::BIGINT,
                   ((SELECT COALESCE(SUM(10 * k), 0) FROM p WHERE k % 3 = 0)
                    + (SELECT COALESCE(SUM(100 * k), 0) FROM p WHERE k % 3 = 1)
                    + (SELECT COALESCE(SUM(2 * k), 0) FROM p WHERE k % 3 = 2))::BIGINT
            UNION ALL
            SELECT 'c', 2, true, 3, (SELECT COUNT(*) FROM p)::BIGINT,
                   ((SELECT COALESCE(SUM(10 * k), 0) FROM p WHERE k % 3 = 0)
                    + (SELECT COALESCE(SUM(100 * k), 0) FROM p WHERE k % 3 = 1)
                    + (SELECT COALESCE(SUM(2 * k), 0) FROM p WHERE k % 3 = 2))::BIGINT
            ORDER BY writer"""))

  /** Shallow clone ([[graft.sources.TxnLog.shallowClone]]) — a zero-copy
    * table fork: the clone's version 0 references the source's live files
    * AND deletion vectors at clone time (n_shared pins the by-reference
    * contract), then the two tables evolve independently — a CoW merge on
    * the clone rewrites one file (source untouched), an append on the
    * source leaves the clone unchanged. The dev/test-table-from-prod
    * affordance at 100 TB: fork cost is one metadata commit. Oracle is
    * residue arithmetic. */
  val q274_shallow_clone = Q(
    "q274_shallow_clone",
    (s, dir) => {
      import s.implicits._
      val (root, logDir, base) = residueTable(s, dir, "q274")
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv1", col("key") % 7 === 0)
      val cloneLog = s"$root/_clone"
      TxnLog.shallowClone(logDir, cloneLog, 1)
      // clone diverges: CoW merge confined to the mod-3==0 file
      val updates = base.filter(col("key") % 300 === 0)
        .select(col("key"), (col("key") * 9).as("value"))
      TxnLog.mergeCopyOnWrite(s, cloneLog, s"$root/cmerged", updates, "key")
      // source diverges: plain append
      val appended = TxnLog.writeDataFile(base.filter(col("key") % 500 === 0)
        .select((col("key") + 10000000L).as("key"), (col("key") * 3).as("value")), s"$root/srcadd")
      TxnLog.commit(logDir, 2, adds = Seq(appended), removes = Nil)
      val srcAtClone = TxnLog.liveFiles(logDir, 1)
      // post-final-log version reads run overlapped (guide §2.6)
      Par.map(Seq(("clone", cloneLog, 0L), ("clone", cloneLog, 1L),
        ("src", logDir, 1L), ("src", logDir, 2L))) { case (tbl, log, v) =>
        val agg = TxnLog.readAsOfWithDeletes(s, log, v)
          .agg(count(lit(1)).cast("long"), coalesce(sum(col("value")), lit(0L)).cast("long"))
          .head()
        val live = TxnLog.liveFiles(log, v)
        (tbl, v, live.size.toLong, live.intersect(srcAtClone).size.toLong,
          agg.getLong(0), agg.getLong(1))
      }.toDF("tbl", "version", "n_files", "n_shared", "n_visible", "sum_visible")
        .orderBy("tbl", "version")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
            vis AS (SELECT k FROM p WHERE k % 7 != 0)
            SELECT 'clone' AS tbl, 0::BIGINT AS version, 3::BIGINT AS n_files, 3::BIGINT AS n_shared,
                   (SELECT COUNT(*) FROM vis)::BIGINT AS n_visible,
                   (SELECT COALESCE(SUM(2 * k), 0) FROM vis)::BIGINT AS sum_visible
            UNION ALL
            SELECT 'clone', 1, 3, 2,
                   ((SELECT COUNT(*) FROM vis)
                    - (SELECT COUNT(*) FROM vis WHERE k % 300 = 0)
                    + (SELECT COUNT(*) FROM p WHERE k % 300 = 0))::BIGINT,
                   ((SELECT COALESCE(SUM(2 * k), 0) FROM vis)
                    - (SELECT COALESCE(SUM(2 * k), 0) FROM vis WHERE k % 300 = 0)
                    + (SELECT COALESCE(SUM(9 * k), 0) FROM p WHERE k % 300 = 0))::BIGINT
            UNION ALL
            SELECT 'src', 1, 3, 3,
                   (SELECT COUNT(*) FROM vis)::BIGINT,
                   (SELECT COALESCE(SUM(2 * k), 0) FROM vis)::BIGINT
            UNION ALL
            SELECT 'src', 2, 4, 3,
                   ((SELECT COUNT(*) FROM vis) + (SELECT COUNT(*) FROM p WHERE k % 500 = 0))::BIGINT,
                   ((SELECT COALESCE(SUM(2 * k), 0) FROM vis)
                    + (SELECT COALESCE(SUM(3 * k), 0) FROM p WHERE k % 500 = 0))::BIGINT
            ORDER BY tbl, version"""))

  /** Partition evolution ([[graft.sources.TxnLog.pruneByPartition]]) —
    * the Iceberg contract: the table STARTS unpartitioned (two plain
    * files), then the spec evolves and new data lands partitioned by
    * `cat`, WITHOUT rewriting a single old file. A `cat = 2` read plans
    * old-layout files (unprunable, residual-filtered) plus exactly the
    * one matching new-layout file — 3 of 6 files opened; the pruned plan
    * and the full scan agree bit-for-bit. Oracle replays the residue
    * arithmetic. */
  val q275_partition_evolution = Q(
    "q275_partition_evolution",
    (s, dir) => {
      import s.implicits._
      val (root, logDir) = txnRoot("q275")
      val base = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("key"),
        pmod(col("p_partkey").cast("long"), lit(4)).as("cat"),
        (col("p_partkey") * 2).cast("long").as("value"))
      val half = base.agg(max("key")).head.getLong(0) / 2
      // disjoint-path fixture writes run overlapped (guide §2.6)
      val old = Par.map(Seq(
        ("old0", col("key") <= half), ("old1", col("key") > half))) {
        case (name, pred) => TxnLog.writeDataFile(base.filter(pred), s"$root/$name")
      }
      TxnLog.commit(logDir, 0, adds = old, removes = Nil)
      val fresh = base.filter(col("key") % 25 === 0).select(
        (col("key") + 10000000L).as("key"), col("cat"), (col("key") * 3).as("value"))
      val parts = Par.map(0 until 4) { c =>
        TxnLog.writeDataFile(fresh.filter(col("cat") === c), s"$root/cat$c") -> s"cat=$c"
      }
      TxnLog.commit(logDir, 1, adds = parts.map(_._1), removes = Nil,
        partitions = parts.toMap)
      val planned = TxnLog.pruneByPartition(logDir, 1, "cat", "2")
      val agg = s.read.parquet(planned: _*).filter(col("cat") === 2)
        .agg(count(lit(1)).cast("long"), sum(col("value")).cast("long")).head()
      Seq((TxnLog.liveFiles(logDir, 1).size.toLong, planned.size.toLong,
        agg.getLong(0), agg.getLong(1)))
        .toDF("n_live_files", "n_planned", "n_rows", "sum_value")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part)
            SELECT 6::BIGINT AS n_live_files, 3::BIGINT AS n_planned,
                   ((SELECT COUNT(*) FROM p WHERE k % 4 = 2)
                    + (SELECT COUNT(*) FROM p WHERE k % 25 = 0 AND k % 4 = 2))::BIGINT AS n_rows,
                   ((SELECT COALESCE(SUM(2 * k), 0) FROM p WHERE k % 4 = 2)
                    + (SELECT COALESCE(SUM(3 * k), 0) FROM p WHERE k % 25 = 0 AND k % 4 = 2))::BIGINT AS sum_value"""))

  /** Column-mapping RENAME ([[graft.sources.TxnLog.renameColumn]]) — a
    * pure-metadata rename: physical files keep their original column name
    * forever, reads project physical → logical AS OF the version (time
    * travel shows each version under its own names), appends after the
    * rename still write the physical schema, and a chained second rename
    * folds through the mapping. O(1) on a 100 TB table — the operation
    * that is a full rewrite without column mapping. Oracle pins the
    * per-version schema strings + sums. */
  val q276_rename_column = Q(
    "q276_rename_column",
    (s, dir) => {
      import s.implicits._
      val (root, logDir) = txnRoot("q276")
      val base = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("key"),
        (col("p_partkey") * 2).cast("long").as("val"))
      TxnLog.commit(logDir, 0, adds = Seq(TxnLog.writeDataFile(base, s"$root/v0")), removes = Nil)
      TxnLog.renameColumn(s, logDir, "val", "amount")
      val appended = base.filter(col("key") % 250 === 0)
        .select((col("key") + 10000000L).as("key"), (col("key") * 6).as("val"))
      TxnLog.commit(logDir, 2, adds = Seq(TxnLog.writeDataFile(appended, s"$root/v2")), removes = Nil)
      TxnLog.renameColumn(s, logDir, "amount", "amt")
      // post-final-log version reads run overlapped (guide §2.6)
      Par.map(0L to 3L) { v =>
        val snap = TxnLog.readAsOfMapped(s, logDir, v)
        val valueCol = snap.columns.filter(_ != "key").head
        val agg = snap.agg(count(lit(1)).cast("long"), sum(col(valueCol)).cast("long")).head()
        (v, snap.columns.sorted.mkString(","), agg.getLong(0), agg.getLong(1))
      }.toDF("version", "cols", "n_rows", "sum_value").orderBy("version")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part)
            SELECT 0::BIGINT AS version, 'key,val' AS cols,
                   (SELECT COUNT(*) FROM p)::BIGINT AS n_rows,
                   (SELECT SUM(2 * k) FROM p)::BIGINT AS sum_value
            UNION ALL
            SELECT 1, 'amount,key', (SELECT COUNT(*) FROM p)::BIGINT,
                   (SELECT SUM(2 * k) FROM p)::BIGINT
            UNION ALL
            SELECT 2, 'amount,key',
                   ((SELECT COUNT(*) FROM p) + (SELECT COUNT(*) FROM p WHERE k % 250 = 0))::BIGINT,
                   ((SELECT SUM(2 * k) FROM p)
                    + (SELECT COALESCE(SUM(6 * k), 0) FROM p WHERE k % 250 = 0))::BIGINT
            UNION ALL
            SELECT 3, 'amt,key',
                   ((SELECT COUNT(*) FROM p) + (SELECT COUNT(*) FROM p WHERE k % 250 = 0))::BIGINT,
                   ((SELECT SUM(2 * k) FROM p)
                    + (SELECT COALESCE(SUM(6 * k), 0) FROM p WHERE k % 250 = 0))::BIGINT
            ORDER BY version"""))

  /** CHECK constraints ([[graft.sources.TxnLog.addConstraint]] /
    * [[appendChecked]]) — write-path data contracts on the txn-log table:
    * adding a constraint validates the full VISIBLE history first (a
    * constraint existing data violates REFUSES), a conforming append
    * commits, and a violating append refuses ATOMICALLY — no orphan data
    * file, no commit, head and live set unchanged. The check is one
    * distributed filter-count per batch (NULL violates, ANSI CHECK
    * semantics). Oracle is residue arithmetic + pinned booleans. */
  val q277_check_constraints = Q(
    "q277_check_constraints",
    (s, dir) => {
      import s.implicits._
      val (root, logDir) = txnRoot("q277")
      val base = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("key"),
        (col("p_partkey") * 2 + 1).cast("long").as("value"))
      TxnLog.commit(logDir, 0, adds = Seq(TxnLog.writeDataFile(base, s"$root/v0")), removes = Nil)
      val refusedConstraint =
        try { TxnLog.addConstraint(s, logDir, "big", "value > 10"); false }
        catch { case _: IllegalArgumentException => true }
      TxnLog.addConstraint(s, logDir, "positive", "value > 0")
      val good = base.filter(col("key") % 100 === 0)
        .select((col("key") + 10000000L).as("key"), (col("key") * 5 + 3).as("value"))
      TxnLog.appendChecked(s, logDir, root, good)
      val headBefore = TxnLog.latestVersion(logDir).get
      val refusedAppend =
        try {
          TxnLog.appendChecked(s, logDir, root,
            Seq((1L, 7L), (2L, -5L)).toDF("key", "value"))
          false
        } catch { case _: IllegalArgumentException => true }
      val agg = TxnLog.readAsOf(s, logDir, TxnLog.latestVersion(logDir).get)
        .agg(count(lit(1)).cast("long"), sum(col("value")).cast("long")).head()
      Seq((TxnLog.latestVersion(logDir).get, headBefore,
        TxnLog.constraints(logDir, 2).size.toLong,
        agg.getLong(0), agg.getLong(1), refusedConstraint, refusedAppend))
        .toDF("head_version", "head_before_bad_append", "n_constraints",
          "n_rows", "sum_value", "refused_constraint", "refused_append")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part)
            SELECT 2::BIGINT AS head_version, 2::BIGINT AS head_before_bad_append,
                   1::BIGINT AS n_constraints,
                   ((SELECT COUNT(*) FROM p) + (SELECT COUNT(*) FROM p WHERE k % 100 = 0))::BIGINT AS n_rows,
                   ((SELECT SUM(2 * k + 1) FROM p)
                    + (SELECT COALESCE(SUM(5 * k + 3), 0) FROM p WHERE k % 100 = 0))::BIGINT AS sum_value,
                   true AS refused_constraint, true AS refused_append"""))

  /** DESCRIBE HISTORY ([[graft.sources.TxnLog.history]]) — the table's
    * commit log as a queryable DataFrame: per-version add/remove/dv/dvdrop
    * action counts plus the operation kind derived from commit markers,
    * over a lifecycle exercising append → DV delete → CoW rewrite →
    * restore → rename → exactly-once streaming append. Metadata-scale by
    * construction (the log is one tiny file per commit). The oracle is the
    * fixture's known commit sequence as literals — every count is pinned
    * by the operations' contracts, independent of SF. */
  val q278_history = Q(
    "q278_history",
    (s, dir) => {
      import s.implicits._
      val (root, logDir, base) = residueTable(s, dir, "q278")
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv1", col("key") % 7 === 0)
      val updates = base.filter(col("key") % 300 === 0)
        .select(col("key"), (col("key") * 1000).as("value"))
      TxnLog.mergeCopyOnWrite(s, logDir, s"$root/merged", updates, "key")
      TxnLog.restore(s, logDir, 0)
      TxnLog.renameColumn(s, logDir, "value", "v")
      TxnLog.appendBatch(logDir, s"$root/stream",
        base.filter(col("key") % 900 === 0), batchId = 7L)
      TxnLog.history(s, logDir).orderBy("version")
    },
    Some("""SELECT * FROM (VALUES
              (0::BIGINT, 3::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT, 'append'),
              (1, 0, 0, 1, 0, 'delete'),
              (2, 1, 1, 0, 0, 'rewrite'),
              (3, 1, 1, 0, 1, 'restore'),
              (4, 0, 0, 0, 0, 'rename-column'),
              (5, 1, 0, 0, 0, 'streaming-append'))
            AS t(version, n_adds, n_removes, n_dvs, n_dvdrops, operation)
            ORDER BY version"""))

  /** Materialized-view AUTOMATIC QUERY REWRITE
    * ([[graft.plans.MaterializedView]] — Catalyst optimizer extension:
    * Calcite/warehouse-style transparent acceleration): an MV
    * pre-aggregates lineitem by (returnflag, linestatus); the query is
    * written against the BASE table as a ROLL-UP — filter on one group
    * column, grouping by the other — and the rule re-plans it over the
    * MV (sum→SUM(sum), count(*)→SUM(cnt), max→MAX(max); the filter
    * commutes because it touches group columns only). `mv_used` pins the
    * rewrite from the executed plan's scan path, `base_control` pins that
    * a non-derivable aggregate (sum of a column the MV lacks) still scans
    * the base table. Values must equal the direct computation — the
    * oracle computes from lineitem itself, so a rewrite that changed ANY
    * value hash-fails. Sums stay exact: l_quantity is integral, max is
    * order-free. */
  val q279_mv_rewrite = Q(
    "q279_mv_rewrite",
    (s, dir) => {
      import s.implicits._
      import graft.plans.MaterializedView
      val src = s"$dir/lineitem.parquet"
      memo(s, dir, "q279-mv") {
        MaterializedView.create(s, src, scratch("graft-q279") + "/mv",
          groupCols = Seq("l_returnflag", "l_linestatus"),
          sums = Seq("l_quantity"), count = true, maxs = Seq("l_extendedprice"))
      }
      val accelerated = s.read.parquet(src)
        .filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"),
          max("l_extendedprice").as("max_price"))
      // the files the rewritten plan reads, not the (abbreviated) plan string
      val mvUsed = accelerated.inputFiles.exists(_.contains("graft-q279"))
      val control = s.read.parquet(src)
        .filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag").agg(sum("l_discount"))
      val baseControl = !control.inputFiles.exists(_.contains("graft-q279"))
      accelerated
        .withColumn("mv_used", lit(mvUsed))
        .withColumn("base_control", lit(baseControl))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, SUM(l_quantity) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MAX(l_extendedprice) AS max_price,
                   true AS mv_used, true AS base_control
            FROM lineitem WHERE l_linestatus = 'F'
            GROUP BY 1 ORDER BY 1"""))

  /** STREAMING READ of the transaction-log table
    * ([[org.apache.spark.sql.graft.TxnLogStreamProvider]] — the Delta
    * streaming-source shape, completing the lakehouse streaming pair with
    * q267's exactly-once sink): versions are offsets, each micro-batch
    * reads ONLY the files its versions added (cost ∝ new data, never
    * table size), `maxVersionsPerTrigger=1` pins one version per batch,
    * and the CHANGE commit in the middle (a rewrite) is consumed with
    * ZERO rows under `skipChangeCommits` — re-emitting rewritten rows
    * would double-count downstream. Checkpoint-recovery and the strict
    * refusal live in TxnLogStreamSpec. Oracle is residue arithmetic. */
  val q280_stream_table_read = Q(
    "q280_stream_table_read",
    (s, dir) => {
      import s.implicits._
      val (root, logDir) = txnRoot("q280")
      val base = residueBase(s, dir)
      val f0 = TxnLog.writeDataFile(base, s"$root/v0")
      TxnLog.commit(logDir, 0, adds = Seq(f0), removes = Nil)
      TxnLog.commit(logDir, 1, adds = Seq(TxnLog.writeDataFile(
        base.filter(col("key") % 100 === 0)
          .select((col("key") + 10000000L).as("key"), (col("key") * 3).as("value")),
        s"$root/v1")), removes = Nil)
      // v2 REWRITES v0's file — a change commit the append-only reader skips
      TxnLog.commit(logDir, 2, adds = Seq(TxnLog.writeDataFile(
        base.select(col("key"), (col("value") * 1).as("value")), s"$root/v2")),
        removes = Seq(f0))
      TxnLog.commit(logDir, 3, adds = Seq(TxnLog.writeDataFile(
        base.filter(col("key") % 200 === 0)
          .select((col("key") + 20000000L).as("key"), (col("key") * 5).as("value")),
        s"$root/v3")), removes = Nil)
      val batches = scala.collection.concurrent.TrieMap.empty[Long, (Long, Long)]
      val q = scopedStreamStart(s) {
        s.readStream
          .format("org.apache.spark.sql.graft.TxnLogStreamProvider")
          .option("logDir", logDir)
          .option("maxVersionsPerTrigger", "1")
          .option("skipChangeCommits", "true")
          .load()
          .writeStream
          .foreachBatch { (df: DataFrame, id: Long) =>
            val agg = df.agg(count(lit(1)).cast("long"),
              coalesce(sum(col("value")), lit(0L)).cast("long")).head()
            batches.put(id, (agg.getLong(0), agg.getLong(1)))
            ()
          }
          .option("checkpointLocation", s"$root/ckpt")
          .start()
      }
      try q.processAllAvailable()
      finally q.stop()
      batches.toSeq.sortBy(_._1).map { case (id, (n, sv)) => (id, n, sv) }
        .toDF("batch_id", "n_rows", "sum_value").orderBy("batch_id")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part)
            SELECT 0::BIGINT AS batch_id, (SELECT COUNT(*) FROM p)::BIGINT AS n_rows,
                   (SELECT SUM(2 * k) FROM p)::BIGINT AS sum_value
            UNION ALL
            SELECT 1, (SELECT COUNT(*) FROM p WHERE k % 100 = 0)::BIGINT,
                   (SELECT COALESCE(SUM(3 * k), 0) FROM p WHERE k % 100 = 0)::BIGINT
            UNION ALL
            SELECT 2, 0, 0
            UNION ALL
            SELECT 3, (SELECT COUNT(*) FROM p WHERE k % 200 = 0)::BIGINT,
                   (SELECT COALESCE(SUM(5 * k), 0) FROM p WHERE k % 200 = 0)::BIGINT
            ORDER BY batch_id"""))

  /** Incremental MV maintenance on the transaction-log table
    * ([[graft.plans.MaterializedView.createForTxn]] /
    * [[refreshIncremental]] — the lakehouse + MV-rewrite integration):
    * MVs register per snapshot FILE SET, so freshness is exact by
    * construction (immutable data files ⇒ the set IS the version) and a
    * time-travel read of any covered version accelerates. After two
    * appends the head stops matching (stale MV can never serve); ONE
    * incremental refresh folds the change feed — cost ∝ delta_rows, not
    * table size — and the head accelerates again. RESTORE then flips the
    * head back to version 0's file set and the ORIGINAL MV serves it with
    * zero work. Oracle is residue arithmetic; any drift between the MV
    * path and the direct aggregates hash-fails. */
  val q281_mv_incremental = Q(
    "q281_mv_incremental",
    (s, dir) => {
      import s.implicits._
      import graft.plans.MaterializedView
      val (root, logDir) = txnRoot("q281")
      val base = t(s, dir, "part").select(
        pmod(col("p_partkey").cast("long"), lit(10)).as("g"),
        (col("p_partkey") * 2).cast("long").as("value"))
      TxnLog.commit(logDir, 0, adds = Seq(TxnLog.writeDataFile(base, s"$root/v0")), removes = Nil)
      MaterializedView.createForTxn(s, logDir, s"$root/mv_v0", Seq("g"), sums = Seq("value"))
      val keyed = t(s, dir, "part").select(col("p_partkey").cast("long").as("key"))
      TxnLog.commit(logDir, 1, adds = Seq(TxnLog.writeDataFile(
        keyed.filter(col("key") % 100 === 0)
          .select(pmod(col("key"), lit(10)).as("g"), (col("key") * 3).as("value")),
        s"$root/a1")), removes = Nil)
      TxnLog.commit(logDir, 2, adds = Seq(TxnLog.writeDataFile(
        keyed.filter(col("key") % 200 === 0)
          .select(pmod(col("key"), lit(10)).as("g"), (col("key") * 5).as("value")),
        s"$root/a2")), removes = Nil)
      val (_, deltaRows) = MaterializedView.refreshIncremental(s, logDir, s"$root/mv_head")
      TxnLog.restore(s, logDir, 0)
      def stage(name: String, asOf: Long, mvTag: String, delta: Long) = {
        val q = TxnLog.readAsOf(s, logDir, asOf)
          .groupBy("g").agg(sum(col("value")).as("sv"), count(lit(1)).as("n"))
        // the files the rewritten plan reads, not the plan string: scan
        // metadata in a plan string is abbreviated to
        // spark.sql.maxMetadataStringLength, which can cut a long path
        val used = q.inputFiles.exists(_.contains(mvTag))
        val agg = q.agg(count(lit(1)).cast("long"),
          sum(col("n")).cast("long"), sum(col("sv")).cast("long")).head()
        (name, agg.getLong(0), agg.getLong(1), agg.getLong(2), used, delta)
      }
      Seq(
        stage("1_v0", 0, "mv_v0", 0L),
        stage("2_head", 2, "mv_head", deltaRows),
        stage("3_restored", 3, "mv_v0", 0L))
        .toDF("stage", "n_groups", "n_rows", "sum_value", "mv_used", "delta_rows")
        .orderBy("stage")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part)
            SELECT '1_v0' AS stage, 10::BIGINT AS n_groups,
                   (SELECT COUNT(*) FROM p)::BIGINT AS n_rows,
                   (SELECT SUM(2 * k) FROM p)::BIGINT AS sum_value,
                   true AS mv_used, 0::BIGINT AS delta_rows
            UNION ALL
            SELECT '2_head', 10,
                   ((SELECT COUNT(*) FROM p)
                    + (SELECT COUNT(*) FROM p WHERE k % 100 = 0)
                    + (SELECT COUNT(*) FROM p WHERE k % 200 = 0))::BIGINT,
                   ((SELECT SUM(2 * k) FROM p)
                    + (SELECT COALESCE(SUM(3 * k), 0) FROM p WHERE k % 100 = 0)
                    + (SELECT COALESCE(SUM(5 * k), 0) FROM p WHERE k % 200 = 0))::BIGINT,
                   true,
                   ((SELECT COUNT(*) FROM p WHERE k % 100 = 0)
                    + (SELECT COUNT(*) FROM p WHERE k % 200 = 0))::BIGINT
            UNION ALL
            SELECT '3_restored', 10,
                   (SELECT COUNT(*) FROM p)::BIGINT,
                   (SELECT SUM(2 * k) FROM p)::BIGINT,
                   true, 0::BIGINT
            ORDER BY stage"""))

  /** OPTIMIZE (bin-pack compaction) with deletion-vector MATERIALIZATION
    * ([[graft.sources.TxnLog.compact]]) — the maintenance op that pays
    * the debt merge-on-read deletes defer: after two DV deletes the
    * visible snapshot rewrites into 4 key-residue-bucketed files in ONE
    * atomic commit that removes the old files AND un-binds both vectors
    * — post-compaction scans pay no anti-join, visible rows are
    * bit-identical (the oracle proves it: v2 and v3 rows share the same
    * arithmetic), and every pre-compaction version keeps its own
    * visibility under time travel. Completes the DV lifecycle:
    * delete (q264) → accumulate → compact-materialize → vacuum (q265).
    * Oracle is residue arithmetic over part. */
  val q282_optimize_compact = Q(
    "q282_optimize_compact",
    (s, dir) => {
      import s.implicits._
      val (root, logDir, _) = residueTable(s, dir, "q282")
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv1", col("key") % 7 === 0)
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv2", col("key") % 11 === 0)
      TxnLog.compact(s, logDir, s"$root/opt", targetFiles = 4,
        bucket = Some(pmod(col("key"), lit(4))))
      // post-final-log version reads run overlapped (guide §2.6)
      Par.map(0L to 3L) { v =>
        val agg = TxnLog.readAsOfWithDeletes(s, logDir, v)
          .agg(count(lit(1)).cast("long"), coalesce(sum(col("value")), lit(0L)).cast("long"))
          .head()
        (v, TxnLog.liveFiles(logDir, v).size.toLong, TxnLog.dvFiles(logDir, v).size.toLong,
          agg.getLong(0), agg.getLong(1))
      }.toDF("version", "n_files", "n_dv_bound", "n_visible", "sum_visible")
        .orderBy("version")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
            v1 AS (SELECT k FROM p WHERE k % 7 != 0),
            v2 AS (SELECT k FROM v1 WHERE k % 11 != 0)
            SELECT 0::BIGINT AS version, 3::BIGINT AS n_files, 0::BIGINT AS n_dv_bound,
                   (SELECT COUNT(*) FROM p)::BIGINT AS n_visible,
                   (SELECT SUM(2 * k) FROM p)::BIGINT AS sum_visible
            UNION ALL
            SELECT 1, 3, 1,
                   (SELECT COUNT(*) FROM v1)::BIGINT,
                   (SELECT COALESCE(SUM(2 * k), 0) FROM v1)::BIGINT
            UNION ALL
            SELECT 2, 3, 2,
                   (SELECT COUNT(*) FROM v2)::BIGINT,
                   (SELECT COALESCE(SUM(2 * k), 0) FROM v2)::BIGINT
            UNION ALL
            SELECT 3, 4, 0,
                   (SELECT COUNT(*) FROM v2)::BIGINT,
                   (SELECT COALESCE(SUM(2 * k), 0) FROM v2)::BIGINT
            ORDER BY version"""))

  /** SQL-TEXT time travel ([[graft.plans.TxnTableTvf]] — the
    * `graft_txn_table` table function injected via
    * `injectTableFunction`): the whole query is a `spark.sql` string —
    * three snapshot scans (version 0, a DV-delete version with row-level
    * deletes APPLIED, and `-1` = head) plus a cross-version anti-join
    * computing the appended keys, Delta's `VERSION AS OF` surfaced to
    * pure-SQL users. Oracle is residue arithmetic over part. */
  val q283_sql_time_travel = Q(
    "q283_sql_time_travel",
    (s, dir) => {
      import s.implicits._
      val (root, log, base) = residueTable(s, dir, "q283")
      TxnLog.deleteMergeOnRead(s, log, s"$root/dv1", col("key") % 7 === 0)
      TxnLog.commit(log, 2, adds = Seq(TxnLog.writeDataFile(
        base.filter(col("key") % 300 === 0)
          .select((col("key") + 10000000L).as("key"), (col("key") * 9).as("value")),
        s"$root/a2")), removes = Nil)
      s.sql(
        s"""SELECT '1_v0' AS snap, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |       CAST(SUM(value) AS BIGINT) AS sum_value
           |FROM graft_txn_table('$log', 0)
           |UNION ALL
           |SELECT '2_v1', CAST(COUNT(*) AS BIGINT), CAST(SUM(value) AS BIGINT)
           |FROM graft_txn_table('$log', 1)
           |UNION ALL
           |SELECT '3_head', CAST(COUNT(*) AS BIGINT), CAST(SUM(value) AS BIGINT)
           |FROM graft_txn_table('$log', -1)
           |UNION ALL
           |SELECT '4_new', CAST(COUNT(*) AS BIGINT), CAST(SUM(a.value) AS BIGINT)
           |FROM graft_txn_table('$log', -1) a
           |LEFT ANTI JOIN graft_txn_table('$log', 1) b ON a.key = b.key
           |ORDER BY snap""".stripMargin)
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
            vis AS (SELECT k FROM p WHERE k % 7 != 0),
            app AS (SELECT k FROM p WHERE k % 300 = 0)
            SELECT '1_v0' AS snap, (SELECT COUNT(*) FROM p)::BIGINT AS n_rows,
                   (SELECT SUM(2 * k) FROM p)::BIGINT AS sum_value
            UNION ALL
            SELECT '2_v1', (SELECT COUNT(*) FROM vis)::BIGINT,
                   (SELECT COALESCE(SUM(2 * k), 0) FROM vis)::BIGINT
            UNION ALL
            SELECT '3_head',
                   ((SELECT COUNT(*) FROM vis) + (SELECT COUNT(*) FROM app))::BIGINT,
                   ((SELECT COALESCE(SUM(2 * k), 0) FROM vis)
                    + (SELECT COALESCE(SUM(9 * k), 0) FROM app))::BIGINT
            UNION ALL
            SELECT '4_new', (SELECT COUNT(*) FROM app)::BIGINT,
                   (SELECT COALESCE(SUM(9 * k), 0) FROM app)::BIGINT
            ORDER BY snap"""))

  /** Write-audit-publish ([[graft.sources.TxnLog.publishStaged]] — the
    * Iceberg WAP / audit-branch workflow): candidate data lands on a
    * STAGING branch (shallow clone of main), is audited there against
    * main's CHECK constraints, and only then publishes ZERO-COPY (staged
    * files commit into main by reference through the optimistic
    * protocol). Branch X stages a batch containing a violating row —
    * publish refuses, main stays bit-identical, the bad branch keeps its
    * data for debugging; branch Y stages a clean batch — published as
    * one commit. Consumers of main can never observe unvalidated rows.
    * Oracle is residue arithmetic + pinned booleans. */
  val q285_write_audit_publish = Q(
    "q285_write_audit_publish",
    (s, dir) => {
      import s.implicits._
      val (root, mainLog, base) = residueTable(s, dir, "q285")
      TxnLog.addConstraint(s, mainLog, "nonnegative", "value >= 0")
      def stage(name: String, batch: DataFrame): String = {
        val log = s"$root/_$name"
        TxnLog.shallowClone(mainLog, log, 1)
        TxnLog.commit(log, 1, adds = Seq(TxnLog.writeDataFile(batch, s"$root/$name")), removes = Nil)
        log
      }
      // branch X: one violating row hidden in an otherwise-clean batch
      val badLog = stage("bad",
        base.filter(col("key") % 400 === 0)
          .select((col("key") + 30000000L).as("key"), (col("key") + 1).as("value"))
          .unionByName(Seq((99999999L, -3L)).toDF("key", "value")))
      val refused =
        try { TxnLog.publishStaged(s, mainLog, badLog, 1); false }
        catch { case _: IllegalArgumentException => true }
      val mainAfterBad = TxnLog.latestVersion(mainLog).get
      // branch Y: clean batch publishes by reference
      val goodLog = stage("good",
        base.filter(col("key") % 100 === 0)
          .select((col("key") + 10000000L).as("key"), (col("key") * 5 + 1).as("value")))
      val published = TxnLog.publishStaged(s, mainLog, goodLog, 1)
      val agg = TxnLog.readAsOf(s, mainLog, published)
        .agg(count(lit(1)).cast("long"), sum(col("value")).cast("long")).head()
      Seq((published, mainAfterBad, refused,
        TxnLog.liveFiles(mainLog, published).size.toLong, agg.getLong(0), agg.getLong(1)))
        .toDF("published_version", "main_after_refusal", "audit_refused",
          "n_files", "n_rows", "sum_value")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part)
            SELECT 2::BIGINT AS published_version, 1::BIGINT AS main_after_refusal,
                   true AS audit_refused, 4::BIGINT AS n_files,
                   ((SELECT COUNT(*) FROM p) + (SELECT COUNT(*) FROM p WHERE k % 100 = 0))::BIGINT AS n_rows,
                   ((SELECT SUM(2 * k) FROM p)
                    + (SELECT COALESCE(SUM(5 * k + 1), 0) FROM p WHERE k % 100 = 0))::BIGINT AS sum_value"""))

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
      val (root, logDir) = txnRoot("q297")
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
      val (root, logDir) = txnRoot("q306")
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

  /** Incremental JOIN-view maintenance
    * ([[graft.operators.Incremental.joinDelta]] — the DBSP / differential
    * delta identity Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB, three joins with
    * delta-sized left inputs so refresh cost tracks the CHANGE; the
    * verdict column comes from [[graft.operators.TableDigest.reconcile]]
    * comparing (old view ∪ Δ) against the full re-join — operators
    * composing, which is the point). Orders/customers split 80/20 and
    * 90/10 by key residue; the oracle derives every census count from
    * the same residue arithmetic and the verdict from the identity. */
  val q332_join_mv_delta = Q(
    "q332_join_mv_delta",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_custkey").as("k"), col("o_orderkey"),
        floor(col("o_totalprice")).cast("long").as("price_fl"))
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("k"), col("c_nationkey").cast("long").as("nk"))
      val (aOld, aDelta) = (o.filter(pmod(col("o_orderkey"), lit(10L)) < 8),
        o.filter(pmod(col("o_orderkey"), lit(10L)) >= 8))
      val (bOld, bDelta) = (c.filter(pmod(col("k"), lit(10L)) < 9),
        c.filter(pmod(col("k"), lit(10L)) >= 9))
      val delta = graft.operators.Incremental.joinDelta(aOld, aDelta, bOld, bDelta, Seq("k"))
      val oldView = aOld.join(bOld, Seq("k"))
      val full = o.join(c, Seq("k"))
      val cols = Seq("k", "o_orderkey", "price_fl", "nk")
      val verdict = graft.operators.TableDigest
        .reconcile(oldView.unionByName(delta), full, cols)
        .select(col("n_a").as("n_maintained"), col("n_b").as("n_full"), col("matches"))
      val counts = delta.agg(
        count(lit(1)).cast("long").as("n_delta"),
        sum(col("o_orderkey")).cast("long").as("delta_checksum"))
      counts.crossJoin(verdict)
    },
    Some("""WITH o AS (
              SELECT o_custkey AS k, o_orderkey,
                     CAST(FLOOR(o_totalprice) AS BIGINT) AS price_fl
              FROM orders),
            c AS (SELECT c_custkey AS k, CAST(c_nationkey AS BIGINT) AS nk FROM customer),
            ao AS (SELECT * FROM o WHERE o_orderkey % 10 < 8),
            ad AS (SELECT * FROM o WHERE o_orderkey % 10 >= 8),
            bo AS (SELECT * FROM c WHERE k % 10 < 9),
            bd AS (SELECT * FROM c WHERE k % 10 >= 9),
            delta AS (
              SELECT ad.o_orderkey FROM ad JOIN bo ON ad.k = bo.k
              UNION ALL SELECT ao.o_orderkey FROM ao JOIN bd ON ao.k = bd.k
              UNION ALL SELECT ad.o_orderkey FROM ad JOIN bd ON ad.k = bd.k),
            nold AS (SELECT COUNT(*) AS n FROM ao JOIN bo ON ao.k = bo.k),
            nfull AS (SELECT COUNT(*) AS n FROM o JOIN c ON o.k = c.k)
            SELECT COUNT(*)::BIGINT AS n_delta,
                   SUM(o_orderkey)::BIGINT AS delta_checksum,
                   ((SELECT n FROM nold) + COUNT(*))::BIGINT AS n_maintained,
                   (SELECT n FROM nfull)::BIGINT AS n_full,
                   ((SELECT n FROM nold) + COUNT(*) = (SELECT n FROM nfull)) AS matches
            FROM delta"""))

  val all: Seq[Q] = Seq(
    q43_csv_roundtrip, q54_autopartition, q55_warehouse, q56_bucketed_join, q59_partitioned_write,
    q70_json_roundtrip, q71_overwrite_inplace, q72_persist_intermediate, q103_json_props,
    q110_read_recovery, q112_file_schema, q118_zorder, q127_orc_roundtrip, q131_scd2,
    q132_schema_evolution, q134_merge_upsert, q137_compaction, q140_text_roundtrip,
    q141_incremental_refresh, q149_variant_shred, q189_time_travel, q194_file_skipping,
    q233_fixedwidth_source, q234_fixedwidth_write, q235_fixedwidth_agg_push, q243_parquet_footers,
    q245_txn_log, q256_bitmap_index, q262_dpp, q263_merge_cow, q264_delete_vectors, q265_vacuum,
    q266_change_feed, q267_stream_txn_sink, q268_value_index, q269_bloom_skipping,
    q270_optimize_zorder, q271_schema_evolution, q272_restore, q273_concurrent_writers,
    q274_shallow_clone, q275_partition_evolution, q276_rename_column, q277_check_constraints,
    q278_history, q279_mv_rewrite, q280_stream_table_read, q281_mv_incremental,
    q282_optimize_compact, q283_sql_time_travel, q285_write_audit_publish,
    q297_hidden_partitioning, q298_clustering_depth, q306_bitemporal, q312_encoding_plan,
    q332_join_mv_delta)
}
