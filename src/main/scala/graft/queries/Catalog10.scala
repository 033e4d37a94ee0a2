package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDsl._
import graft.sources.TxnLog

/** Catalog chunk q272+ — the round-10 continuation: table-management
  * operations completing the lakehouse lifecycle on the transaction-log
  * table (RESTORE, optimistic concurrency, shallow clone, partition
  * evolution, column mapping, CHECK constraints, DESCRIBE HISTORY).
  * Registration + docs in [[graft.Queries]]. */
private[graft] object Catalog10 {

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
  private val residueMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String), Seq[String]]

  private def sharedResidueFiles(s: SparkSession, dir: String): Seq[String] =
    residueMemo.getOrElseUpdate((dir, s.sparkContext.applicationId), {
      val root = java.nio.file.Files.createTempDirectory("graft-residue").toString
      val base = residueBase(s, dir)
      // disjoint-path fixture writes run overlapped (guide §2.6)
      QueryDsl.parActions(0 until 3)(m =>
        TxnLog.writeDataFile(base.filter(pmod(col("key"), lit(3)) === m), s"$root/m$m"))
    })

  /** A fresh txn table (own log) over the shared residue files. */
  private def residueTable(s: SparkSession, dir: String, root: String)
      : (String, Seq[String], DataFrame) = {
    val logDir = s"$root/_log"
    val fs = sharedResidueFiles(s, dir)
    TxnLog.commit(logDir, 0, adds = fs, removes = Nil)
    (logDir, fs, residueBase(s, dir))
  }

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
      val root = java.nio.file.Files.createTempDirectory("graft-q272").toString
      val (logDir, _, base) = residueTable(s, dir, root)
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv1", col("key") % 7 === 0)
      val updates = base.filter(col("key") % 300 === 0)
        .select(col("key"), (col("key") * 1000).as("value"))
      TxnLog.mergeCopyOnWrite(s, logDir, s"$root/merged", updates, "key")
      TxnLog.restore(s, logDir, 0)
      // post-final-log version reads run overlapped (guide §2.6)
      QueryDsl.parActions(0L to 3L) { v =>
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
      val root = java.nio.file.Files.createTempDirectory("graft-q273").toString
      val (logDir, fs, base) = residueTable(s, dir, root)
      // disjoint-path fixture writes run overlapped (guide §2.6)
      val Seq(m0a, m1b) = QueryDsl.parActions(Seq(
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
      QueryDsl.parActions(Seq(("a", vA, false), ("b", vB, false), ("c", head, cConflict))) {
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
      val root = java.nio.file.Files.createTempDirectory("graft-q274").toString
      val (logDir, _, base) = residueTable(s, dir, root)
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
      QueryDsl.parActions(Seq(("clone", cloneLog, 0L), ("clone", cloneLog, 1L),
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
      val root = java.nio.file.Files.createTempDirectory("graft-q275").toString
      val logDir = s"$root/_log"
      val base = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("key"),
        pmod(col("p_partkey").cast("long"), lit(4)).as("cat"),
        (col("p_partkey") * 2).cast("long").as("value"))
      val half = base.agg(max("key")).head.getLong(0) / 2
      // disjoint-path fixture writes run overlapped (guide §2.6)
      val old = QueryDsl.parActions(Seq(
        ("old0", col("key") <= half), ("old1", col("key") > half))) {
        case (name, pred) => TxnLog.writeDataFile(base.filter(pred), s"$root/$name")
      }
      TxnLog.commit(logDir, 0, adds = old, removes = Nil)
      val fresh = base.filter(col("key") % 25 === 0).select(
        (col("key") + 10000000L).as("key"), col("cat"), (col("key") * 3).as("value"))
      val parts = QueryDsl.parActions(0 until 4) { c =>
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
      val root = java.nio.file.Files.createTempDirectory("graft-q276").toString
      val logDir = s"$root/_log"
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
      QueryDsl.parActions(0L to 3L) { v =>
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
      val root = java.nio.file.Files.createTempDirectory("graft-q277").toString
      val logDir = s"$root/_log"
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
      val root = java.nio.file.Files.createTempDirectory("graft-q278").toString
      val (logDir, _, base) = residueTable(s, dir, root)
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

  private val mvMemo = scala.collection.concurrent.TrieMap.empty[(String, String), Unit]

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
      mvMemo.getOrElseUpdate((dir, s.sparkContext.applicationId), {
        val mvPath = java.nio.file.Files.createTempDirectory("graft-q279").toString + "/mv"
        MaterializedView.create(s, src, mvPath,
          groupCols = Seq("l_returnflag", "l_linestatus"),
          sums = Seq("l_quantity"), count = true, maxs = Seq("l_extendedprice"))
      })
      val accelerated = s.read.parquet(src)
        .filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"),
          max("l_extendedprice").as("max_price"))
      val mvUsed = accelerated.queryExecution.executedPlan.toString.contains("graft-q279")
      val control = s.read.parquet(src)
        .filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag").agg(sum("l_discount"))
      val baseControl = !control.queryExecution.executedPlan.toString.contains("graft-q279")
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
      val root = java.nio.file.Files.createTempDirectory("graft-q280").toString
      val logDir = s"$root/_log"
      val base = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("key"),
        (col("p_partkey") * 2).cast("long").as("value"))
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
      val root = java.nio.file.Files.createTempDirectory("graft-q281").toString
      val logDir = s"$root/_log"
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
        val used = q.queryExecution.executedPlan.toString.contains(mvTag)
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
      val root = java.nio.file.Files.createTempDirectory("graft-q282").toString
      val (logDir, _, _) = residueTable(s, dir, root)
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv1", col("key") % 7 === 0)
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv2", col("key") % 11 === 0)
      TxnLog.compact(s, logDir, s"$root/opt", targetFiles = 4,
        bucket = Some(pmod(col("key"), lit(4))))
      // post-final-log version reads run overlapped (guide §2.6)
      QueryDsl.parActions(0L to 3L) { v =>
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
      val root = java.nio.file.Files.createTempDirectory("graft-q283").toString
      val (log, _, base) = residueTable(s, dir, root)
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

  /** Strongly connected components
    * ([[graft.operators.Graph.stronglyConnectedComponents]] — Orzan
    * coloring, the Pregel-family SCC): the graph is CONSTRUCTED from key
    * arithmetic — every 4 consecutive keys form a directed ring (one SCC
    * of size 4), rings chain into depth-3 DAG paths (condensation edges
    * that must NOT merge components), and every 20th key hangs a
    * sink node (singleton SCC, id+10⁶). The strongest oracle form: the
    * expected component census derives INDEPENDENTLY from the same
    * arithmetic — ring count, singleton count and label sums are pure
    * functions of the table size — so a component that leaked across a
    * DAG edge or a ring that split changes the census and hash-fails.
    * Size histogram output keeps the result SF-stable. */
  val q284_scc = Q(
    "q284_scc",
    (s, dir) => {
      import s.implicits._
      val keys = t(s, dir, "part").select(col("p_partkey").cast("long").as("k"))
      val n = keys.count()
      val maxRing = n / 4
      val kept = keys.filter(col("k") < lit(4 * maxRing))
      val ring = kept.select(col("k").as("src"),
        (col("k") - pmod(col("k"), lit(4)) + pmod(pmod(col("k"), lit(4)) + 1, lit(4))).as("dst"))
      val cross = kept.filter(pmod(col("k"), lit(4)) === 0)
        .withColumn("i", expr("k div 4"))
        .filter(col("i") % 3 === 1 && col("i") < maxRing - 1)
        .select((col("i") * 4).as("src"), ((col("i") + 1) * 4).as("dst"))
      val single = kept.filter(col("k") % 20 === 0)
        .select(col("k").as("src"), (col("k") + 1000000L).as("dst"))
      // the fixpoint rounds are many TINY shuffle stages — scope the
      // shuffle width down (per-round job overhead, not data, dominates
      // at catalog sizes; on a real cluster this knob scales with the
      // edge count instead)
      val prevP = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val scc =
        try graft.operators.Graph.stronglyConnectedComponents(
          ring.unionByName(cross).unionByName(single))
        finally s.conf.set("spark.sql.shuffle.partitions", prevP)
      scc.groupBy(col("scc")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").cast("long").as("scc_size"))
        .agg(count(lit(1)).cast("long").as("n_sccs"),
          sum(col("scc")).cast("long").as("sum_labels"))
        .orderBy("scc_size")
    },
    Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
            nr AS (SELECT (COUNT(*) // 4) AS m FROM p),
            kept AS (SELECT k FROM p WHERE k < 4 * (SELECT m FROM nr)),
            sing AS (SELECT k FROM kept WHERE k % 20 = 0)
            SELECT 1::BIGINT AS scc_size,
                   (SELECT COUNT(*) FROM sing)::BIGINT AS n_sccs,
                   (SELECT COALESCE(SUM(k + 1000000), 0) FROM sing)::BIGINT AS sum_labels
            UNION ALL
            SELECT 4, (SELECT m FROM nr)::BIGINT,
                   (2 * (SELECT m FROM nr) * ((SELECT m FROM nr) - 1))::BIGINT
            ORDER BY scc_size"""))

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
      val root = java.nio.file.Files.createTempDirectory("graft-q285").toString
      val (mainLog, _, base) = residueTable(s, dir, root)
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

  val all: Seq[Q] = Seq(
    q272_restore, q273_concurrent_writers, q274_shallow_clone,
    q275_partition_evolution, q276_rename_column, q277_check_constraints,
    q278_history, q279_mv_rewrite, q280_stream_table_read, q281_mv_incremental,
    q282_optimize_compact, q283_sql_time_travel, q284_scc, q285_write_audit_publish,
    q286_frequent_sequences)
}
