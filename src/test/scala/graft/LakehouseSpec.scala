package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.TxnLog

/** The round-10 lakehouse table-management surface on the txn-log table:
  * RESTORE, optimistic concurrent commits, shallow clone, partition
  * evolution planning, column-mapping rename, CHECK constraints, history.
  * Write-path invariants pinned here: restore is metadata-only and
  * re-binds deletion-vector visibility; the version race has exactly one
  * winner under real thread contention; a violating checked append leaves
  * the table bit-identical. */
class LakehouseSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(prefix: String): (String, String, Seq[String]) = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    val log = s"$root/_log"
    val fs = (0 until 3).map { m =>
      val d = s"$root/m$m"
      (1L to 30L).filter(_ % 3 == m).toDF("x").coalesce(1)
        .write.mode("overwrite").parquet(d)
      new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    }
    TxnLog.commit(log, 0, fs, Nil)
    (root, log, fs)
  }

  private def fileOf(root: String, df: DataFrame, name: String): String = {
    val d = s"$root/$name"
    df.coalesce(1).write.mode("overwrite").parquet(d)
    new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet")).get.getAbsolutePath
  }

  test("restore: metadata-only rollback re-binds files AND deletion-vector visibility") {
    val (root, log, fs) = mkTable("lh_restore")
    // v1: DV delete of x % 5 == 0; v2: CoW-style rewrite removing one file
    TxnLog.deleteMergeOnRead(spark, log, s"$root/dv1", col("x") % 5 === 0)
    val repl = fileOf(root, Seq(100L).toDF("x"), "repl")
    TxnLog.commit(log, 2, Seq(repl), Seq(fs.head))
    val v2Sum = TxnLog.readAsOfWithDeletes(spark, log, 2).agg(sum("x")).head.getLong(0)
    // restore to v0: one commit, all three original files live, deletes undone
    val v3 = TxnLog.restore(spark, log, 0)
    assert(v3 == 3L)
    assert(TxnLog.liveFiles(log, 3) == fs.toSet)
    assert(TxnLog.dvFiles(log, 3).isEmpty)
    assert(TxnLog.readAsOfWithDeletes(spark, log, 3).agg(sum("x")).head.getLong(0)
      == (1L to 30L).sum)
    // every intermediate version stays time-travelable with ITS visibility
    assert(TxnLog.readAsOfWithDeletes(spark, log, 2).agg(sum("x")).head.getLong(0) == v2Sum)
    assert(TxnLog.readAsOfWithDeletes(spark, log, 1).agg(sum("x")).head.getLong(0)
      == (1L to 30L).filter(_ % 5 != 0).sum)
    // restoring below the vacuum watermark refuses
    TxnLog.vacuum(log, 3)
    assertThrows[IllegalArgumentException](TxnLog.restore(spark, log, 0))
  }

  test("optimistic commit: deterministic interleave — rebase on disjoint files, abort on overlap") {
    val (root, log, fs) = mkTable("lh_occ")
    // A and B both based on v0, touching DIFFERENT files; C overlaps A.
    val a2 = fileOf(root, Seq(101L).toDF("x"), "a2")
    val b2 = fileOf(root, Seq(102L).toDF("x"), "b2")
    val (vA, attA) = TxnLog.commitOptimistic(spark, log, 0, Seq(a2), Seq(fs(0)))
    assert(vA == 1L && attA == 1)
    // B lost the v1 race conceptually: basedOn 0, head now 1 → lands at 2
    val (vB, _) = TxnLog.commitOptimistic(spark, log, 0, Seq(b2), Seq(fs(1)))
    assert(vB == 2L)
    assert(TxnLog.liveFiles(log, 2) == Set(fs(2), a2, b2))
    // C also wants to remove fs(0) — already removed by A → abort
    assertThrows[java.util.ConcurrentModificationException](
      TxnLog.commitOptimistic(spark, log, 0, Nil, Seq(fs(0))))
    // D rewrites fs(2) based on v0, but a DV landed on it since → abort
    TxnLog.deleteMergeOnRead(spark, log, s"$root/dv", col("x") === 29L)
    assertThrows[java.util.ConcurrentModificationException](
      TxnLog.commitOptimistic(spark, log, 0, Nil, Seq(fs(2))))
    // with basedOn AFTER the DV commit the same change is conflict-free
    val (vD, _) = TxnLog.commitOptimistic(spark, log, 3, Nil, Seq(fs(2)))
    assert(vD == 4L)
  }

  test("optimistic commit: real thread race — every writer lands, versions dense, one winner per version") {
    val (root, log, _) = mkTable("lh_race")
    val adds = (0 until 8).map(i => fileOf(root, Seq(1000L + i).toDF("x"), s"r$i"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence(adds.map(f => Future(TxnLog.commitOptimistic(spark, log, 0, Seq(f), Nil)))),
      2.minutes)
    // blind appends: all 8 compose; versions are a dense permutation of 1..8
    assert(results.map(_._1).sorted == (1L to 8L))
    assert(TxnLog.liveFiles(log, 8).size == 3 + 8)
    // at least one writer had to retry iff any two collided on an attempt;
    // regardless, no attempt count exceeds the writer count
    assert(results.forall(_._2 <= 8))
  }

  test("shallow clone: zero-copy v0, then source and clone diverge independently") {
    val (root, log, fs) = mkTable("lh_clone")
    TxnLog.deleteMergeOnRead(spark, log, s"$root/dv1", col("x") % 7 === 0)
    val cloneLog = s"$root/_clone_log"
    TxnLog.shallowClone(log, cloneLog, 1)
    // clone sees the source's visible rows at clone time (DVs carried)
    assert(TxnLog.readAsOfWithDeletes(spark, cloneLog, 0).agg(sum("x")).head.getLong(0)
      == (1L to 30L).filter(_ % 7 != 0).sum)
    // divergence: delete on clone doesn't touch source, and vice versa
    TxnLog.deleteMergeOnRead(spark, cloneLog, s"$root/dvc", col("x") % 2 === 0)
    val srcAdd = fileOf(root, Seq(500L).toDF("x"), "srcadd")
    TxnLog.commit(log, 2, Seq(srcAdd), Nil)
    assert(TxnLog.readAsOfWithDeletes(spark, cloneLog, 1).agg(sum("x")).head.getLong(0)
      == (1L to 30L).filter(x => x % 7 != 0 && x % 2 != 0).sum)
    assert(TxnLog.readAsOfWithDeletes(spark, log, 2).agg(sum("x")).head.getLong(0)
      == (1L to 30L).filter(_ % 7 != 0).sum + 500L)
    // clone target must be empty; partition tags carry through a clone
    assertThrows[IllegalArgumentException](TxnLog.shallowClone(log, cloneLog, 0))
    assert(TxnLog.livePartitions(cloneLog, 0).values.forall(_.isEmpty))
  }

  test("partition evolution: old unpartitioned files stay planned, new files prune by tag") {
    val root = java.nio.file.Files.createTempDirectory("lh_part").toString
    val log = s"$root/_log"
    val old = fileOf(root, (1L to 20L).toDF("x").withColumn("k", col("x") % 4), "old")
    TxnLog.commit(log, 0, Seq(old), Nil)
    // spec evolves: new files arrive partitioned by k
    val parts = (0 until 4).map { k =>
      val f = fileOf(root, (100L to 104L).toDF("x").withColumn("k", lit(k.toLong)), s"k$k")
      f -> s"k=$k"
    }
    TxnLog.commit(log, 1, parts.map(_._1), Nil, partitions = parts.toMap)
    val planned = TxnLog.pruneByPartition(log, 1, "k", "2")
    // old file (no tag) + exactly one tagged file
    assert(planned.toSet == Set(old, parts(2)._1))
    // a predicate on an UNTRACKED column prunes nothing
    assert(TxnLog.pruneByPartition(log, 1, "x", "5").size == 5)
    // correctness: pruned plan + residual filter == full-scan filter
    val viaPrune = spark.read.parquet(planned: _*).filter(col("k") === 2).agg(sum("x")).head.getLong(0)
    val full = TxnLog.readAsOf(spark, log, 1).filter(col("k") === 2).agg(sum("x")).head.getLong(0)
    assert(viaPrune == full)
  }

  test("rename column: pure metadata, time travel keeps old names, physical files never rewrite") {
    val root = java.nio.file.Files.createTempDirectory("lh_rename").toString
    val log = s"$root/_log"
    val f0 = fileOf(root, Seq((1L, 10L), (2L, 20L)).toDF("key", "val"), "f0")
    TxnLog.commit(log, 0, Seq(f0), Nil)
    TxnLog.renameColumn(spark, log, "val", "amount")
    assert(TxnLog.readAsOfMapped(spark, log, 1).columns.toSeq == Seq("key", "amount"))
    assert(TxnLog.readAsOfMapped(spark, log, 0).columns.toSeq == Seq("key", "val"))
    // appends still write the PHYSICAL name; chained rename folds correctly
    val f1 = fileOf(root, Seq((3L, 30L)).toDF("key", "val"), "f1")
    TxnLog.commit(log, 2, Seq(f1), Nil)
    TxnLog.renameColumn(spark, log, "amount", "amt")
    val mapped = TxnLog.readAsOfMapped(spark, log, 3)
    assert(mapped.columns.toSeq == Seq("key", "amt"))
    assert(mapped.agg(sum("amt")).head.getLong(0) == 60L)
    // refusals: unknown source, collision
    assertThrows[IllegalArgumentException](TxnLog.renameColumn(spark, log, "nope", "x"))
    assertThrows[IllegalArgumentException](TxnLog.renameColumn(spark, log, "amt", "key"))
    // no data file was touched by any rename
    assert(TxnLog.liveFiles(log, 3) == Set(f0, f1))
  }

  test("check constraints: add validates history, violating append refuses atomically") {
    val root = java.nio.file.Files.createTempDirectory("lh_check").toString
    val log = s"$root/_log"
    val f0 = fileOf(root, Seq(1L, 5L, 9L).toDF("x"), "f0")
    TxnLog.commit(log, 0, Seq(f0), Nil)
    // adding a constraint the existing data violates refuses
    assertThrows[IllegalArgumentException](
      TxnLog.addConstraint(spark, log, "big", "x > 3"))
    TxnLog.addConstraint(spark, log, "pos", "x > 0")
    assert(TxnLog.constraints(log, 1) == Seq(("pos", "x > 0")))
    // valid append passes, violating append refuses and changes NOTHING
    TxnLog.appendChecked(spark, log, root, Seq(7L).toDF("x"))
    val before = TxnLog.liveFiles(log, 2)
    assertThrows[IllegalArgumentException](
      TxnLog.appendChecked(spark, log, root, Seq(3L, -1L).toDF("x")))
    assert(TxnLog.latestVersion(log).contains(2L))
    assert(TxnLog.liveFiles(log, 2) == before)
    // a NULL constraint result violates (CHECK must be TRUE)
    assertThrows[IllegalArgumentException](
      TxnLog.appendChecked(spark, log, root,
        Seq(Some(4L), None).toDF("x")))
    // a constraint after a DV delete validates the VISIBLE snapshot
    TxnLog.deleteMergeOnRead(spark, log, s"$root/dv", col("x") === 1L)
    TxnLog.addConstraint(spark, log, "big", "x > 3")
    assert(TxnLog.constraints(log, 4).map(_._1) == Seq("pos", "big"))
  }

  test("compact: DV materialization, bit-identical visible rows, time travel, vacuum interplay") {
    val (root, log, fs) = mkTable("lh_compact")
    TxnLog.deleteMergeOnRead(spark, log, s"$root/dv1", col("x") % 5 === 0)
    val before = sortedRows(TxnLog.readAsOfWithDeletes(spark, log, 1))
    val v2 = TxnLog.compact(spark, log, s"$root/opt", targetFiles = 2,
      bucket = Some(pmod(col("x"), lit(2))))
    assert(v2 == 2L)
    // vectors un-bound, old files gone, exactly one file per bucket
    assert(TxnLog.dvFiles(log, 2).isEmpty)
    assert(TxnLog.liveFiles(log, 2).intersect(fs.toSet).isEmpty)
    assert(TxnLog.liveFiles(log, 2).size == 2)
    // content identical to the pre-compaction VISIBLE snapshot, no anti-join needed
    assert(sortedRows(TxnLog.readAsOf(spark, log, 2)) == before)
    // pre-compaction versions keep their own visibility
    assert(sortedRows(TxnLog.readAsOfWithDeletes(spark, log, 1)) == before)
    assert(TxnLog.readAsOfWithDeletes(spark, log, 0).count() == 30)
    // vacuum to the compacted version reclaims every pre-compaction file
    val doomed = TxnLog.vacuum(log, 2)
    assert(doomed.toSet == fs.toSet)
    assert(sortedRows(TxnLog.readAsOf(spark, log, 2)) == before)
  }

  test("graft_txn_table TVF: SQL time travel with DVs applied, head alias, refusals") {
    val (root, log, _) = mkTable("lh_tvf")
    TxnLog.deleteMergeOnRead(spark, log, s"$root/dv", col("x") % 3 === 0)
    def one(sql: String): Long = spark.sql(sql).head.getLong(0)
    assert(one(s"SELECT CAST(SUM(x) AS BIGINT) FROM graft_txn_table('$log', 0)")
      == (1L to 30L).sum)
    assert(one(s"SELECT CAST(SUM(x) AS BIGINT) FROM graft_txn_table('$log', 1)")
      == (1L to 30L).filterNot(_ % 3 == 0).sum)
    assert(one(s"SELECT CAST(SUM(x) AS BIGINT) FROM graft_txn_table('$log', -1)")
      == (1L to 30L).filterNot(_ % 3 == 0).sum)
    // out-of-range version and non-literal args refuse at analysis
    assertThrows[Exception](spark.sql(s"SELECT * FROM graft_txn_table('$log', 99)").collect())
    assertThrows[Exception](spark.sql(s"SELECT * FROM graft_txn_table('$log', x)").collect())
  }

  test("write-audit-publish: zero-copy publish rebases past concurrent writers; rewrites refuse") {
    val (root, log, fs) = mkTable("lh_wap")
    TxnLog.addConstraint(spark, log, "pos", "x > 0")
    // staging branch with a clean append
    val stg = s"$root/_stg"
    TxnLog.shallowClone(log, stg, 1)
    val add = fileOf(root, Seq(100L, 200L).toDF("x"), "stgadd")
    TxnLog.commit(stg, 1, Seq(add), Nil)
    // a concurrent append lands on MAIN before publish → publish rebases
    val conc = fileOf(root, Seq(555L).toDF("x"), "conc")
    TxnLog.commit(log, 2, Seq(conc), Nil)
    val v = TxnLog.publishStaged(spark, log, stg, 1)
    assert(v == 3L)
    assert(TxnLog.liveFiles(log, 3) == fs.toSet + conc + add)
    assert(TxnLog.readAsOf(spark, log, 3).agg(sum("x")).head.getLong(0)
      == (1L to 30L).sum + 555L + 300L)
    assert(TxnLog.history(spark, log).filter(col("operation") === "publish").count() == 1)
    // a staging branch that REWROTE main data cannot publish by reference
    val stg2 = s"$root/_stg2"
    TxnLog.shallowClone(log, stg2, 3)
    val repl = fileOf(root, Seq(7L).toDF("x"), "repl")
    TxnLog.commit(stg2, 1, Seq(repl), Seq(fs.head))
    assertThrows[IllegalArgumentException](TxnLog.publishStaged(spark, log, stg2, 3))
    // a staging DV delete cannot publish by reference either
    val stg3 = s"$root/_stg3"
    TxnLog.shallowClone(log, stg3, 3)
    TxnLog.deleteMergeOnRead(spark, stg3, s"$root/stgdv", col("x") === 1L)
    TxnLog.commit(stg3, 2, Seq(fileOf(root, Seq(9L).toDF("x"), "stg3add")), Nil)
    assertThrows[IllegalArgumentException](TxnLog.publishStaged(spark, log, stg3, 3))
  }

  test("history: per-version action counts and operation kinds") {
    val (root, log, fs) = mkTable("lh_hist")
    TxnLog.deleteMergeOnRead(spark, log, s"$root/dv1", col("x") % 5 === 0)
    val repl = fileOf(root, Seq(100L).toDF("x"), "repl")
    TxnLog.commit(log, 2, Seq(repl), Seq(fs.head))
    TxnLog.restore(spark, log, 0)
    TxnLog.renameColumn(spark, log, "x", "y")
    val h = TxnLog.history(spark, log).orderBy("version")
      .select("version", "n_adds", "n_removes", "n_dvs", "n_dvdrops", "operation")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
    assert(h.toSeq == Seq(
      (0L, 3L, 0L, 0L, 0L, "append"),
      (1L, 0L, 0L, 1L, 0L, "delete"),
      (2L, 1L, 1L, 0L, 0L, "rewrite"),
      (3L, 1L, 1L, 0L, 1L, "restore"),
      (4L, 0L, 0L, 0L, 0L, "rename-column")))
  }

  test("hidden partitioning: range pruning keeps boundaries, other specs, unparsable tags") {
    val root = java.nio.file.Files.createTempDirectory("lh_hidden").toString
    val log = s"$root/_log"
    val old = fileOf(root, (1L to 5L).toDF("x"), "old") // pre-evolution, no tag
    val tagged = (10 to 14).map { d =>
      fileOf(root, Seq(d.toLong).toDF("x"), s"d$d") -> s"day=$d"
    }
    val other = fileOf(root, Seq(99L).toDF("x"), "other") // different spec column
    val weird = fileOf(root, Seq(98L).toDF("x"), "weird") // same column, non-numeric tag
    TxnLog.commit(log, 0, old +: other +: weird +: tagged.map(_._1), Nil,
      partitions = tagged.toMap ++ Map(other -> "cat=3", weird -> "day=abc"))
    val planned = TxnLog.pruneByPartitionRange(log, 0, "day", 11L, 13L)
    // boundary days 11 and 13 included, 10/14 pruned; old/other/weird conservatively kept
    assert(planned.toSet ==
      Set(old, other, weird) ++ tagged.slice(1, 4).map(_._1))
    // a range on an untracked column prunes nothing
    assert(TxnLog.pruneByPartitionRange(log, 0, "zzz", 0L, 1L).size == 8)
    assertThrows[IllegalArgumentException](
      TxnLog.pruneByPartitionRange(log, 0, "day", 5L, 4L))
  }

  test("txn log codec: a multi-line constraint keeps the head readable and enforced") {
    val root = java.nio.file.Files.createTempDirectory("lh_multiline").toString
    val log = s"$root/_log"
    val f0 = fileOf(root, Seq(1L, 5L, 9L).toDF("x"), "f0")
    TxnLog.commit(log, 0, Seq(f0), Nil)
    val v = TxnLog.addConstraint(spark, log, "band", "x > 0\n AND x < 10")
    assert(TxnLog.liveFiles(log, v) == Set(f0))
    assert(TxnLog.constraints(log, v) == Seq(("band", "x > 0\n AND x < 10")))
    // both lines are enforced: 10 passes the first, fails the second
    assertThrows[IllegalArgumentException](
      TxnLog.appendChecked(spark, log, root, Seq(10L).toDF("x")))
    assert(TxnLog.latestVersion(log).contains(v))
    assert(TxnLog.appendChecked(spark, log, root, Seq(3L).toDF("x")) == v + 1)
  }

  test("txn log codec: constraint text naming 'batch:x' does not read as a batch id") {
    val root = java.nio.file.Files.createTempDirectory("lh_batchtext").toString
    val log = s"$root/_log"
    TxnLog.commit(log, 0, Seq(fileOf(root, Seq("a").toDF("tag"), "f0")), Nil)
    TxnLog.addConstraint(spark, log, "tagged", "tag <> 'batch:x'")
    assert(TxnLog.appendBatch(log, root, Seq("b").toDF("tag"), 7L))
    assert(TxnLog.appendBatch(log, root, Seq("c").toDF("tag"), 8L))
    assert(!TxnLog.appendBatch(log, root, Seq("c").toDF("tag"), 8L))
    assert(TxnLog.committedBatchIds(log) == Set(7L, 8L))
  }

  test("txn log codec: commit lines keep the established bytes") {
    val log = java.nio.file.Files.createTempDirectory("lh_golden_w").toString + "/_log"
    TxnLog.commit(log, 0, adds = Seq("/d/a.parquet", "/d/b.parquet"), removes = Nil,
      dvs = Seq("/d/dv0.parquet"), partitions = Map("/d/b.parquet" -> "k=1"))
    TxnLog.commit(log, 1, adds = Seq("/d/c.parquet", "/d/d\\e.parquet"),
      removes = Seq("/d/a.parquet"), dvs = Seq("/d/dv1.parquet"),
      meta = Seq("note:say \"hi\" \\ bye"), dvDrops = Seq("/d/dv0.parquet"),
      partitions = Map("/d/c.parquet" -> "k=\"2\""))
    def text(v: Int) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(log, f"_v$v%06d.json"))
    assert(text(0) ==
      """{"action":"add","file":"/d/a.parquet"}
        |{"action":"add","part":"k=1","file":"/d/b.parquet"}
        |{"action":"dv","file":"/d/dv0.parquet"}
        |""".stripMargin)
    assert(text(1) ==
      """{"action":"add","part":"k=\"2\"","file":"/d/c.parquet"}
        |{"action":"add","file":"/d/d\\e.parquet"}
        |{"action":"remove","file":"/d/a.parquet"}
        |{"action":"dv","file":"/d/dv1.parquet"}
        |{"action":"dvdrop","file":"/d/dv0.parquet"}
        |{"action":"meta","file":"note:say \"hi\" \\ bye"}
        |""".stripMargin)
  }

  test("txn log codec: a log in the established text replays unchanged") {
    val log = java.nio.file.Files.createTempDirectory("lh_golden_r").toString
    val commits = Seq(
      """{"action":"add","file":"/t/a.parquet"}
        |{"action":"add","part":"k=1","file":"/t/b \"q\".parquet"}
        |""",
      """{"action":"dv","file":"/t/dv0.parquet"}
        |{"action":"meta","file":"constraint:pos:x > 0 AND s <> \"a\\b\""}
        |""",
      """{"action":"add","file":"/t/c.parquet"}
        |{"action":"remove","file":"/t/a.parquet"}
        |{"action":"meta","file":"rename:x->y"}
        |""",
      """{"action":"add","file":"/t/a.parquet"}
        |{"action":"remove","file":"/t/c.parquet"}
        |{"action":"dvdrop","file":"/t/dv0.parquet"}
        |{"action":"meta","file":"restore:0"}
        |""")
    commits.zipWithIndex.foreach { case (c, v) =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(log, f"_v$v%06d.json"), c.stripMargin)
    }
    val (a, b, c) = ("/t/a.parquet", "/t/b \"q\".parquet", "/t/c.parquet")
    assert(TxnLog.liveFiles(log, 1) == Set(a, b))
    assert(TxnLog.liveFiles(log, 2) == Set(b, c))
    assert(TxnLog.livePartitions(log, 3) == Map(a -> None, b -> Some("k=1")))
    assert(TxnLog.dvFiles(log, 2) == Set("/t/dv0.parquet"))
    assert(TxnLog.dvFiles(log, 3).isEmpty)
    assert(TxnLog.constraints(log, 3) == Seq(("pos", "x > 0 AND s <> \"a\\b\"")))
    assert(TxnLog.columnMapping(log, 1).isEmpty)
    assert(TxnLog.columnMapping(log, 3) == Map("x" -> "y"))
    val h = TxnLog.history(spark, log).orderBy("version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
    assert(h.toSeq == Seq(
      (0L, 2L, 0L, 0L, 0L, "append"),
      (1L, 0L, 0L, 1L, 0L, "add-constraint"),
      (2L, 1L, 1L, 0L, 0L, "rename-column"),
      (3L, 1L, 1L, 0L, 1L, "restore")))
  }
}
