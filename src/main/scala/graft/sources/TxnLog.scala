package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

import graft.query.Json

/** Minimal transaction-log table layout — the Delta/Iceberg commit-log
  * pattern reduced to its load-bearing core: a table IS a log of versioned
  * commits, each an ordered list of `add` / `remove` file actions; any
  * historical state is recovered by replaying the log to a version. This
  * completes the repo's lakehouse family (SCD2 time travel reads ROW
  * history; this reads FILE-LAYOUT history — compaction, appends and
  * deletes become time-travelable without touching row contents).
  *
  * Scale notes: the log is metadata — one tiny JSON-lines file per commit,
  * written via temp+rename (the atomic-publish move a real lakehouse uses);
  * snapshot resolution reads only the ≤ version log files, never data.
  * Readers get a plain parquet DataFrame over the resolved file set, so
  * every downstream operator (including column pruning and pushdown) works
  * unchanged.
  *
  * Line format: one action per line, each a compact `Json.mapper` object
  * with fields in the order `action`, `part` (tagged adds only), `file` —
  * e.g. `{"action":"add","part":"k=1","file":"/t/f.parquet"}`. `action`
  * is add / remove / dv / dvdrop / meta; a meta action's `file` carries
  * the marker text. Strings are JSON-escaped, control characters
  * included, so a marker holding a newline stays on its line.
  *
  * Reference scope: the reference registry versions CONFIGS; file-level
  * table versioning is part of the scale extension surface.
  */
object TxnLog {

  private def logFile(logDir: String, version: Long) =
    new java.io.File(logDir, f"_v$version%06d.json")

  /** One log record: `file` is the data/DV path, or the marker text of a
    * `meta` action; `part` is an add's partition tag. */
  private final case class Action(kind: String, file: String, part: Option[String] = None)

  private def encode(a: Action): String = {
    val n = Json.mapper.createObjectNode().put("action", a.kind)
    a.part.foreach(n.put("part", _))
    Json.mapper.writeValueAsString(n.put("file", a.file))
  }

  /** The actions of commit `v`, in log order — the one reader every
    * replay below folds over. */
  private def actions(logDir: String, v: Long): Seq[Action] =
    java.nio.file.Files.readAllLines(logFile(logDir, v).toPath).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val n = Json.mapper.readTree(line)
        Action(n.get("action").asText(), n.get("file").asText(), Option(n.get("part")).map(_.asText()))
      }

  /** The head version; refuses a log with no commits. */
  private[graft] def requireHead(logDir: String): Long = latestVersion(logDir).getOrElse(
    throw new IllegalArgumentException(s"txn log: no commits in $logDir"))

  /** Refuses `v` outside [0, head]; returns the head. */
  private def inRange(logDir: String, v: Long, what: String = "version"): Long = {
    val latest = requireHead(logDir)
    require(v >= 0 && v <= latest, s"txn log: $what $v out of range [0, $latest]")
    latest
  }

  /** A data-file path as an absolute local path, whether it is logged
    * plainly or comes back from `input_file_name()` as a URI. */
  private def canon(p: String): String =
    try new java.io.File(new java.net.URI(p).getPath).getAbsolutePath
    catch { case _: Exception => new java.io.File(p).getAbsolutePath }

  /** Write `df` as ONE parquet file under `dir` (replacing what is there)
    * and return the file's absolute path — the single-file write behind
    * every one-file commit and fixture. */
  def writeDataFile(df: DataFrame, dir: String): String = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"txn log: no parquet written under $dir"))
      .getAbsolutePath
  }

  /** Attempt to publish `version`; returns false when ANOTHER writer won
    * the race to this version number. The publish is a hard-link creation
    * — atomic fail-if-exists at the filesystem level, so two writers
    * racing the same version can never both succeed and never interleave
    * partial content (the optimistic-concurrency primitive a real
    * lakehouse builds on its object store's put-if-absent). Validation of
    * `removes` against the predecessor snapshot still REFUSES loudly —
    * only the version race returns false. `partitions` optionally tags an
    * added file with its partition spec (`col=value`, see
    * [[livePartitions]]). */
  def tryCommit(
      logDir: String,
      version: Long,
      adds: Seq[String],
      removes: Seq[String],
      dvs: Seq[String] = Nil,
      meta: Seq[String] = Nil,
      dvDrops: Seq[String] = Nil,
      partitions: Map[String, String] = Map.empty): Boolean = {
    val dir = new java.io.File(logDir)
    dir.mkdirs()
    val next = latestVersion(logDir).map(_ + 1).getOrElse(0L)
    // behind the head = a concurrent writer landed first → lose the race
    // quietly (the optimistic loop re-reads and retries); AHEAD of the head
    // would break density and is always a caller bug → refuse loudly
    if (version < next) return false
    require(version == next,
      s"txn log: version $version is not the next dense version in $logDir")
    if (removes.nonEmpty) {
      val live = liveFiles(logDir, version - 1)
      removes.foreach(f => require(live.contains(f),
        s"txn log: cannot remove $f — not live at version ${version - 1}"))
    }
    val lines =
      adds.map(f => Action("add", f, partitions.get(f))) ++ removes.map(Action("remove", _)) ++
        dvs.map(Action("dv", _)) ++ dvDrops.map(Action("dvdrop", _)) ++ meta.map(Action("meta", _))
    val tmp = java.io.File.createTempFile("_graft_txn", ".json", dir)
    java.nio.file.Files.write(tmp.toPath,
      lines.map(encode).mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try {
      java.nio.file.Files.createLink(logFile(logDir, version).toPath, tmp.toPath)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally tmp.delete()
  }

  /** Append one commit. Versions must be dense from 0 (the contract that
    * makes "latest" unambiguous without a catalog); `adds`/`removes` are
    * absolute file paths. A remove of a file not live at this version
    * REFUSES — it means the caller's view of the table has diverged.
    * `dvs` attach deletion-vector files (see [[deleteMergeOnRead]]) —
    * metadata-only row-level deletes that accumulate until the rows'
    * data files are rewritten. */
  def commit(
      logDir: String,
      version: Long,
      adds: Seq[String],
      removes: Seq[String],
      dvs: Seq[String] = Nil,
      /** opaque markers carried in the commit (e.g. `batch:<id>` for the
        * exactly-once streaming sink) — ignored by file-set replay */
      meta: Seq[String] = Nil,
      dvDrops: Seq[String] = Nil,
      partitions: Map[String, String] = Map.empty): Unit =
    require(tryCommit(logDir, version, adds, removes, dvs, meta, dvDrops, partitions),
      s"txn log: atomic publish of version $version failed — concurrent writer won")

  /** Optimistic-concurrency commit (the Delta/Iceberg commit protocol):
    * the writer prepared `adds`/`removes` against snapshot `basedOn`;
    * publishing first attempts `basedOn + 1`, and on losing the race
    * CHECKS SEMANTIC CONFLICT against the commits that landed in between,
    * then rebases to the new head. Conflict rules (the blind-append model:
    * concurrent appends always compose):
    *   - a file this writer removes was already removed (or was never
    *     live) → its rewrite decision is stale → ABORT;
    *   - a deletion vector committed after `basedOn` touches a file this
    *     writer removes → the rewrite was computed from a snapshot that
    *     still showed those rows → ABORT (the concurrent row-delete would
    *     be silently resurrected by the rewrite).
    * Aborts throw ConcurrentModificationException; the caller re-reads the
    * new snapshot and re-derives its change. Returns (version, attempts).
    * At 1000 executors the retry loop costs one tiny log re-read per
    * contender — the data files were already written and never rewrite. */
  def commitOptimistic(
      spark: SparkSession,
      logDir: String,
      basedOn: Long,
      adds: Seq[String],
      removes: Seq[String],
      dvs: Seq[String] = Nil,
      meta: Seq[String] = Nil,
      maxAttempts: Int = 20): (Long, Int) = {
    import org.apache.spark.sql.functions.col
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val head = requireHead(logDir)
      if (removes.nonEmpty) {
        val live = liveFiles(logDir, head)
        val gone = removes.filterNot(live.contains)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"txn log: conflict — ${gone.head} was removed by a concurrent commit")
        val newDvs = (dvFiles(logDir, head) -- dvFiles(logDir, basedOn)).toSeq.sorted
        if (newDvs.nonEmpty) {
          val touched = spark.read.parquet(newDvs: _*).select(col("file")).distinct()
            .collect().map(r => canon(r.getString(0))).toSet
          val hit = removes.filter(f => touched.contains(canon(f)))
          if (hit.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"txn log: conflict — concurrent row-delete touched ${hit.head}")
        }
      }
      if (tryCommit(logDir, head + 1, adds, removes, dvs, meta))
        return (head + 1, attempts)
    }
    throw new IllegalStateException(
      s"txn log: commit lost the version race $maxAttempts times in $logDir")
  }

  /** RESTORE TABLE TO VERSION `toV` (Delta RESTORE / Iceberg rollback):
    * ONE metadata commit makes the head snapshot identical to version
    * `toV` — old data files re-enter by reference, files added since are
    * un-referenced (NOT deleted: every intermediate version stays
    * time-travelable until vacuum), and deletion vectors committed after
    * `toV` are un-bound via `dvdrop` actions so rows they killed are
    * visible again, exactly as they were at `toV`. Zero data IO at any
    * table size. Restoring past the vacuum watermark refuses (the target
    * snapshot's files may be physically gone). Returns the new version. */
  def restore(spark: SparkSession, logDir: String, toV: Long): Long = {
    val head = requireHead(logDir)
    require(toV <= head, s"txn log: cannot restore to future version $toV (head $head)")
    val target = liveFiles(logDir, toV)        // refuses below the vacuum watermark
    val current = liveFiles(logDir, head)
    val dropDvs = (dvFiles(logDir, head) -- dvFiles(logDir, toV)).toSeq.sorted
    commit(logDir, head + 1,
      adds = (target -- current).toSeq.sorted,
      removes = (current -- target).toSeq.sorted,
      dvDrops = dropDvs,
      meta = Seq(s"restore:$toV"))
    head + 1
  }

  /** Shallow clone (Delta SHALLOW CLONE / Iceberg snapshot ref): a NEW
    * table whose version 0 references the source's live files (and
    * deletion vectors) at `asOf` — zero data copied at any table size.
    * The clone then evolves independently: its commits never touch the
    * source log and vice versa. The documented hazard is real here too:
    * the clone borrows the source's data files, so vacuuming the SOURCE
    * can delete files the clone still references — production systems
    * either track external references or deep-clone before source vacuum;
    * the catalog pins the contract as caller responsibility. */
  def shallowClone(srcLog: String, dstLog: String, asOf: Long): Unit = {
    require(latestVersion(dstLog).isEmpty, s"txn log: clone target $dstLog is not empty")
    val parts = livePartitions(srcLog, asOf)
    commit(dstLog, 0,
      adds = liveFiles(srcLog, asOf).toSeq.sorted,
      removes = Nil,
      dvs = dvFiles(srcLog, asOf).toSeq.sorted,
      meta = Seq(s"clone:$srcLog@$asOf"),
      partitions = parts.collect { case (f, Some(p)) => f -> p })
  }

  /** The table's commit history as a DataFrame (Delta DESCRIBE HISTORY /
    * Iceberg `snapshots` metadata table): per-version action counts plus
    * the operation kind derived from the commit's meta markers. The log
    * is metadata — driver-side parse, then a local DataFrame; history
    * size is the version count, never data-scale. */
  def history(spark: SparkSession, logDir: String): DataFrame = {
    import spark.implicits._
    (0L to requireHead(logDir)).map { v =>
      val acts = actions(logDir, v)
      def n(kind: String) = acts.count(_.kind == kind).toLong
      val metas = acts.filter(_.kind == "meta").map(_.file)
      val op =
        if (metas.exists(_.startsWith("restore:"))) "restore"
        else if (metas.exists(_.startsWith("optimize:"))) "optimize"
        else if (metas.exists(_.startsWith("publish:"))) "publish"
        else if (metas.exists(_.startsWith("clone:"))) "clone"
        else if (metas.exists(_.startsWith("batch:"))) "streaming-append"
        else if (metas.exists(_.startsWith("constraint:"))) "add-constraint"
        else if (metas.exists(_.startsWith("rename:"))) "rename-column"
        else if (n("dv") > 0 && n("add") == 0) "delete"
        else if (n("add") > 0 && n("remove") > 0) "rewrite"
        else if (n("add") > 0) "append"
        else "metadata"
      (v, n("add"), n("remove"), n("dv"), n("dvdrop"), op)
    }.toDF("version", "n_adds", "n_removes", "n_dvs", "n_dvdrops", "operation")
  }

  def latestVersion(logDir: String): Option[Long] = {
    val files = Option(new java.io.File(logDir).listFiles()).getOrElse(Array.empty)
    val vs = files.filter(_.getName.matches("_v\\d{6}\\.json"))
      .map(_.getName.stripPrefix("_v").stripSuffix(".json").toLong)
    if (vs.isEmpty) None else Some(vs.max)
  }

  private def watermarkFile(logDir: String) = new java.io.File(logDir, "_vacuum.json")

  /** Oldest version still readable (0 unless [[vacuum]] raised it). */
  def retainedFrom(logDir: String): Long = {
    val f = watermarkFile(logDir)
    if (!f.exists()) 0L
    else Json.mapper.readTree(f).get("retain_from").asLong()
  }

  /** A replay state: the live data files with their partition tags, and
    * the bound deletion vectors. */
  private type Snapshot = (Map[String, Option[String]], Set[String])

  private val emptySnapshot: Snapshot = (Map.empty, Set.empty)

  /** One action applied to a replay state. */
  private def applyAction(state: Snapshot, a: Action): Snapshot = (state, a) match {
    case ((live, dvs), Action("add", f, part)) => (live + (f -> part), dvs)
    case ((live, dvs), Action("remove", f, _)) => (live - f, dvs)
    case ((live, dvs), Action("dv", f, _)) => (live, dvs + f)
    case ((live, dvs), Action("dvdrop", f, _)) => (live, dvs - f)
    case _ => state // meta markers never change the file sets
  }

  /** Commits 0..asOf folded in order. Unguarded — the public projections
    * below check the version. */
  private def replay(logDir: String, asOf: Long): Snapshot =
    (0L to asOf).flatMap(actions(logDir, _)).foldLeft(emptySnapshot)(applyAction)

  /** The live file set after replaying commits 0..asOf (inclusive). */
  def liveFiles(logDir: String, asOf: Long): Set[String] = livePartitions(logDir, asOf).keySet

  /** Expire snapshots older than `retainFrom` and physically delete the
    * data files no retained version references (ref shape: Delta VACUUM /
    * Iceberg expire_snapshots — the admin affordance that keeps a table
    * from growing forever, the file-level sibling of the registry's
    * deleteVersion). The log itself stays (history metadata is tiny); a
    * `_vacuum.json` watermark makes expired-version reads REFUSE with the
    * oldest retained version named, instead of failing mid-scan on a
    * missing file. Deletion-vector files are always kept: vectors
    * accumulate, so any retained version may depend on one committed
    * before the watermark. The watermark is monotone — vacuuming to an
    * older version than the current watermark refuses. Returns the
    * physically deleted data files (sorted). */
  def vacuum(logDir: String, retainFrom: Long): Seq[String] = {
    val latest = inRange(logDir, retainFrom, "retainFrom")
    require(retainFrom >= retainedFrom(logDir),
      s"txn log: watermark is monotone — already vacuumed to ${retainedFrom(logDir)}")
    // one pass over the log, each commit read once: the replay's live set
    // after every retained version, and every data file ever added
    val (_, referenced, allAdds) =
      (0L to latest).foldLeft((emptySnapshot, Set.empty[String], Set.empty[String])) {
        case ((state, ref, adds), v) =>
          val acts = actions(logDir, v)
          val next = acts.foldLeft(state)(applyAction)
          (next, if (v >= retainFrom) ref ++ next._1.keySet else ref,
            adds ++ acts.collect { case Action("add", f, _) => f })
      }
    val doomed = (allAdds -- referenced).toSeq.sorted
    // publish the watermark FIRST: a reader racing the deletes sees the
    // refusal, never a half-deleted snapshot
    java.nio.file.Files.writeString(watermarkFile(logDir).toPath,
      Json.mapper.writeValueAsString(Json.mapper.createObjectNode().put("retain_from", retainFrom)))
    doomed.foreach(f => new java.io.File(f).delete())
    doomed
  }

  /** Deletion-vector files BOUND at version asOf: `dv` actions accumulate,
    * `dvdrop` actions (written by [[restore]]) un-bind — prefix replay, so
    * every historical version keeps exactly the visibility it had. */
  def dvFiles(logDir: String, asOf: Long): Set[String] = {
    inRange(logDir, asOf)
    replay(logDir, asOf)._2
  }

  /** Live files at `asOf` with their partition tag (None for files added
    * before the table gained a partition spec — the Iceberg
    * partition-evolution state: one table, several layouts coexisting). */
  def livePartitions(logDir: String, asOf: Long): Map[String, Option[String]] = {
    inRange(logDir, asOf)
    require(asOf >= retainedFrom(logDir),
      s"txn log: version $asOf was expired by vacuum (oldest retained: ${retainedFrom(logDir)})")
    replay(logDir, asOf)._1
  }

  /** Partition-pruned file planning under PARTITION EVOLUTION: for an
    * equality predicate `col = value`, a file added under a partition spec
    * on `col` is pruned when its tag mismatches; files from OTHER specs —
    * pre-evolution unpartitioned files, or files partitioned on a
    * different column — cannot be pruned by this predicate and stay in
    * the plan (Spark then applies the residual filter to their rows).
    * This is the Iceberg contract: evolving the spec NEVER rewrites old
    * files; old data keeps old-layout planning, new data prunes. */
  def pruneByPartition(logDir: String, asOf: Long, col: String, value: String): Seq[String] =
    livePartitions(logDir, asOf).collect {
      case (f, None) => f
      case (f, Some(p)) if !p.startsWith(col + "=") => f
      case (f, Some(p)) if p == s"$col=$value" => f
    }.toSeq.sorted

  /** Range planning over TRANSFORM-derived partition tags — the hidden-
    * partitioning half of the Iceberg contract (the equality form above is
    * the other half): a table partitioned by a transform of a data column
    * (days(ts), bucket(n, k), truncate(w, s)) is queried on the RAW
    * column; the planner derives the matching transform-value range from
    * the predicate bounds and prunes by tag, the user never names the
    * partition column. Tags are parsed as integers; a file whose tag on
    * `col` does not parse CANNOT be pruned by a range and conservatively
    * stays in the plan, like files from other specs — pruning must never
    * drop data, only skip provably-mismatched files. The residual row
    * filter still applies to survivors (a boundary day's file carries
    * out-of-range rows). */
  def pruneByPartitionRange(
      logDir: String, asOf: Long, col: String, lo: Long, hi: Long): Seq[String] = {
    require(lo <= hi, s"txn log: empty transform range [$lo, $hi]")
    livePartitions(logDir, asOf).collect {
      case (f, None) => f
      case (f, Some(p)) if !p.startsWith(col + "=") => f
      case (f, Some(p)) if p.startsWith(col + "=") &&
        p.stripPrefix(col + "=").toLongOption.forall(v => v >= lo && v <= hi) => f
    }.toSeq.sorted
  }

  /** Data files ADDED by exactly version `v` (the streaming-source unit:
    * an append-only reader emits these rows per consumed version). */
  def addedFiles(logDir: String, v: Long): Seq[String] = {
    inRange(logDir, v)
    actions(logDir, v).collect { case Action("add", f, _) => f }
  }

  /** Whether version `v` CHANGES existing data (removes a file or commits
    * a deletion vector) — the commits an append-only streaming reader
    * must refuse or, under `skipChangeCommits`, skip. */
  def isChangeCommit(logDir: String, v: Long): Boolean = {
    inRange(logDir, v)
    actions(logDir, v).exists(a => a.kind == "remove" || a.kind == "dv" || a.kind == "dvdrop")
  }

  private def metaMarkers(logDir: String, asOf: Long, prefix: String): Seq[String] = {
    inRange(logDir, asOf)
    (0L to asOf).flatMap(actions(logDir, _)).collect {
      case Action("meta", m, _) if m.startsWith(prefix) => m.stripPrefix(prefix)
    }
  }

  /** Column mapping at `asOf` (Delta column-mapping rename): physical
    * column name (what the parquet files carry, fixed forever) → logical
    * name (what readers see). Renames are pure-metadata commits recorded
    * as `rename:<current-logical>-><new-logical>` markers, folded in
    * order; a name never touched maps to itself. */
  def columnMapping(logDir: String, asOf: Long): Map[String, String] = {
    val renames = metaMarkers(logDir, asOf, "rename:").map { m =>
      val Array(from, to) = m.split("->", 2)
      (from, to)
    }
    renames.foldLeft(Map.empty[String, String]) { case (map, (from, to)) =>
      // find which physical column currently presents as `from`
      val phys = map.find(_._2 == from).map(_._1).getOrElse(from)
      map + (phys -> to)
    }
  }

  /** RENAME COLUMN without rewriting a single data file: a metadata
    * commit re-binding the logical name; every physical file keeps its
    * original column name forever and [[readAsOfMapped]] projects the
    * mapping at read time — the Delta column-mapping semantics that make
    * renames O(1) on a 100 TB table. Refuses when `from` is not a current
    * logical column or `to` collides. Returns the committed version. */
  def renameColumn(spark: SparkSession, logDir: String, from: String, to: String): Long = {
    val head = requireHead(logDir)
    val logical = readAsOfMapped(spark, logDir, head).columns.toSet
    require(logical.contains(from), s"txn log: rename — no column '$from' (have ${logical.mkString(",")})")
    require(!logical.contains(to), s"txn log: rename — column '$to' already exists")
    commit(logDir, head + 1, adds = Nil, removes = Nil, meta = Seq(s"rename:$from->$to"))
    head + 1
  }

  /** Snapshot read with the column mapping applied: physical columns
    * project to their logical names AS OF that version, so time travel
    * shows each version under the names it had then. */
  def readAsOfMapped(spark: SparkSession, logDir: String, asOf: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = readAsOf(spark, logDir, asOf)
    val mapping = columnMapping(logDir, asOf)
    if (mapping.isEmpty) base
    else base.select(base.columns.map(c => col(c).as(mapping.getOrElse(c, c))).toIndexedSeq: _*)
  }

  /** CHECK constraints in force at `asOf`, as (name, sql-expression). */
  def constraints(logDir: String, asOf: Long): Seq[(String, String)] =
    metaMarkers(logDir, asOf, "constraint:").map { m =>
      val Array(name, expr) = m.split(":", 2)
      (name, expr)
    }

  /** ADD CONSTRAINT (Delta CHECK constraint): refuses unless the CURRENT
    * visible snapshot already satisfies the expression — one distributed
    * count, no rewrite — then records the constraint as a metadata
    * commit. From that version on [[appendChecked]] enforces it on every
    * write. Returns the committed version. */
  def addConstraint(spark: SparkSession, logDir: String, name: String, exprSql: String): Long = {
    require(!name.contains(":") && name.nonEmpty, s"txn log: bad constraint name '$name'")
    val head = requireHead(logDir)
    require(!constraints(logDir, head).exists(_._1 == name),
      s"txn log: constraint '$name' already exists")
    val bad = readAsOfWithDeletes(spark, logDir, head)
      .filter(!org.apache.spark.sql.functions.expr(exprSql)).count()
    require(bad == 0L,
      s"txn log: cannot add constraint '$name' — $bad existing rows violate ($exprSql)")
    commit(logDir, head + 1, adds = Nil, removes = Nil, meta = Seq(s"constraint:$name:$exprSql"))
    head + 1
  }

  /** Constraint-checked append: validates `df` against every constraint
    * in force BEFORE any data file is written — a violating batch refuses
    * atomically (no orphan file, no commit, table unchanged). The check
    * is one distributed filter-count per batch; `null` results violate
    * (ANSI CHECK semantics: the constraint must be TRUE). Returns the
    * committed version. */
  def appendChecked(spark: SparkSession, logDir: String, dataDir: String, df: DataFrame): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val head = requireHead(logDir)
    constraints(logDir, head).foreach { case (name, sql) =>
      val bad = df.filter(!coalesce(expr(sql), lit(false))).count()
      require(bad == 0L,
        s"txn log: append refused — $bad rows violate constraint '$name' ($sql)")
    }
    val file = writeDataFile(df, s"$dataDir/checked_${head + 1}")
    commit(logDir, head + 1, adds = Seq(file), removes = Nil)
    head + 1
  }

  /** Snapshot read AS OF a version: parquet over the resolved file set
    * with SCHEMA MERGING — the table's schema is the union of its live
    * files' schemas, so a column added by a later commit (schema
    * evolution) reads as null from pre-evolution files, the Delta/Iceberg
    * add-column semantics. Footer-union cost is per-file metadata. */
  def readAsOf(spark: SparkSession, logDir: String, asOf: Long): DataFrame = {
    val files = liveFiles(logDir, asOf).toSeq.sorted
    require(files.nonEmpty, s"txn log: version $asOf has no live files")
    spark.read.option("mergeSchema", "true").parquet(files: _*)
  }

  /** Snapshot read with deletion vectors applied — the merge-on-read path:
    * live files scan as usual, then one anti-join against the accumulated
    * (file, pos) delete set drops the dead rows. Row identity is the
    * parquet physical row position (`_metadata.row_index` — stable for a
    * file, and a rewritten file gets a new path so stale DV entries can
    * never hit it). The DV table is deleted-rows-sized metadata; Spark
    * broadcasts it when small, which is the common case. */
  def readAsOfWithDeletes(spark: SparkSession, logDir: String, asOf: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val base = readAsOf(spark, logDir, asOf)
    val dvs = dvFiles(logDir, asOf).toSeq.sorted
    if (dvs.isEmpty) base
    else {
      val dv = spark.read.parquet(dvs: _*)
        .select(col("file").as("__graft_file"), col("pos").as("__graft_pos"))
        .distinct()
      base
        .withColumn("__graft_file", input_file_name())
        .withColumn("__graft_pos", col("_metadata.row_index"))
        .join(dv, Seq("__graft_file", "__graft_pos"), "left_anti")
        .drop("__graft_file", "__graft_pos")
    }
  }

  /** DELETE WHERE, merge-on-read (the Delta deletion-vector / Iceberg v2
    * position-delete path — the complement of [[mergeCopyOnWrite]]): rows
    * of the CURRENT visible snapshot matching `predicate` are recorded as
    * (file, row-position) pairs in a deletion-vector file; NO data file is
    * read-modified-written. Write cost is proportional to the deleted row
    * COUNT, not to the table — which is why row-level deletes on a
    * trillion-row table (GDPR erasure, late-data retraction) run as
    * metadata commits, deferring the rewrite to the next compaction or
    * copy-on-write merge of those files. Returns the committed version. */
  def deleteMergeOnRead(
      spark: SparkSession,
      logDir: String,
      dvOutDir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val v = requireHead(logDir)
    val files = liveFiles(logDir, v).toSeq.sorted
    require(files.nonEmpty, s"txn log: version $v has no live files")
    // predicate applies to the VISIBLE snapshot: rows already dead under an
    // earlier DV must not re-enter the new vector (entry count stays the
    // honest "rows this delete killed")
    val existing = dvFiles(logDir, v).toSeq.sorted
    val marked = spark.read.option("mergeSchema", "true").parquet(files: _*)
      .withColumn("__graft_file", input_file_name())
      .withColumn("__graft_pos", col("_metadata.row_index"))
      .filter(predicate)
    val visible =
      if (existing.isEmpty) marked
      else marked.join(
        spark.read.parquet(existing: _*)
          .select(col("file").as("__graft_file"), col("pos").as("__graft_pos"))
          .distinct(),
        Seq("__graft_file", "__graft_pos"), "left_anti")
    val dvFile = writeDataFile(
      visible.select(col("__graft_file").as("file"), col("__graft_pos").as("pos")), dvOutDir)
    commit(logDir, v + 1, adds = Nil, removes = Nil, dvs = Seq(dvFile))
    v + 1
  }

  /** OPTIMIZE (bin-pack compaction) through the transaction log — the
    * maintenance op that resolves the debt the merge-on-read path defers:
    * the VISIBLE snapshot (deletion vectors applied) rewrites into
    * `targetFiles` hash-bucketed files in ONE atomic commit that removes
    * every old data file and UN-BINDS every deletion vector (`dvdrop`) —
    * after compaction the row-level deletes are MATERIALIZED, scans pay
    * no anti-join, and the next vacuum can reclaim both the old files and
    * nothing depends on the vectors any more. Readers see the old or new
    * layout, never a mix; every pre-compaction version stays
    * time-travelable with its own visibility. Bucketing is content-keyed
    * (xxhash64 over the whole row) so the layout is deterministic —
    * which also makes it oracle-replayable. At scale the rewrite is one
    * shuffle-free pass when `targetFiles` ≥ input partitions, or one
    * repartition otherwise; cost ∝ LIVE data. Returns the committed
    * version. */
  def compact(
      spark: SparkSession,
      logDir: String,
      outDir: String,
      targetFiles: Int,
      /** bucket assignment per row; default content hash. A key-residue
        * expression makes the layout arithmetic-replayable (what q282
        * pins); one OUTPUT FILE per distinct bucket value either way. */
      bucket: Option[org.apache.spark.sql.Column] = None): Long = {
    import org.apache.spark.sql.functions.{abs, col, lit, pmod, xxhash64}
    require(targetFiles >= 1, s"txn log: compact needs targetFiles >= 1, got $targetFiles")
    val v = requireHead(logDir)
    val files = liveFiles(logDir, v).toSeq.sorted
    require(files.nonEmpty, s"txn log: version $v has no live files")
    val visible = readAsOfWithDeletes(spark, logDir, v)
    val bucketCol = bucket.getOrElse(
      pmod(abs(xxhash64(visible.columns.map(col).toIndexedSeq: _*)), lit(targetFiles)))
    // repartition by bucket (whole buckets per task) + partitionBy ⇒
    // exactly one file per non-empty bucket, in ONE distributed write
    visible.withColumn("__graft_bucket", bucketCol)
      .repartition(targetFiles, col("__graft_bucket"))
      .write.mode("overwrite").partitionBy("__graft_bucket").parquet(outDir)
    val outs = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("__graft_bucket="))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq.sorted
    require(outs.nonEmpty, s"txn log: compact wrote no parquet under $outDir")
    commit(logDir, v + 1, adds = outs, removes = files,
      dvDrops = dvFiles(logDir, v).toSeq.sorted, meta = Seq("optimize:compact"))
    v + 1
  }

  /** Write-audit-publish (the Iceberg WAP / audit-branch workflow): data
    * lands on a STAGING table (a [[shallowClone]] of the main table), gets
    * audited there, and only then publishes — so consumers of the main
    * table can never observe unvalidated rows, and a failed audit leaves
    * main bit-identical (the staging branch keeps the bad data for
    * debugging). Publish is ZERO-COPY: the staged data files commit into
    * the main log by reference via [[commitOptimistic]], so a concurrent
    * writer on main triggers the usual rebase/conflict path instead of a
    * lost update.
    *
    * This implementation audits the staged APPENDS against every CHECK
    * constraint in force on main (one distributed filter-count per
    * constraint over the delta only — cost ∝ staged rows); staging must
    * be append-only relative to its clone point (a staged rewrite of main
    * data cannot publish by file reference — it refuses). Returns the
    * published main version. */
  def publishStaged(
      spark: SparkSession,
      mainLog: String,
      stagingLog: String,
      basedOn: Long): Long = {
    val stagingHead = requireHead(stagingLog)
    val cloneBase = liveFiles(stagingLog, 0)
    val stagedLive = liveFiles(stagingLog, stagingHead)
    require(cloneBase.subsetOf(stagedLive),
      "txn log: publish — staging rewrote or removed cloned main files; only appends can publish by reference")
    require((dvFiles(stagingLog, stagingHead) -- dvFiles(stagingLog, 0)).isEmpty,
      "txn log: publish — staging committed deletion vectors; only appends can publish by reference")
    val delta = (stagedLive -- cloneBase).toSeq.sorted
    require(delta.nonEmpty, "txn log: publish — staging added no files")
    val staged = spark.read.option("mergeSchema", "true").parquet(delta: _*)
    constraints(mainLog, requireHead(mainLog)).foreach { case (name, sql) =>
      import org.apache.spark.sql.functions.{coalesce, expr, lit}
      val bad = staged.filter(!coalesce(expr(sql), lit(false))).count()
      require(bad == 0L,
        s"txn log: publish refused — $bad staged rows violate constraint '$name' ($sql)")
    }
    commitOptimistic(spark, mainLog, basedOn, adds = delta, removes = Nil,
      meta = Seq(s"publish:$stagingLog@$stagingHead"))._1
  }

  /** Batch ids already committed via [[appendBatch]] (from `batch:<id>`
    * meta markers). */
  def committedBatchIds(logDir: String): Set[Long] =
    latestVersion(logDir).map(metaMarkers(logDir, _, "batch:").map(_.toLong).toSet)
      .getOrElse(Set.empty)

  /** Exactly-once streaming append: the foreachBatch sink body for
    * ingesting a stream into a txn-log table. Structured Streaming
    * REPLAYS a micro-batch after failure with the SAME batch id; recording
    * the id as a commit marker and skipping already-committed ids makes
    * the table-level append idempotent — the replayed batch becomes a
    * no-op instead of duplicate rows (the same contract q190's serving
    * sink implements with per-batch overwrite, here as an append-only
    * versioned table where every micro-batch stays time-travelable).
    * Returns true when the batch committed, false when skipped. */
  def appendBatch(
      logDir: String,
      dataDir: String,
      batch: DataFrame,
      batchId: Long): Boolean = {
    if (committedBatchIds(logDir).contains(batchId)) return false
    val file = writeDataFile(batch, s"$dataDir/batch_$batchId")
    val next = latestVersion(logDir).map(_ + 1).getOrElse(0L)
    commit(logDir, next, adds = Seq(file), removes = Nil, meta = Seq(s"batch:$batchId"))
    true
  }

  /** Change data feed between two versions (Delta CDF / Iceberg
    * changelog-scan shape): the row-level delta derived from the
    * FILE-level log diff — only files that changed hands between the
    * versions (plus files referenced by new deletion vectors) are read;
    * carried files contribute zero IO, so the cost scales with the CHANGE,
    * not the table. A row rewritten verbatim into a new file (the carried
    * part of a copy-on-write merge) cancels in the content-level
    * EXCEPT ALL and correctly emits nothing. Returns rows tagged
    * `change_type` ∈ {insert, delete} — an update appears as its
    * delete + insert pair, multiset-exact via EXCEPT ALL. */
  def changesBetween(
      spark: SparkSession,
      logDir: String,
      fromV: Long,
      toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    require(fromV < toV, s"txn log: changesBetween needs fromV < toV, got [$fromV, $toV]")
    val before = liveFiles(logDir, fromV)
    val after = liveFiles(logDir, toV)
    val newDvs = (dvFiles(logDir, toV) -- dvFiles(logDir, fromV)).toSeq.sorted
    // files whose rows can differ: the symmetric file-set difference, plus
    // carried files hit by a NEW deletion vector
    val dvTouched: Set[String] =
      if (newDvs.isEmpty) Set.empty
      else {
        val hit = spark.read.parquet(newDvs: _*).select(col("file")).distinct()
          .collect().map(r => canon(r.getString(0))).toSet
        (before ++ after).filter(f => hit.contains(canon(f)))
      }
    val candidates = ((before diff after) ++ (after diff before) ++ dvTouched).toSeq.sorted
    val schema = readAsOf(spark, logDir, toV).schema
    def visibleIn(files: Seq[String], asOf: Long): DataFrame = {
      if (files.isEmpty)
        return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val dvs = dvFiles(logDir, asOf).toSeq.sorted
      val base = spark.read.option("mergeSchema", "true").parquet(files: _*)
      val deduped =
        if (dvs.isEmpty) base
        else base
          .withColumn("__graft_file", input_file_name())
          .withColumn("__graft_pos", col("_metadata.row_index"))
          .join(
            spark.read.parquet(dvs: _*)
              .select(col("file").as("__graft_file"), col("pos").as("__graft_pos"))
              .distinct(),
            Seq("__graft_file", "__graft_pos"), "left_anti")
          .drop("__graft_file", "__graft_pos")
      // conform to the TO-version schema so the EXCEPT ALL is well-typed
      // across a schema evolution: a column the from-side files predate
      // reads as null, exactly how those rows present post-evolution
      deduped.select(schema.fields.map { f =>
        if (deduped.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
    }
    val visFrom = visibleIn(candidates.filter(before.contains), fromV)
    val visTo = visibleIn(candidates.filter(after.contains), toV)
    visTo.exceptAll(visFrom).withColumn("change_type", lit("insert"))
      .unionByName(visFrom.exceptAll(visTo).withColumn("change_type", lit("delete")))
  }

  /** MERGE INTO, copy-on-write (the Delta/Iceberg upsert): apply `updates`
    * — unique on `keyCol` — to the latest snapshot. Matched keys replace
    * their row, unmatched keys insert. ONLY files that CONTAIN a matched
    * key are rewritten; every other file carries over by reference with
    * zero data IO — the copy-on-write contract that bounds write
    * amplification to touched files, which is what makes a trillion-row
    * table upsertable (file attribution is one semi-join over
    * input_file_name, the same scan the rewrite needs anyway). The merge
    * publishes as ONE atomic commit (removes = touched, adds = the merged
    * file), so readers see the old or new snapshot, never a mix, and the
    * pre-merge version stays time-travelable.
    *
    * `outDir` receives the merged output (single-file here — the catalog's
    * data scale; a production writer would keep the snapshot's file-size
    * distribution). Returns the committed version. */
  def mergeCopyOnWrite(
      spark: SparkSession,
      logDir: String,
      outDir: String,
      updates: DataFrame,
      keyCol: String): Long = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit}
    val v = requireHead(logDir)
    val files = liveFiles(logDir, v).toSeq.sorted
    val snap = spark.read.option("mergeSchema", "true").parquet(files: _*)
    require(updates.columns.sorted.sameElements(snap.columns.sorted),
      s"merge: updates schema ${updates.columns.mkString(",")} != table schema ${snap.columns.mkString(",")}")
    val dup = updates.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge: duplicate update key '${dup.headOption.map(_.get(0)).orNull}' — one row per key")
    val keys = updates.select(col(keyCol))
    // the merge MUST see the VISIBLE snapshot: reading raw files would
    // resurrect rows a deletion vector killed, both in file attribution
    // (a file whose only match is a dead row isn't touched) and in the
    // rewrite (dead rows must not be copied into the merged file)
    val dvs = dvFiles(logDir, v).toSeq.sorted
    def visible(df: DataFrame): DataFrame = {
      val marked = df
        .withColumn("__graft_file", input_file_name())
        .withColumn("__graft_pos", col("_metadata.row_index"))
      if (dvs.isEmpty) marked
      else marked.join(
        spark.read.parquet(dvs: _*)
          .select(col("file").as("__graft_file"), col("pos").as("__graft_pos"))
          .distinct(),
        Seq("__graft_file", "__graft_pos"), "left_anti")
    }
    // which files contain a matched VISIBLE key — driver-bounded by the file count
    val touchedCanon = visible(snap)
      .join(keys, Seq(keyCol), "left_semi")
      .select(col("__graft_file")).distinct().collect()
      .map(r => canon(r.getString(0))).toSet
    val touched = files.filter(f => touchedCanon.contains(canon(f)))
    require(touched.size == touchedCanon.size,
      s"merge: ${touchedCanon.size} matched files but only ${touched.size} resolve to logged paths")
    val merged =
      if (touched.isEmpty) updates
      else {
        val survivors = visible(spark.read.option("mergeSchema", "true").parquet(touched: _*))
          .drop("__graft_file", "__graft_pos")
          .join(keys, Seq(keyCol), "left_anti")
        // conform to the TABLE schema: survivors from pre-evolution files
        // null-fill columns a later commit added (Delta's CoW write shape)
        survivors.select(snap.schema.fields.map { f =>
          if (survivors.columns.contains(f.name)) col(f.name)
          else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*).unionByName(updates)
      }
    commit(logDir, v + 1, adds = Seq(writeDataFile(merged, outDir)), removes = touched)
    v + 1
  }
}
