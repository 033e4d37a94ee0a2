package graft.sources

import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path => HPath}
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.core.{Constants, FileSchema}
import graft.query.Json

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Readers: suffix-dispatched scan with optional declared schema and
  * FileSchema renames/ignores
  * (ref behaviors: dsgrid/spark/functions.py:402-494, dsgrid/utils/spark.py:173-277,
  * dsgrid/config/file_schema.py:80-190). */
object Readers {

  /** The engine's table opener. `spark.read.parquet` infers the schema
    * with a one-task Spark job per open. A flat directory of Spark-written
    * parquet already carries that schema in each data file's footer (the
    * `org.apache.spark.sql.parquet.row.metadata` key), so it is read
    * in-process from one footer and given to the reader: no job, and the same
    * scan (pushdown and pruning stay Catalyst's). Relation resolution makes
    * a given schema nullable just as it makes an inferred one, so the
    * opened schema equals the inferred one. Everything else opens with
    * `spark.read.parquet` unchanged: a missing path, a file or glob,
    * subdirectories (Hive partitions), summary files, no data file, an
    * unreadable footer, a footer without Spark's key, or
    * `spark.sql.parquet.mergeSchema` on. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The Spark schema in the footer of the directory's first data file, or
    * None where [[parquet]] falls back. Files are classed as Spark's file
    * index classes them: names starting with `_` or `.` are not data, but
    * summary files (`_metadata`, `_common_metadata`) would be read for the
    * schema, so they force the fallback. */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val hp = new HPath(path)
      val fs = HadoopFs.fs(spark, hp)
      val mergeSchema = spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean
      if (mergeSchema || path.exists("{}[]*?\\".contains(_)) || !fs.getFileStatus(hp).isDirectory) None
      else {
        val entries = fs.listStatus(hp).toSeq
        val data = entries.filterNot(st => hiddenFromSpark(st.getPath.getName))
        val summary = entries.map(_.getPath.getName)
          .exists(n => n.startsWith("_metadata") || n.startsWith("_common_metadata"))
        if (summary || data.isEmpty || entries.exists(_.isDirectory)) None
        else {
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromStatus(data.minBy(_.getPath.getName), conf),
            ParquetReadOptions.builder().withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
          val json = try reader.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey) finally reader.close()
          Option(json).map(DataType.fromJson).collect { case st: StructType => st }
        }
      }
    } catch { case NonFatal(_) => None }

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def hiddenFromSpark(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_")

  /** Header CSV with optional declared schema (infer when absent). */
  def csv(spark: SparkSession, path: String, schema: Option[FileSchema] = None): DataFrame = {
    val base = spark.read.option("header", "true")
    schema.flatMap(_.toStructType) match {
      case Some(st) => base.schema(st).csv(path)
      case None => base.option("inferSchema", "true").csv(path)
    }
  }

  /** Line-delimited JSON, strict (ref FAILFAST: dsgrid/spark/functions.py:469-484). */
  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mode", "FAILFAST").json(path)

  /** ORC scan — the other columnar format Spark ships natively (the
    * reference is parquet-only; warehouse interop needs ORC too). Same
    * pushdown/pruning behavior as parquet via the vectorized ORC reader. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Plain-text scan: one row per line, single `value` string column —
    * the lowest-common-denominator corpus interchange format. */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Schema-evolution read: multiple parquet roots written at different
    * schema versions, reconciled by field NAME (`mergeSchema`) — columns
    * absent in older files surface as NULL. This is the scan-side answer
    * to additive schema evolution over years of 100 TB partitions: no
    * rewrite of old data, one footer-merge pass at planning time (footers
    * only — data pages are untouched until the scan). */
  def parquetMerged(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Suffix dispatch (ref: dsgrid/utils/spark.py:173-277). */
  def read(spark: SparkSession, path: String, schema: Option[FileSchema] = None): DataFrame = {
    val p = path.toLowerCase
    val df =
      if (p.endsWith(".csv")) csv(spark, path, schema)
      else if (p.endsWith(".json")) json(spark, path)
      else parquet(spark, path)
    schema.map(applyFileSchema(df, _)).getOrElse(df)
  }

  /** Read with invalid-file recovery: a corrupt/truncated part file fails
    * the whole scan (lazily, mid-job); sweep the directory for files whose
    * trailing magic isn't PAR1 and delete them before reading — 4 bytes of
    * IO per file, local-FS scratch/cache dirs only, where files are
    * reproducible (ref: dsgrid/utils/spark.py:173-277 deletes corrupt
    * parquet and retries). */
  def readWithRecovery(spark: SparkSession, path: String): DataFrame = {
    val dir = Paths.get(path)
    if (Files.isDirectory(dir)) {
      Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet") && isCorruptParquet(p))
        .foreach(Files.delete)
    }
    parquet(spark, path)
  }

  private def isCorruptParquet(p: Path): Boolean = {
    // valid parquet ends with the 4-byte magic "PAR1"
    val size = Files.size(p)
    if (size < 8) return true
    val ch = Files.newByteChannel(p)
    try {
      ch.position(size - 4)
      val buf = java.nio.ByteBuffer.allocate(4)
      ch.read(buf)
      !java.util.Arrays.equals(buf.array(), "PAR1".getBytes("US-ASCII"))
    } finally ch.close()
  }

  /** Apply FileSchema ignore-columns and rename-to-dimension mappings. */
  def applyFileSchema(df: DataFrame, fs: FileSchema): DataFrame = {
    val dropped = if (fs.ignoreColumns.nonEmpty) df.drop(fs.ignoreColumns: _*) else df
    fs.renames.foldLeft(dropped) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
  }

  /** Cross-product generator: map of column → id list to the DataFrame of
    * their cartesian product. The reference stages this through partitioned
    * CSV to dodge a Python-RPC bottleneck (dsgrid/utils/spark.py:736-819,
    * comment :752-770); in-JVM a fold of broadcast crossJoins is exact and
    * distributed — each list is tiny, the product is built on executors. */
  def crossProduct(spark: SparkSession, ids: Seq[(String, Seq[String])]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bc}
    require(ids.nonEmpty, "crossProduct needs at least one column")
    ids.map { case (name, values) =>
      spark.createDataFrame(values.map(Tuple1(_))).toDF(name)
    }.reduce((a, b) => a.crossJoin(bc(b)))
  }

  /** Read a dir of per-table parquet files as named temp views, so callers
    * can run SQL against the TESTDATA layout. */
  def registerDir(spark: SparkSession, dir: String): Unit = {
    val d = Paths.get(dir)
    Files.list(d).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .foreach { f =>
        val name = f.getFileName.toString.stripSuffix(".parquet")
        spark.read.parquet(f.toString).createOrReplaceTempView(name)
      }
  }
}

/** The engine's one storage accessor and the only place a path becomes a
  * Hadoop `FileSystem`. The decision it owns: every engine path — registry
  * roots, cache directories, JSON sidecars, written results and the
  * `Writers`' own list/delete/publish steps — is a Hadoop path, so a plain
  * local path, a `file:` URI, HDFS and object stores all behave the same.
  * The local-only exceptions are `Readers.readWithRecovery`, `TxnLog`,
  * `FixedWidth` and the NIO lock path of `HadoopStorage`. Sidecars parse
  * and render with [[Json]]'s lenient mapper. */
object HadoopFs {

  private[graft] def fs(spark: SparkSession, path: HPath): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean = {
    val hp = new HPath(path)
    fs(spark, hp).exists(hp)
  }

  /** The entries directly under `path`, one `listStatus`; Nil when it is
    * missing. */
  def list(spark: SparkSession, path: String): Seq[FileStatus] = {
    val hp = new HPath(path)
    val f = fs(spark, hp)
    if (f.exists(hp)) f.listStatus(hp).toSeq else Nil
  }

  /** Sorted names of the directories directly under `path`; Nil when it
    * is missing. Hidden names (a leading `.` or `_`) are skipped, so a
    * [[publish]] temp dir is never listed. */
  def subdirs(spark: SparkSession, path: String): Seq[String] =
    list(spark, path).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted

  /** Delete `path` and everything under it; false when nothing was there. */
  def delete(spark: SparkSession, path: String): Boolean = {
    val hp = new HPath(path)
    fs(spark, hp).delete(hp, true)
  }

  /** The engine's one publish step: how a directory object it writes (its
    * parquet tables and JSON sidecars together) becomes visible. `write`
    * fills a hidden sibling temp dir, `.tmp_<name>_<uuid>`, with the whole
    * object and one rename makes it visible; the temp dir is removed on
    * failure. An existing `target` is replaced: moved aside, the new dir
    * renamed in, the old one deleted. Spark cannot overwrite a path a
    * job reads (ref: dsgrid/utils/spark.py:474-499), so the object may be
    * built from its own previous version. */
  def publish(spark: SparkSession, target: String)(write: String => Unit): Unit =
    publishDir(spark, target, replace = true)(write)

  /** [[publish]] for a content-keyed entry: an existing `target` already
    * holds the same content, so it is kept and the new copy dropped — a
    * lost race against a concurrent writer. */
  def publishOnce(spark: SparkSession, target: String)(write: String => Unit): Unit =
    publishDir(spark, target, replace = false)(write)

  private def publishDir(spark: SparkSession, target: String, replace: Boolean)(write: String => Unit): Unit = {
    val dst = new HPath(target)
    val f = fs(spark, dst)
    val tmp = new HPath(dst.getParent, s".tmp_${dst.getName}_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      write(tmp.toString)
      if (replace && f.exists(dst)) {
        val old = tmp.suffix("_old")
        if (!f.rename(dst, old)) throw new java.io.IOException(s"could not move $target aside")
        if (!f.rename(tmp, dst)) {
          f.rename(old, dst)
          throw new java.io.IOException(s"could not rename $tmp to $target")
        }
        f.delete(old, true)
      } else f.rename(tmp, dst)
      // a Hadoop rename onto a directory that appeared meanwhile moves the
      // source inside it and returns true: the other writer won, so drop
      // this copy
      f.delete(new HPath(dst, tmp.getName), true)
    } finally f.delete(tmp, true)
  }

  /** Recursive copy, across any two filesystems (`FileUtil.copy` with
    * overwrite on). */
  def copy(spark: SparkSession, from: String, to: String): Unit = {
    val src = new HPath(from)
    val dst = new HPath(to)
    FileUtil.copy(fs(spark, src), src, fs(spark, dst), dst, false, true, spark.sparkContext.hadoopConfiguration)
  }

  def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val hp = new HPath(path)
    val out = fs(spark, hp).create(hp, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readText(spark: SparkSession, path: String): String = {
    val hp = new HPath(path)
    val in = fs(spark, hp).open(hp)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** A JSON sidecar, parsed; None when the file is missing. */
  def readJson(spark: SparkSession, path: String): Option[JsonNode] =
    if (exists(spark, path)) Some(Json.mapper.readTree(readText(spark, path))) else None

  /** Write a pretty-printed JSON object whose fields `fill` sets. Jackson
    * does the escaping, so values may contain quotes. */
  def writeJson(spark: SparkSession, path: String)(fill: ObjectNode => Unit): Unit = {
    val n = Json.mapper.createObjectNode()
    fill(n)
    writeText(spark, path, Json.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n))
  }
}

/** Writers: plain + auto-partitioned parquet, header CSV, in-place
  * overwrite (ref: dsgrid/utils/spark.py:474-671,
  * dsgrid/spark/functions.py:578-589). A lineage cut to scratch parquet
  * (ref: dsgrid/utils/spark.py:502-527) is a `graft.query.FileCache.cached`
  * entry. */
object Writers {

  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Write parquet, then if the produced files are badly sized, rewrite with
    * a partition count targeting ~`targetMb` files. Mirrors the reference's
    * algorithm (dsgrid/utils/spark.py:530-630): skip entirely when the file
    * count is already below `minNumPartitions` (coalescing further would
    * reduce parallelism for downstream reads), skip when actual is within
    * `rtolPct`% of desired, coalesce down / repartition up (optionally on
    * columns) otherwise. Two-pass by design: sizes are only knowable after
    * the first write. */
  def parquetAutoPartition(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      targetMb: Int = Constants.MaxPartitionSizeMb,
      rtolPct: Double = 50.0,
      minNumPartitions: Int = Constants.MinWritePartitions,
      columns: Seq[String] = Nil): Unit = {
    parquet(df, path)
    val files = HadoopFs.list(spark, path).filter(_.getPath.getName.endsWith(".parquet"))
    if (files.isEmpty || files.length < minNumPartitions) return
    val totalBytes = files.map(_.getLen).sum
    val targetBytes = targetMb.toLong * 1024 * 1024
    val desired = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val actual = files.length
    if (math.abs(actual - desired).toDouble / desired * 100 >= rtolPct) {
      val base = Readers.parquet(spark, path)
      val rewritten =
        if (actual > desired) base.coalesce(desired)
        else if (columns.nonEmpty) base.repartition(desired, columns.map(org.apache.spark.sql.functions.col): _*)
        else base.repartition(desired)
      HadoopFs.publish(spark, path)(parquet(rewritten, _))
    }
  }

  /** Hive-style partitioned parquet: one directory level per partition
    * column, so reads filtered on those columns prune whole directories
    * before any IO (PartitionFilters in the scan, not data filters) — the
    * first-line data-skipping lever for time-series at 100 TB (partition by
    * date/year, never by a high-cardinality key). `sortWithin` additionally
    * sorts rows inside each file so parquet row-group min/max stats skip
    * within files for range predicates on those columns. */
  def parquetPartitionedBy(
      df: DataFrame,
      path: String,
      partitionColumns: Seq[String],
      sortWithin: Seq[String] = Nil,
      repartitionFirst: Boolean = true): Unit = {
    require(partitionColumns.nonEmpty, "parquetPartitionedBy needs at least one partition column")
    // Without the repartition every input task opens a writer in EVERY
    // partition directory — tasks × partitions small files and as many
    // commit-time renames (the classic partitioned-write explosion; at
    // q59's 30-day layout it was the single slowest query in the bench).
    // One shuffle on the partition key gives each task whole directories.
    // Opt out for inputs already clustered by the partition columns, or
    // when one giant partition value would serialize into one task.
    val placed =
      if (repartitionFirst)
        df.repartition(partitionColumns.map(org.apache.spark.sql.functions.col): _*)
      else df
    val sorted =
      if (sortWithin.nonEmpty)
        placed.sortWithinPartitions((partitionColumns ++ sortWithin)
          .map(org.apache.spark.sql.functions.col): _*)
      else placed
    sorted.write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionColumns: _*)
      .parquet(path)
  }

  /** Header CSV; single file via coalesce(1) when asked. */
  def csv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    d.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** Line-delimited JSON sink — the counterpart of Readers.json's strict
    * FAILFAST scan. */
  def json(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    d.write.mode(SaveMode.Overwrite).json(path)
  }

  /** Plain-text sink: writes the single string column as raw lines. */
  def text(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).text(path)

  /** ORC sink — columnar interop with Hive-ecosystem warehouses. */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Warehouse sink: saveAsTable + read back (ref: dsgrid/utils/
    * spark.py:675-733). On a cluster this is the metastore-backed handoff.
    * With the in-memory catalog, a previous session's managed-table
    * location survives on disk while the table itself is forgotten —
    * saveAsTable then fails with LOCATION_ALREADY_EXISTS; drop both the
    * table and any stale location first. */
  def toTable(spark: SparkSession, df: DataFrame, table: String): DataFrame = {
    dropTableAndStaleLocation(spark, table)
    df.write.mode(SaveMode.Overwrite).saveAsTable(table)
    spark.table(table)
  }

  /** Bucketed warehouse sink — the write-once co-location lever at 100 TB:
    * the shuffle happens ONCE at write time, and every later equi-join or
    * aggregation keyed on the bucket columns between same-bucketed tables
    * runs shuffle-free (Spark reads bucket files as pre-hashed partitions).
    * The reference approximates this with repartitioned-parquet conventions;
    * bucketing is the catalog-backed Spark-native form. `sortColumns` adds
    * per-bucket sort so sort-merge joins skip the sort too. */
  def toBucketedTable(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      bucketColumns: Seq[String],
      numBuckets: Int,
      sortColumns: Seq[String] = Nil): DataFrame = {
    require(bucketColumns.nonEmpty, "toBucketedTable needs at least one bucket column")
    dropTableAndStaleLocation(spark, table)
    val w = df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketColumns.head, bucketColumns.tail: _*)
    val sorted =
      if (sortColumns.nonEmpty) w.sortBy(sortColumns.head, sortColumns.tail: _*) else w
    sorted.saveAsTable(table)
    spark.table(table)
  }

  /** Drop a table AND any stale on-disk location a previous in-memory
    * catalog session left behind (saveAsTable refuses to reuse it).
    * Database-qualified names quote each part separately (backticking the
    * whole of `db.table` would target a table literally named "db.table"
    * in the current database) and resolve the managed location under the
    * warehouse's `<db>.db/<table>` layout. */
  private def dropTableAndStaleLocation(spark: SparkSession, table: String): Unit = {
    val (db, tbl) = table.split('.') match {
      case Array(d, t) => (Some(d), t)
      case _ => (None, table)
    }
    val quoted = db.map(d => s"`$d`.`$tbl`").getOrElse(s"`$tbl`")
    spark.sql(s"DROP TABLE IF EXISTS $quoted")
    val relative = db.map(d => s"${d.toLowerCase}.db/${tbl.toLowerCase}").getOrElse(tbl.toLowerCase)
    HadoopFs.delete(spark, new HPath(spark.conf.get("spark.sql.warehouse.dir"), relative).toString)
  }

  /** Spark can't overwrite an input path in place: publish the rewrite
    * over it and re-read (ref: dsgrid/utils/spark.py:474-499). */
  def overwriteInPlace(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    HadoopFs.publish(spark, path)(parquet(df, _))
    Readers.parquet(spark, path)
  }

  /** Small-file compaction — the table-maintenance pass every long-lived
    * 100 TB dataset needs: streaming/incremental writers leave thousands of
    * KB-sized files whose per-file open/footer/task overhead eventually
    * dominates scan cost. Rewrite `path` in place into
    * ⌈total_bytes / targetFileBytes⌉ files.
    *
    * The file count comes from the INPUT's actual on-disk bytes (Hadoop
    * listing — no data pass), and the rewrite is one `repartition(n)`
    * round-robin shuffle, so output files are near-uniform regardless of
    * input skew. Row content is untouched (compaction is layout, not
    * semantics — the content-identity oracle checks exactly that).
    * Parallelism note: coalesce(n) would avoid the shuffle but caps the
    * read parallelism at n and inherits input skew; for a maintenance pass
    * that runs off the critical path, uniform output wins. */
  def compactFiles(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long): DataFrame = {
    require(targetFileBytes > 0, "compactFiles: targetFileBytes must be positive")
    val hp = new HPath(path)
    val bytes = HadoopFs.fs(spark, hp).getContentSummary(hp).getLength
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    overwriteInPlace(spark, Readers.parquet(spark, path).repartition(n), path)
  }
}
