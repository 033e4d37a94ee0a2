package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve utilities — the multi-dimensional data-layout
  * tool behind "OPTIMIZE ZORDER BY"-style clustering: interleaving the bits
  * of two columns gives a 1-D sort key whose ordering keeps 2-D neighbors
  * in the same file/row-group, so min/max stats prune box predicates on
  * EITHER dimension (a plain sort only prunes its leading column).
  *
  * The interleave is a pure column-expression tree (2·bits shift/mask/add
  * terms) — deliberately NOT a custom Catalyst expression: every term is a
  * literal-shift of the input, whole-stage codegen already fuses it into
  * straight-line Java, and the same arithmetic is trivially replayable in
  * oracle SQL. Inputs must be non-negative and fit in `bits` bits; the
  * caller masks first (`pmod`/`%`), keeping the contract visible at the
  * call site.
  */
object Zorder {

  /** Morton-interleave two non-negative columns, `bits` bits each: x's bit
    * b lands at position 2b, y's at 2b+1. Result fits in 2·bits bits. */
  def interleave(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zorder: bits must be in [1,31], got $bits")
    (0 until bits)
      .map { b =>
        shiftright(x, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b)) +
          shiftright(y, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1))
      }
      .reduce(_ + _)
  }

  /** Reference interpretation for specs: interleave on the driver. */
  def interleaveRef(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var b = 0
    while (b < bits) {
      z |= ((x >> b) & 1L) << (2 * b)
      z |= ((y >> b) & 1L) << (2 * b + 1)
      b += 1
    }
    z
  }

  /** OPTIMIZE ZORDER BY on a transaction-log table (the Delta OPTIMIZE
    * shape): rewrite the latest snapshot into `numFiles` files clustered
    * along the Morton curve of (xCol, yCol), published as one atomic
    * commit (removes = every old file, adds = the clustered set) — readers
    * see the old or new layout, never a mix, and the pre-optimize version
    * stays time-travelable. Afterwards each file's (x, y) bounding box is
    * compact, so min/max stats prune box predicates on EITHER dimension.
    *
    * File assignment is EXACT rank bucketing over the z order —
    * bucket = (rank−1)·numFiles div N — not sampled range partitioning:
    * z determines (x, y) bijectively, so equal-z rows are interchangeable
    * and every file's row count and x/y bounds are deterministic under any
    * partitioning (what makes the layout oracle-replayable; Delta's
    * sampled ranges are not). The exact global rank here is a single
    * window (fine at catalog scale); the 100 TB spelling of the SAME
    * deterministic assignment is the standard two-pass distributed rank —
    * range-shuffle on z, per-partition counts to the driver, per-partition
    * offsets added to local ranks — and per-range file writers instead of
    * the write loop. Returns the committed version. */
  def optimizeTable(
      spark: org.apache.spark.sql.SparkSession,
      logDir: String,
      scratchDir: String,
      xCol: String,
      yCol: String,
      bits: Int,
      numFiles: Int): Long = {
    import graft.sources.TxnLog
    require(numFiles >= 1, s"optimizeTable: numFiles must be >= 1, got $numFiles")
    val v = TxnLog.requireHead(logDir)
    val files = TxnLog.liveFiles(logDir, v).toSeq.sorted
    // rewrite the VISIBLE snapshot, not the raw live files: a table with
    // bound deletion vectors would otherwise resurrect DV-killed rows in
    // the clustered rewrite (the stale DVs reference removed paths and
    // silently no-op) — same write-path invariant as TxnLog.compact
    val snap = TxnLog.readAsOfWithDeletes(spark, logDir, v)
    val n = snap.count()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__graft_z"))
    // ONE write job: hash-repartition on the bucket id sends each bucket
    // wholly to one task (one part file per bucket dir), partitionBy lays
    // the buckets out as directories — vs a per-bucket filtered-write loop
    // that costs numFiles sequential jobs. Bucket assignment is integral
    // div by contract (true division's double rounding can misplace
    // boundary rows once (rank−1)·numFiles passes 2^53).
    snap
      .withColumn("__graft_z", interleave(col(xCol), col(yCol), bits))
      .withColumn("__graft_rn", row_number().over(w))
      .withColumn("__graft_bucket",
        expr(s"CAST(((__graft_rn - 1) * ${numFiles.toLong}) div ${n}L AS INT)"))
      .drop("__graft_z", "__graft_rn")
      .repartition(numFiles, col("__graft_bucket"))
      .write.partitionBy("__graft_bucket").mode("overwrite").parquet(s"$scratchDir/zopt")
    val adds = (0 until numFiles).map { b =>
      val d = new java.io.File(s"$scratchDir/zopt/__graft_bucket=$b")
      Option(d.listFiles()).getOrElse(Array.empty)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"optimizeTable: no parquet under $d"))
        .getAbsolutePath
    }
    TxnLog.commit(logDir, v + 1, adds = adds, removes = files,
      dvDrops = TxnLog.dvFiles(logDir, v).toSeq.sorted, meta = Seq("optimize:zorder"))
    v + 1
  }

  /** Clustering-depth profile of a file-stats manifest — the layout-
    * QUALITY metric behind OPTIMIZE decisions (Delta's clusteringMetrics /
    * Iceberg's overlap analysis): for a point query on the stats column,
    * depth(x) = how many files' [lo, hi] ranges cover x — i.e. how many
    * files must open. A perfectly clustered layout has depth 1 everywhere;
    * a random layout has depth ≈ n_files. Computed exactly by a boundary
    * sweep: +1 at lo, −1 at hi+1 (integer, right-open), running sum in
    * boundary order with closes before opens at ties (touching ranges do
    * not overlap), segment lengths from the next boundary. Returns one
    * row: n_files, max_depth, and avg_depth_ppm — the expected opens for
    * a uniform point over the covered span, as an exact integral-div ppm
    * of Σ depth·segment_length over the span.
    *
    * The input is the MANIFEST (one row per file), so the sweep's
    * unpartitioned window orders a bounded set — metadata-sized, like
    * every skipping-triad structure; the data itself is never read. */
  def clusteringDepth(manifest: DataFrame, loCol: String, hiCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val events = manifest.select(explode(array(
      struct(col(loCol).cast("long").as("b"), lit(1L).as("d")),
      struct((col(hiCol).cast("long") + 1L).as("b"), lit(-1L).as("d")))).as("e"))
      .select(col("e.b").as("b"), col("e.d").as("d"))
    // RANGE frame (the orderBy default) folds ALL events at the same
    // boundary together — depth on [b, next) is the cumulative after every
    // open and close AT b, with no within-b tie ordering to get wrong
    // (a file whose range ends at b−1 contributes its −1 at b; a file
    // starting at b its +1 — both are in b's frame)
    val w = Window.orderBy(col("b"))
    val stepped = events
      .withColumn("__graft_depth", sum(col("d")).over(w))
      .groupBy("b").agg(max(col("__graft_depth")).as("__graft_after")) // all rows at b agree
    val seg = stepped
      .withColumn("__graft_next", lead(col("b"), 1).over(Window.orderBy("b")))
      .filter(col("__graft_next").isNotNull)
      .withColumn("__graft_len", col("__graft_next") - col("b"))
    seg.agg(
      max(col("__graft_after")).cast("long").as("max_depth"),
      sum(col("__graft_after") * col("__graft_len")).as("__graft_area"),
      (max(col("__graft_next")) - min(col("b"))).as("__graft_span"))
      .crossJoin(manifest.agg(count(lit(1)).cast("long").as("n_files")))
      .withColumn("avg_depth_ppm",
        expr("(__graft_area * CAST(1000000 AS BIGINT)) div __graft_span").cast("long"))
      .select(col("n_files"), col("max_depth"), col("avg_depth_ppm"))
  }
}
