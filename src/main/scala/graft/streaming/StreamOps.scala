package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming analogues of the batch operators, for the
  * continuous-ingest side of a training-data pipeline (the reference is
  * batch-only — SURVEY §2.12; this module is a beyond-parity extension
  * built on `readStream → transform → writeStream`).
  *
  * Scale notes: every op here is incremental — watermarks bound state;
  * windowed aggregation uses Spark's streaming state store (RocksDB-backed
  * on clusters); dedup state is pruned at the watermark.
  */
object StreamOps {

  /** Watermarked tumbling/sliding-window aggregation of a value column. */
  def windowedAggregate(
      events: DataFrame,
      timestampColumn: String,
      windowDuration: String,
      slideDuration: Option[String] = None,
      watermark: String = "10 minutes",
      groupColumns: Seq[String] = Nil,
      aggName: String = "sum",
      valueColumn: String = graft.core.Constants.ValueColumn): DataFrame = {
    val fn = graft.operators.Aggregation.resolve(aggName)
    val win = slideDuration match {
      case Some(s) => window(col(timestampColumn), windowDuration, s)
      case None => window(col(timestampColumn), windowDuration)
    }
    events
      .withWatermark(timestampColumn, watermark)
      .groupBy(win +: groupColumns.map(col): _*)
      .agg(fn(col(valueColumn)).as(valueColumn))
  }

  /** Streaming gap-based sessionization via Spark's native session_window:
    * per key, events within `gap` of each other merge into one growing
    * session window; the watermark closes sessions and prunes state. The
    * batch analogue is graft.time.Sessionize (lag/sum window — streaming
    * can't use unbounded windows, session_window IS the incremental form). */
  def sessionize(
      events: DataFrame,
      timestampColumn: String,
      gap: String,
      keyColumns: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(timestampColumn, watermark)
      .groupBy(session_window(col(timestampColumn), gap) +: keyColumns.map(col): _*)
      .agg(count(lit(1)).as("n_events"))
      .select(
        keyColumns.map(col) ++ Seq(
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events")): _*)

  /** Streaming exact dedup on key columns; state pruned at the watermark
    * (late duplicates beyond it may pass — the standard trade). */
  def dedupWithinWatermark(
      events: DataFrame,
      keyColumns: Seq[String],
      timestampColumn: String,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(timestampColumn, watermark)
      .dropDuplicatesWithinWatermark(keyColumns)

  /** Streaming content-hash dedup of documents: fingerprint then dedup on
    * the fingerprint — the streaming face of Dedup.exactDuplicateGroups. */
  def dedupStreamByContent(
      docs: DataFrame,
      textColumn: String,
      timestampColumn: String,
      watermark: String = "10 minutes"): DataFrame =
    dedupWithinWatermark(
      docs.withColumn("__graft_fp", graft.text.TextFunctions.fingerprint(col(textColumn))),
      Seq("__graft_fp"),
      timestampColumn,
      watermark)
      .drop("__graft_fp")

  /** Per-key running peak via mapGroupsWithState — the streaming face of the
    * peak-load report: emits the running max per key each trigger. */
  def runningPeak[K: Encoder](
      events: Dataset[(K, Double)]): Dataset[(K, Double)] = {
    implicit val doubleEnc: Encoder[Double] = Encoders.scalaDouble
    implicit val tupleEnc: Encoder[(K, Double)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaDouble)
    events
      .groupByKey(_._1)
      .mapGroupsWithState[Double, (K, Double)](GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[(K, Double)], state: GroupState[Double]) =>
          val prev = state.getOption.getOrElse(Double.NegativeInfinity)
          val peak = rows.foldLeft(prev)((m, r) => math.max(m, r._2))
          state.update(peak)
          (key, peak)
      }
  }

  /** Streaming near-duplicate ingest gate: each micro-batch of incoming
    * documents is screened against a STATIC deduplicated corpus via
    * MinHash LSH + exact-Jaccard verify — the streaming face of
    * `Dedup.minhashNearDuplicatesIncremental` (same signatures, same band
    * hashing, so batch and stream land in identical buckets). The corpus
    * side supplies its PERSISTED per-row artifacts (hashed shingle sets +
    * LSH buckets — computed once, reused every batch): both joins are
    * stream-static, re-planned per micro-batch, zero streaming state.
    *
    * Emits one row per (new_id, existing_id, band) candidate that passes
    * exact verification; a pair caught by several bands appears once per
    * band (a streaming `distinct` would grow unbounded state — dedupe
    * downstream, batch-side, or with dropDuplicatesWithinWatermark).
    * The incoming side's shingle array rides along through the band
    * explode (bands × |sh| in-flight amplification) — the price of
    * avoiding a stream-stream self-join for the verify; bound it with
    * micro-batch sizing (`maxFilesPerTrigger`), not bigger executors. */
  def nearDupIngestGate(
      newDocs: DataFrame,
      existingShingles: DataFrame,
      existingBuckets: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.graft.ExprColumn
    import graft.text.Dedup
    val numHashes = bands * rowsPerBand
    val sh = Dedup.hashedShingleSets(newDocs, idCol, textCol, shingleSize)
    val sig = ExprColumn(graft.plans.MinHashSignature(ExprColumn.expr(col("sh")), numHashes))
    // explode(array_compact(array(sig))): evaluate the signature exactly
    // once and drop null/empty-shingle docs without a pushdown-duplicated
    // filter (the minhashSignaturesFromShingles pattern)
    val withSig = sh.select(col(idCol).as("new_id"), col("sh").as("__graft_sh1"),
      explode(array_compact(array(sig))).as("__graft_sig"))
    // identical band hashing to lshBucketsFromSignatures (hash of the same
    // rowsPerBand signature values) — bucket-compatible with the corpus side
    val bandCols = (0 until bands).map { b =>
      val hs = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col("__graft_sig").getItem(i))
      struct(lit(b).as("band"), hash(hs: _*).cast("long").as("bucket"))
    }
    val buckets = withSig
      .select(col("new_id"), col("__graft_sh1"), explode(array(bandCols: _*)).as("bb"))
      .select(col("new_id"), col("__graft_sh1"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    buckets
      .join(existingBuckets.select(
        col("band"), col("bucket"), col(idCol).as("existing_id")), Seq("band", "bucket"))
      .filter(col("new_id") =!= col("existing_id"))
      .join(existingShingles.select(
        col(idCol).as("existing_id"), col("sh").as("__graft_sh2")), Seq("existing_id"))
      .withColumn("__graft_inter",
        size(array_intersect(col("__graft_sh1"), col("__graft_sh2"))).cast("double"))
      .withColumn("__graft_uni",
        size(array_union(col("__graft_sh1"), col("__graft_sh2"))).cast("double"))
      .withColumn("jaccard",
        when(col("__graft_uni") === 0, 0.0)
          .otherwise(col("__graft_inter") / col("__graft_uni")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("existing_id"), col("band"), col("jaccard"))
  }

  /** Stream-stream inner interval join: match left and right events on the
    * key columns with |tsLeft - tsRight| <= `within`. BOTH sides carry
    * watermarks and the join condition carries the event-time interval
    * bound, which is what lets Spark prune join state (a keyed row is
    * dropped once the other side's watermark passes its interval) — the
    * unbounded-state trap of a bare stream-stream equi-join is the thing
    * this operator exists to avoid. Inner join only here: results are
    * emitted as soon as both sides arrive, and with a watermark delay that
    * covers the data's disorder the streamed result equals the batch join
    * exactly (append-mode deterministic).
    *
    * Column layout: key columns keep their names; non-key columns get
    * `leftSuffix`/`rightSuffix` to avoid collisions. */
  /** Stream-stream interval join. `joinType` "inner" (default),
    * "left_outer", or "full_outer": an outer form emits a null-padded row
    * once the GLOBAL watermark (min across both sides' watermark nodes)
    * passes the row's join window — i.e. a left row L surfaces as
    * unmatched only after watermark > L.ts + within, which is when the
    * state store can prove no future right row can join it; full_outer
    * applies the same eviction contract to BOTH sides (key columns
    * resolve via coalesce since either side can be the null one). Rows
    * inside the final watermark horizon stay in state and never emit; a
    * deterministic drain (AvailableNow + monotone event-time feeding)
    * makes that cutoff exactly min(max left ts, max right ts) − delay. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyColumns: Seq[String],
      timestampColumn: String,
      within: String,
      watermark: String = "10 minutes",
      leftSuffix: String = "_l",
      rightSuffix: String = "_r",
      joinType: String = "inner"): DataFrame = {
    require(keyColumns.nonEmpty, "intervalJoin: no key columns")
    require(Seq("inner", "left_outer", "full_outer").contains(joinType),
      s"intervalJoin: joinType $joinType not in {inner, left_outer, full_outer}")
    // EVERY column is suffixed per side, keys included: both sides often
    // derive from the same source stream (two filters of one reader), and
    // a projection referencing both sides' copy of a shared-lineage key
    // trips the ambiguous-self-join check — distinct names sidestep it
    def suffixed(df: DataFrame, suffix: String) = {
      val renamed = df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + suffix))
      renamed.withWatermark(timestampColumn + suffix, watermark)
    }
    val l = suffixed(left, leftSuffix)
    val r = suffixed(right, rightSuffix)
    val tl = col(timestampColumn + leftSuffix)
    val tr = col(timestampColumn + rightSuffix)
    val keysEq = keyColumns.map(k => col(k + leftSuffix) === col(k + rightSuffix)).reduce(_ && _)
    val bound = tr >= tl - expr(s"INTERVAL $within") && tr <= tl + expr(s"INTERVAL $within")
    l.join(r, keysEq && bound, joinType)
      // project each key once under its original name (on left_outer the
      // right copy is null for unmatched rows; on full_outer EITHER side
      // can be the null one → coalesce)
      .select(keyColumns.map(k =>
          (if (joinType == "full_outer") coalesce(col(k + leftSuffix), col(k + rightSuffix))
           else col(k + leftSuffix)).as(k)) ++
        left.columns.filterNot(keyColumns.contains).map(c => col(c + leftSuffix)) ++
        right.columns.filterNot(keyColumns.contains).map(c => col(c + rightSuffix)): _*)
  }

  /** Idempotent streaming upsert into a parquet "serving table" — the
    * exactly-once-sink pattern for engines without transactional MERGE:
    * an UPDATE-mode aggregation feeds `foreachBatch`, and each batch's
    * changed keys are written under `serving/batch=<batchId>` with
    * overwrite — a RETRY of the same batch id rewrites the same directory
    * byte-for-byte instead of appending duplicates, which is exactly the
    * idempotence Structured Streaming's at-least-once foreachBatch
    * contract asks the sink to provide. The serving read resolves each
    * key to its LATEST batch (update-mode values are cumulative, so the
    * latest write per key IS the current total).
    *
    * Scale shape: per batch only CHANGED keys are written (update mode);
    * the batch-partitioned layout makes the upsert an O(changed-keys)
    * append-shaped write, and compaction (q137's operator) can fold old
    * batch dirs without changing the read contract. */
  def idempotentUpsertCounts(
      aggregated: DataFrame,
      servingDir: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    aggregated.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$servingDir/batch=$batchId")
        ()
      }
      .start()

  /** Current state of an [[idempotentUpsertCounts]] serving table: the
    * latest batch's row per key. */
  def readServingCounts(
      spark: org.apache.spark.sql.SparkSession,
      servingDir: String,
      keyCols: Seq[String]): DataFrame = {
    val raw = spark.read.parquet(servingDir) // batch=<id> dirs -> `batch` column
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("batch").desc)
    raw.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn", "batch")
  }

  /** Per-key boolean-flag TRANSITION detector via flatMapGroupsWithState —
    * the geofence enter/exit shape (also alert raise/clear, SLA
    * breach/restore): each input carries a boolean flag; the operator
    * emits a row ONLY when a key's flag flips, carrying the flip
    * direction. The initial state is "false" by contract, so a key's
    * first true emits an "enter".
    *
    * flatMap (not map) because one micro-batch can flip a key several
    * times — 0..n outputs per group per trigger. Within a batch the
    * group's rows sort by (ts, tie) — a GroupState iterator has NO order
    * guarantee; across batches correctness needs event-time-monotone
    * arrival per key (the q316 chunked-drain discipline; in production,
    * watermark + source ordering). State is ONE boolean per key — the
    * smallest possible footprint, RocksDB-provider-ready.
    *
    * Input columns: (keyCol: BIGINT, tsCol: BIGINT, tieCol: BIGINT,
    * flagCol: BOOLEAN). Returns (key, ts, tie, direction: "enter"|"exit").
    */
  def flagTransitions(
      events: DataFrame,
      keyCol: String, tsCol: String, tieCol: String, flagCol: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(keyCol).cast("long"), col(tsCol).cast("long"),
        col(tieCol).cast("long"), col(flagCol).cast("boolean"))
      .as[(Long, Long, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, Long, Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long, Boolean)], state: GroupState[Boolean]) =>
          var inside = state.getOption.getOrElse(false)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, tie, flag) =>
            if (flag != inside) {
              out += ((key, ts, tie, if (flag) "enter" else "exit"))
              inside = flag
            }
          }
          state.update(inside)
          out.iterator
      }
      .toDF(keyCol, tsCol, tieCol, "direction")
  }

  /** Streaming CUSUM monitor — per-key change-point detection ON the
    * stream, the online counterpart of the retrospective q198 CUSUM: the
    * classic recurrence S_t = max(0, S_{t−1} + x_t − k) is carried via
    * the prefix-min identity S_t = P_t − min_{0≤j≤t} P_j (P = running sum
    * of x − k, P₀ = 0), so per-key state is exactly TWO integers (P and
    * its running min) plus the alarm flag — RocksDB-ready constant state,
    * every value exact BIGINT. Emits only alarm TRANSITIONS (raise when
    * S crosses above `threshold`, clear when it falls back), the
    * flatMapGroupsWithState 0..n-outputs shape of [[flagTransitions]];
    * within-batch rows sort by (ts, tie) — GroupState iterators are
    * unordered — and across batches the q316 monotone-chunk drain orders
    * event time. Returns (key, ts, tie, s, direction ∈ raise|clear). */
  def cusumMonitor(
      events: DataFrame,
      keyCol: String, tsCol: String, tieCol: String, valueCol: String,
      drift: Long, threshold: Long): DataFrame = {
    require(threshold > 0, s"cusumMonitor: threshold must be > 0, got $threshold")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(keyCol).cast("string"), col(tsCol).cast("long"),
        col(tieCol).cast("long"), col(valueCol).cast("long"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Boolean), (String, Long, Long, Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Long, Long)],
         state: GroupState[(Long, Long, Boolean)]) =>
          var (p, m, alarmed) = state.getOption.getOrElse((0L, 0L, false))
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long, String)]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, tie, x) =>
            p += x - drift
            if (p < m) m = p
            val s = p - m
            val al = s > threshold
            if (al != alarmed) {
              out += ((key, ts, tie, s, if (al) "raise" else "clear"))
              alarmed = al
            }
          }
          state.update((p, m, alarmed))
          out.iterator
      }
      .toDF(keyCol, tsCol, tieCol, "s", "direction")
  }

  /** Scope `spark.sql.shuffle.partitions` down to 8 around a streaming
    * query's start: state-store partitioning is FIXED at the first batch
    * from this conf, and per-batch store open/commit (plus tiny-batch
    * shuffle task launch) scales with it — for bounded corpora that
    * machinery dominates a streaming query's cost (the q154 stream-stream
    * join measured 14.3 s → 3.4 s). Restored immediately after `.start()`:
    * only the streaming plan captures the value (Structured Streaming
    * clones the session at start, so the scoping is race-free); batch
    * queries on the session are unaffected. On a real cluster the same
    * knob is sized to state volume instead. */
  def scopedStreamStart[A](s: org.apache.spark.sql.SparkSession)(start: => A): A =
    graft.core.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8")(start)

  /** Untimed per-JVM streaming warm-up for benchmark harnesses. The first
    * streaming query a JVM runs pays ~2-3 s of machinery that later ones
    * don't: state-store provider init, commit/offset-log paths, streaming
    * codegen, trigger scaffolding. In a full-suite bench that cost is
    * amortized across all streaming queries, but an ISOLATED fresh-JVM
    * re-run of one streaming query eats it whole — the r17 q295/q316
    * adjudication measured isolated 6.75/5.29 s vs in-suite 3.73/3.69 s on
    * identical code, making cross-context comparisons family-dependent.
    * Running one throwaway stream-stream outer join (the heaviest state
    * shape) before any timed streaming query puts both contexts on the
    * same steady state, exactly as the q01 calibration anchor does for
    * batch scans. Bounded: 64 rows, 8 shuffle partitions, AvailableNow. */
  def warmup(spark: org.apache.spark.sql.SparkSession): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-warmup")
    val inDir = tmp.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    // three single-row-group files + maxFilesPerTrigger=1: the catalog's
    // streaming queries are MULTI-BATCH file streams, and per-batch
    // machinery (offset/commit log append, state-store snapshot roll) has
    // its own first-time costs beyond the first batch's
    val stages = (0 to 2).map { c =>
      val stage = java.nio.file.Files.createTempDirectory(s"graft-swarm-c$c")
      spark.range(c * 24, (c + 1) * 24)
        .selectExpr("id", "id % 8 AS k", "timestamp_seconds(1000000000 + id * 60) AS ts")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part, inDir.resolve(f"chunk$c%03d.parquet"))
      stage
    }
    val schema = spark.read.parquet(inDir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val left = stream.filter(col("id") % 2 === 0).drop("id")
    val right = stream.filter(col("id") % 3 === 0).drop("id")
    // full_outer carries both sides' keyed state stores plus the null-side
    // emission paths — a superset of the inner/left_outer machinery
    val joined = intervalJoin(left, right, Seq("k"), "ts",
      within = "5 minutes", watermark = "1 minute", joinType = "full_outer")
    val q = scopedStreamStart(spark)(
      joined.writeStream.format("memory").queryName("graft_stream_warmup")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    q.awaitTermination()
    spark.catalog.dropTempView("graft_stream_warmup")
    // the warm-up runs in every bench parent, readjudication child, and
    // Doctor step — delete the fixture dirs or long-lived machines accrete
    // /tmp litter (r18 review finding)
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
    (stages :+ tmp).foreach(p => try rmTree(p) catch { case _: Exception => () })
  }
}
