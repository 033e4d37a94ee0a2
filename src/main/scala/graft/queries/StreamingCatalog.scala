package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TxnLog
import graft.text.Dedup

import graft.QueryDsl._

/** Catalog family: Structured Streaming end to end — every query drains
  * a real file stream with an AvailableNow trigger and must hash-match
  * the batch oracle (windowed aggregation, dedup, stream-static and
  * stream-stream joins, stateful operators, sinks). COVERAGE.md §2.11–2.13
  * streaming and the streaming rows. Registered in [[graft.Queries]]. */
private[graft] object StreamingCatalog {

  private val streamRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drain `df` under `Trigger.AvailableNow` into a fresh memory-sink
    * table (named per run: the bench runs every query twice) and return
    * that table. */
  private def drain(s: SparkSession, q: String, mode: String)(df: DataFrame): DataFrame = {
    val qname = s"graft_${q}_${streamRuns.incrementAndGet()}"
    scopedStreamStart(s)(df.writeStream.format("memory").queryName(qname)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start())
      .awaitTermination()
    s.table(qname)
  }

  /** A scratch dir holding only a symlink to the events file: the file
    * stream source monitors a DIRECTORY, and the link avoids a copy. The
    * target is absolute — a relative symlink would resolve against the
    * scratch dir, not the JVM cwd, and dangle for relative data dirs. */
  private def eventsDir(dir: String, q: String): java.nio.file.Path = {
    val streamDir = java.nio.file.Paths.get(scratch(s"graft-$q"))
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet").toAbsolutePath)
    streamDir
  }

  /** The events table re-read as a file stream. The stream takes the RAW
    * file schema, NOT the normalized batch schema: under a
    * TIMESTAMP(NANOS) encoding the raw column is LongType (nanosAsLong)
    * and normalizeTs must see it that way — forcing TimestampType onto the
    * INT64-nanos column would misread it. */
  private def eventsStream(s: SparkSession, dir: String, q: String): DataFrame =
    normalizeTs(s.readStream.schema(s.read.parquet(s"$dir/events.parquet").schema)
      .parquet(eventsDir(dir, q).toString))

  /** `ev` (with a `ts` column) staged as one parquet file per 10-day chunk
    * in a scratch dir, each file's mtime a minute after the previous one,
    * and re-read as a stream of one file per micro-batch — event time, and
    * so the watermark, advances chunk by chunk. The chunk range is DERIVED
    * from the day span: the events fixture's span changes between
    * generations (CLAUDE.md), so a hardcoded chunk count would silently
    * drop late events the oracle still replays. */
  private def stagedStream(s: SparkSession, q: String, ev: DataFrame): DataFrame = {
    val days = ev.withColumn("day", expr("CAST(ts AS LONG) div 86400"))
    val dayRow = days.agg(min(col("day")), max(col("day"))).head()
    val minDay = dayRow.getLong(0)
    val inDir = java.nio.file.Paths.get(scratch(s"graft-$q-in"))
    (0 to ((dayRow.getLong(1) - minDay) / 10L).toInt).foreach { c =>
      val part = TxnLog.writeDataFile(
        days.filter(expr(s"(day - $minDay) div 10") === c).drop("day"),
        scratch(s"graft-$q-c$c"))
      val target = inDir.resolve(f"chunk$c%03d.parquet")
      java.nio.file.Files.move(java.nio.file.Paths.get(part), target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + c * 60000L))
    }
    normalizeTs(s.readStream.schema(s.read.parquet(inDir.toString).schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString))
  }

  /** Structured Streaming end-to-end with a BATCH ORACLE (SURVEY §2.12
    * extension, first oracle-green streaming row): the events table is
    * re-read as a file STREAM, runs through the watermarked 6-hour tumbling
    * window aggregation, drains under `Trigger.AvailableNow` into a memory
    * sink, and the final table must equal DuckDB's batch group-by of the
    * same bucketing — streaming and batch semantics coincide on bounded
    * input, and any watermark/window bug diverges the hash. Complete output
    * mode deliberately: append would withhold every window not yet past the
    * watermark at end-of-stream (the classic silent-empty-tail trap); at
    * production scale the same pipeline runs append + RocksDB state. */
  val q96_stream_agg = Q(
    "q96_stream_agg",
    (s, dir) =>
      drain(s, "q96", "complete")(graft.streaming.StreamOps.windowedAggregate(
        eventsStream(s, dir, "q96"), "ts", "6 hours", None, watermark = "1 hour",
        groupColumns = Seq("event_type"), aggName = "count", valueColumn = "value"))
        .select(
          col("window.start").cast("long").as("win_start"),
          col("event_type"),
          col("value").cast("long").as("n"))
        .orderBy("win_start", "event_type"),
    Some("""SELECT CAST((epoch_us(ts) // 21600000000) * 21600 AS BIGINT) AS win_start,
                   event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Streaming exact dedup with a BATCH ORACLE (the q96 pattern for the
    * dedup family): the events file re-read as a stream through
    * `dropDuplicatesWithinWatermark` on (user_id, event_type), drained
    * under AvailableNow into a memory sink. Exactly one row per distinct
    * key survives, so per-user first-occurrence counts equal DuckDB's
    * batch COUNT(DISTINCT event_type) — only key columns are compared
    * because WHICH duplicate survives is processing-order-dependent; the
    * key set is not. */
  val q121_stream_dedup = Q(
    "q121_stream_dedup",
    (s, dir) =>
      drain(s, "q121", "append")(graft.streaming.StreamOps.dedupWithinWatermark(
        eventsStream(s, dir, "q121"), Seq("user_id", "event_type"), "ts", watermark = "1 hour"))
        .groupBy(col("user_id").cast("long").as("user_id"))
        .agg(count(lit(1)).cast("long").as("n_types"))
        .orderBy("user_id"),
    Some("""SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** Stream-static join (streaming breadth): the file-stream events table
    * enriched against a STATIC broadcast dimension (customer segment)
    * inside the streaming query, then watermark-windowed counts — the
    * canonical streaming-enrichment shape (the static side is re-plannable
    * per micro-batch; no state grows from it). Complete mode + AvailableNow
    * drain, batch-replayed by the oracle (q96 convention). */
  val q130_stream_static = Q(
    "q130_stream_static",
    (s, dir) => {
      val static = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      val enriched = eventsStream(s, dir, "q130").join(broadcast(static), Seq("user_id"))
      drain(s, "q130", "complete")(graft.streaming.StreamOps.windowedAggregate(
        enriched, "ts", "6 hours", None, watermark = "1 hour",
        groupColumns = Seq("segment"), aggName = "count", valueColumn = "value"))
        .select(
          col("window.start").cast("long").as("win_start"),
          col("segment"),
          col("value").cast("long").as("n"))
        .orderBy("win_start", "segment")
    },
    Some("""SELECT CAST((epoch_us(ts) // 21600000000) * 21600 AS BIGINT) AS win_start,
                   c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Arbitrary-stateful streaming (mapGroupsWithState): the per-user
    * running peak driven through a real file stream under AvailableNow,
    * drained to a memory sink, then reduced — max is order/batching
    * independent, so the streaming result equals the batch peak exactly
    * (the q96 drain pattern for custom state instead of windowed aggs). */
  val q136_stream_state = Q(
    "q136_stream_state",
    (s, dir) => {
      import s.implicits._
      val keyed = eventsStream(s, dir, "q136")
        .select(col("user_id").cast("long").as("k"), col("value"))
        .as[(Long, Double)]
      val peaks = graft.streaming.StreamOps.runningPeak(keyed)
      // update mode may emit one row per micro-batch per key; the final
      // state is the max — an associative reduce, batching-independent
      drain(s, "q136", "update")(peaks.toDF("user_id", "peak"))
        .groupBy(col("user_id"))
        .agg(max(col("peak")).as("peak"))
        .filter(col("user_id") < 300)
        .orderBy("user_id")
    },
    Some("""SELECT CAST(user_id AS BIGINT) AS user_id, MAX(value) AS peak
            FROM events WHERE user_id < 300 GROUP BY 1 ORDER BY 1"""))

  /** Streaming gap sessionization (native session_window) driven through a
    * real file stream under AvailableNow. session_window aggregation only
    * supports APPEND mode, which withholds any session the watermark has
    * not passed — so a per-user flush event 3 h past end-of-data is staged
    * as a second stream file: the advanced watermark (max+3h − 1h) emits
    * every real session, while the flush sessions themselves end beyond it
    * and are withheld — self-excluding. The emitted per-user session-count
    * distribution must equal the batch lag/cumsum sessionization (q58's
    * oracle, verbatim). */
  val q144_stream_sessions = Q(
    "q144_stream_sessions",
    (s, dir) => {
      // RAW file read for both the stream schema and the flush file (the
      // q96/q121 pattern): under a TIMESTAMP(NANOS) encoding the raw ts is
      // LongType (nanosAsLong) and BOTH stream files must carry the same
      // encoding — a normalized-batch flush file would mix micros
      // timestamps with a nanos base file under one schema
      val raw = s.read.parquet(s"$dir/events.parquet")
      val schema = raw.schema
      val streamDir = eventsDir(dir, "q144")
      // flush file: one event per user at max(ts)+3h, in the RAW encoding
      val flush = {
        val mx = raw.agg(max(col("ts"))).head().get(0)
        val shifted = schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => // nanos-as-long round
            lit(mx.asInstanceOf[Long] + 3L * 3600 * 1000 * 1000 * 1000)
          case tsType => lit(mx).cast(tsType) + expr("INTERVAL 3 HOUR")
        }
        raw.dropDuplicates("user_id").withColumn("ts", shifted)
      }
      java.nio.file.Files.move(
        java.nio.file.Paths.get(
          TxnLog.writeDataFile(flush, streamDir.resolve("__flush_build").toString)),
        streamDir.resolve("zz_flush.parquet"))
      val stream = normalizeTs(s.readStream.schema(schema).parquet(streamDir.toString))
      drain(s, "q144", "append")(graft.streaming.StreamOps.sessionize(
        stream, "ts", "30 minutes", Seq("user_id"), watermark = "1 hour"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_sessions"))
        .groupBy(col("n_sessions"))
        .agg(count(lit(1)).cast("long").as("n_users"))
        .orderBy("n_sessions")
    },
    Some("""WITH marked AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
                     THEN 1 ELSE 0 END AS is_start
              FROM events),
            per_user AS (
              SELECT user_id, CAST(SUM(is_start) AS BIGINT) AS n_sessions FROM marked GROUP BY user_id)
            SELECT n_sessions, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM per_user GROUP BY 1 ORDER BY 1"""))

  /** Stream-stream interval join: even-id events join odd-id events of the
    * same user within ±30 minutes, both sides file streams with event-time
    * watermarks and the interval bound in the join condition (the state-
    * pruning shape — a keyed row leaves the state store once the other
    * side's watermark passes its interval). The watermark delay covers the
    * whole corpus, so the streamed append-mode result equals the batch
    * join exactly and the DuckDB batch replay is a true oracle. */
  val q154_stream_join = Q(
    "q154_stream_join",
    (s, dir) => {
      val stream = eventsStream(s, dir, "q154")
        .select(col("user_id").cast("long").as("user_id"), col("event_id"), col("ts"))
        // bounded key subset: the catalog-bench cost of a stream-stream
        // join is state-store volume × micro-batch machinery, and the
        // operator's semantics are fully exercised on a third of the keys
        .filter(col("user_id") < 50)
      val left = stream.filter(col("event_id") % 2 === 0).drop("event_id")
      val right = stream.filter(col("event_id") % 2 === 1).drop("event_id")
      val joined = graft.streaming.StreamOps.intervalJoin(
        left, right, Seq("user_id"), "ts", within = "30 minutes",
        watermark = "3650 days")
      // a stream-stream join runs TWO keyed state stores and is the
      // heaviest case of the scopedStreamStart rationale (measured 2x
      // on 32 partitions before the scoping)
      drain(s, "q154", "append")(joined)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .orderBy("user_id")
    },
    Some("""SELECT CAST(l.user_id AS BIGINT) AS user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM events l JOIN events r
              ON l.user_id = r.user_id
             AND r.ts BETWEEN l.ts - INTERVAL 30 MINUTE AND l.ts + INTERVAL 30 MINUTE
            WHERE l.event_id % 2 = 0 AND r.event_id % 2 = 1 AND l.user_id < 50
            GROUP BY 1 ORDER BY 1"""))

  /** Streaming near-dup ingest gate: the q88 incremental-dedup semantics
    * driven through a real file stream — corpus artifacts (hashed shingle
    * sets + LSH buckets) computed once batch-side, each micro-batch
    * screened by two stream-static joins with zero streaming state. Same
    * signatures and band hashing as batch, so the streamed result equals
    * q88 exactly and SHARES its oracle SQL verbatim. */
  val q157_stream_neardup = Q(
    "q157_stream_neardup",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
      // persisted-corpus artifacts: eager-checkpointed (feed the signature
      // pipeline AND every micro-batch's verify join; nothing stays cached)
      val exShingles = Dedup.hashedShingleSets(d, "doc_id", "text", 3).localCheckpoint(true)
      val exBuckets = Dedup.lshBucketsFromSignatures(
        Dedup.minhashSignaturesFromShingles(exShingles, "doc_id", 64), "doc_id", 16, 4)
        .localCheckpoint(true)
      val incoming = d.filter(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 2000000L).as("doc_id"),
        array_join(
          slice(split(trim(col("text")), "\\s+"), lit(1),
            size(split(trim(col("text")), "\\s+")) - 1), " ").as("text"))
      val streamDir = scratch("graft-q157")
      incoming.coalesce(1).write.mode("overwrite").parquet(s"$streamDir/batch")
      val schema = s.read.parquet(s"$streamDir/batch").schema
      val stream = s.readStream.schema(schema).parquet(s"$streamDir/batch")
      val gated = graft.streaming.StreamOps.nearDupIngestGate(
        stream, exShingles, exBuckets, "doc_id", "text",
        bands = 16, rowsPerBand = 4, shingleSize = 3, threshold = 0.8)
      // a pair caught by several bands appears once per band (the gate
      // cannot distinct without unbounded state); collapse batch-side
      drain(s, "q157", "append")(gated)
        .groupBy(col("new_id"), col("existing_id"))
        .agg(round(max(col("jaccard")), 4).as("jaccard"))
        .orderBy("new_id", "existing_id")
    },
    // IDENTICAL semantics to the batch incremental dedup → shared oracle
    TextDedupCatalog.q88_dedup_incremental.oracle)

  /** Streaming idempotent upsert sink (exactly-once pattern): the events
    * file split into 4 source files, streamed one file per micro-batch
    * through an update-mode count into a batch-partitioned parquet
    * serving table (`batch=<id>` dirs, overwrite — a batch RETRY rewrites
    * its own directory instead of duplicating). The serving read resolves
    * each key to its latest batch; the oracle is the plain batch count —
    * equality across 4 incremental upserts is the exactly-once claim. */
  val q190_stream_upsert = Q(
    "q190_stream_upsert",
    (s, dir) => {
      val raw = s.read.parquet(s"$dir/events.parquet")
      val scratch = s.conf.get("spark.local.dir", "/tmp") +
        "/graft_q190_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.HadoopFs.delete(s, scratch)
      val srcDir = s"$scratch/src"
      raw.repartition(4, col("event_id")).write.parquet(srcDir)
      val stream = s.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val agg = stream.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val q = scopedStreamStart(s)(graft.streaming.StreamOps.idempotentUpsertCounts(
        agg, s"$scratch/serving", s"$scratch/ckpt"))
      q.awaitTermination()
      graft.streaming.StreamOps.readServingCounts(s, s"$scratch/serving", Seq("event_type"))
        .select(col("event_type"), col("n").cast("long").as("n"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** Streaming SLIDING-window aggregation (6 h window, 3 h slide — every
    * event lands in exactly 2 overlapping windows), the overlap face of
    * q96's tumbling form: same file stream, AvailableNow drain, complete-
    * mode memory sink. Oracle replays the epoch-aligned window arithmetic
    * (each event expanded to its 2 covering window starts). */
  val q221_stream_sliding = Q(
    "q221_stream_sliding",
    (s, dir) =>
      drain(s, "q221", "complete")(graft.streaming.StreamOps.windowedAggregate(
        eventsStream(s, dir, "q221"), "ts", "6 hours", Some("3 hours"), watermark = "1 hour",
        groupColumns = Seq("event_type"), aggName = "count", valueColumn = "value"))
        .select(
          col("window.start").cast("long").as("win_start"),
          col("event_type"),
          col("value").cast("long").as("n"))
        .orderBy("win_start", "event_type"),
    Some("""SELECT CAST(((epoch_us(ts) // 10800000000) - o.range) * 10800 AS BIGINT) AS win_start,
                   event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events CROSS JOIN range(2) o
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** The custom interval-lookup physical operator under STREAMING: a file
    * stream of events drained in micro-batches (maxFilesPerTrigger=1 over
    * a 4-file split), each batch enriched against the static tier table
    * via [[graft.operators.IntervalLookup]] inside foreachBatch and
    * upserted to its own `batch=<id>` directory (the q190 idempotent-sink
    * shape — a retry rewrites its own dir); the serving read sums the
    * per-batch partials. Per-batch aggregation + integer value sums make
    * the result independent of how files split into batches. Oracle = the
    * batch containment join. */
  val q231_stream_interval = Q(
    "q231_stream_interval",
    (s, dir) => {
      import s.implicits._
      val tiers = Seq(("low", 0L, 50L), ("mid", 50L, 150L),
        ("high", 150L, 300L), ("peak", 300L, 100000L)).toDF("tier", "lo", "hi")
      val inDir = scratch("graft-q231-in")
      val outDir = scratch("graft-q231-out")
      t(s, dir, "events").select(col("event_id"), col("value"))
        .repartition(4).write.mode("overwrite").parquet(inDir)
      val schema = s.read.parquet(inDir).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val query = scopedStreamStart(s)(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val pts = batch.select(floor(col("value")).cast("long").as("pt"))
          graft.operators.IntervalLookup.join(pts, tiers, "pt", "lo", "hi")
            .groupBy(col("tier"))
            .agg(count(lit(1)).as("n"), sum(col("pt")).as("fv"))
            .write.mode("overwrite").parquet(s"$outDir/batch=$id")
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      query.awaitTermination()
      s.read.parquet(outDir)
        .groupBy(col("tier"))
        .agg(sum(col("n")).cast("long").as("n_events"),
          sum(col("fv")).cast("long").as("sum_fv"))
        .orderBy("tier")
    },
    Some("""WITH tiers(tier, lo, hi) AS (VALUES
              ('low', 0, 50), ('mid', 50, 150), ('high', 150, 300), ('peak', 300, 100000))
            SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS sum_fv
            FROM events JOIN tiers
              ON FLOOR(value) >= lo AND FLOOR(value) < hi
            GROUP BY 1 ORDER BY tier"""))

  /** Stream-stream LEFT OUTER interval join
    * ([[graft.streaming.StreamOps.intervalJoin]] with joinType left_outer
    * — the semantics the inner form (q154) cannot express: an unmatched
    * left row is a RESULT, but only once the global watermark proves no
    * future right row can join it). Sparse left (10% of events) joins
    * dense right (50%) within ±10 minutes; the file stream is fed in
    * three event-time-MONOTONE chunks (explicit mtimes, 1 file/trigger)
    * so watermark progression is deterministic: matched pairs all emit,
    * unmatched lefts emit null-padded iff ts + 10min < final watermark =
    * min(max left ts, max right ts) − 1min delay — the remainder die in
    * state, and the oracle replays that cutoff arithmetic exactly. */
  val q295_stream_outer_join = Q(
    "q295_stream_outer_join",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id").cast("long").as("user_id"), col("event_id"), col("ts"))
      val stream = stagedStream(s, "q295", ev)
      val left = stream.filter(col("event_id") % 10 === 0).drop("event_id")
      val right = stream.filter(col("event_id") % 2 === 1).drop("event_id")
      val joined = graft.streaming.StreamOps.intervalJoin(
        left, right, Seq("user_id"), "ts", within = "10 minutes",
        watermark = "1 minute", joinType = "left_outer")
      drain(s, "q295", "append")(joined)
        .groupBy(col("user_id"))
        .agg(sum(when(col("ts_r").isNotNull, 1L).otherwise(0L)).cast("long").as("n_pairs"),
          sum(when(col("ts_r").isNull, 1L).otherwise(0L)).cast("long").as("n_nulls"))
        .orderBy("user_id")
    },
    Some("""WITH ev AS (
              SELECT user_id, event_id, ts FROM events WHERE user_id < 50),
            l AS (SELECT user_id, ts FROM ev WHERE event_id % 10 = 0),
            r AS (SELECT user_id, ts FROM ev WHERE event_id % 2 = 1),
            wm AS (SELECT LEAST((SELECT MAX(ts) FROM l), (SELECT MAX(ts) FROM r))
                          - INTERVAL 1 MINUTE AS w),
            pairs AS (
              SELECT l.user_id, COUNT(*)::BIGINT AS n
              FROM l JOIN r ON l.user_id = r.user_id
                AND r.ts BETWEEN l.ts - INTERVAL 10 MINUTE AND l.ts + INTERVAL 10 MINUTE
              GROUP BY 1),
            nulls AS (
              SELECT l.user_id, COUNT(*)::BIGINT AS n
              FROM l
              WHERE NOT EXISTS (
                  SELECT 1 FROM r WHERE r.user_id = l.user_id
                    AND r.ts BETWEEN l.ts - INTERVAL 10 MINUTE AND l.ts + INTERVAL 10 MINUTE)
                AND l.ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
              GROUP BY 1),
            users AS (SELECT DISTINCT user_id FROM (
              SELECT user_id FROM pairs UNION ALL SELECT user_id FROM nulls))
            SELECT u.user_id::BIGINT AS user_id,
                   COALESCE(p.n, 0)::BIGINT AS n_pairs,
                   COALESCE(x.n, 0)::BIGINT AS n_nulls
            FROM users u
            LEFT JOIN pairs p ON p.user_id = u.user_id
            LEFT JOIN nulls x ON x.user_id = u.user_id
            ORDER BY 1"""))

  /** Stream-stream FULL OUTER interval join
    * ([[graft.streaming.StreamOps.intervalJoin]] joinType=full_outer —
    * completing the streaming join matrix after q154 inner and q295 left
    * outer: BOTH sides' unmatched rows are results, each emitted
    * null-padded only once the global watermark proves no partner can
    * arrive; key columns resolve via coalesce since either side can be
    * the null one). Disjoint sparse slices of the event stream so both
    * sides produce null emissions; q295's deterministic drain (event-
    * time-monotone chunks, AvailableNow, memory sink). Oracle replays
    * pairs + BOTH NOT-EXISTS null sets under the exact watermark cutoff
    * min(max_l, max_r) − delay. */
  val q316_stream_full_outer = Q(
    "q316_stream_full_outer",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id").cast("long").as("user_id"), col("event_id"), col("ts"))
      val stream = stagedStream(s, "q316", ev)
      val left = stream.filter(col("event_id") % 10 === 0).drop("event_id")
      val right = stream.filter(col("event_id") % 10 === 5).drop("event_id")
      val joined = graft.streaming.StreamOps.intervalJoin(
        left, right, Seq("user_id"), "ts", within = "10 minutes",
        watermark = "1 minute", joinType = "full_outer")
      drain(s, "q316", "append")(joined)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts_l").isNotNull && col("ts_r").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_pairs"),
          sum(when(col("ts_r").isNull, 1L).otherwise(0L)).cast("long").as("n_left_nulls"),
          sum(when(col("ts_l").isNull, 1L).otherwise(0L)).cast("long").as("n_right_nulls"))
        .orderBy("user_id")
    },
    Some("""WITH ev AS (
              SELECT user_id, event_id, ts FROM events WHERE user_id < 50),
            l AS (SELECT user_id, ts FROM ev WHERE event_id % 10 = 0),
            r AS (SELECT user_id, ts FROM ev WHERE event_id % 10 = 5),
            wm AS (SELECT LEAST((SELECT MAX(ts) FROM l), (SELECT MAX(ts) FROM r))
                          - INTERVAL 1 MINUTE AS w),
            pairs AS (
              SELECT l.user_id, COUNT(*)::BIGINT AS n
              FROM l JOIN r ON l.user_id = r.user_id
                AND r.ts BETWEEN l.ts - INTERVAL 10 MINUTE AND l.ts + INTERVAL 10 MINUTE
              GROUP BY 1),
            lnulls AS (
              SELECT l.user_id, COUNT(*)::BIGINT AS n
              FROM l
              WHERE NOT EXISTS (
                  SELECT 1 FROM r WHERE r.user_id = l.user_id
                    AND r.ts BETWEEN l.ts - INTERVAL 10 MINUTE AND l.ts + INTERVAL 10 MINUTE)
                AND l.ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
              GROUP BY 1),
            rnulls AS (
              SELECT r.user_id, COUNT(*)::BIGINT AS n
              FROM r
              WHERE NOT EXISTS (
                  SELECT 1 FROM l WHERE l.user_id = r.user_id
                    AND l.ts BETWEEN r.ts - INTERVAL 10 MINUTE AND r.ts + INTERVAL 10 MINUTE)
                AND r.ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
              GROUP BY 1),
            users AS (SELECT DISTINCT user_id FROM (
              SELECT user_id FROM pairs
              UNION ALL SELECT user_id FROM lnulls
              UNION ALL SELECT user_id FROM rnulls))
            SELECT u.user_id::BIGINT AS user_id,
                   COALESCE(p.n, 0)::BIGINT AS n_pairs,
                   COALESCE(a.n, 0)::BIGINT AS n_left_nulls,
                   COALESCE(b.n, 0)::BIGINT AS n_right_nulls
            FROM users u
            LEFT JOIN pairs p ON p.user_id = u.user_id
            LEFT JOIN lnulls a ON a.user_id = u.user_id
            LEFT JOIN rnulls b ON b.user_id = u.user_id
            ORDER BY 1"""))

  /** Streaming geofence enter/exit detection
    * ([[graft.streaming.StreamOps.flagTransitions]] — per-key boolean
    * TRANSITION events via flatMapGroupsWithState, the 0..n-outputs-per-
    * group state shape the matrix was missing (map-state q:runningPeak
    * emits exactly one); state = ONE boolean per key; within-batch rows
    * sort by (ts, tie) because GroupState iterators are unordered, and
    * the q316 monotone-chunk drain orders batches). Event coordinates
    * from key arithmetic against the q320 hexagon; the oracle is the
    * batch LAG replay with initial-state false. */
  val q333_geofence_stream = Q(
    "q333_geofence_stream",
    (s, dir) => {
      val hex = Seq((500L, 50L), (900L, 300L), (900L, 700L),
        (500L, 950L), (100L, 700L), (100L, 300L))
      val ev = t(s, dir, "events").filter(col("user_id") < 30)
        .select(col("user_id"), col("event_id"), col("ts"))
      val stream = stagedStream(s, "q333", ev)
        .withColumn("x", pmod(col("event_id") * 48271L, lit(1000L)))
        .withColumn("y", pmod(col("event_id") * 16807L, lit(1000L)))
        .withColumn("inside",
          graft.operators.Geo.pointInConvexPolygon(col("x"), col("y"), hex))
        .select(col("user_id"), unix_micros(col("ts")).as("tms"),
          col("event_id"), col("inside"))
      val trans = graft.streaming.StreamOps
        .flagTransitions(stream, "user_id", "tms", "event_id", "inside")
      drain(s, "q333", "append")(trans)
        .groupBy(col("direction"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          countDistinct(col("user_id")).cast("long").as("n_users"),
          sum(col("user_id")).cast("long").as("checksum"))
        .orderBy("direction")
    },
    Some {
      val hex = Seq((500L, 50L), (900L, 300L), (900L, 700L),
        (500L, 950L), (100L, 700L), (100L, 300L))
      val tests = hex.indices.map { i =>
        val (x1, y1) = hex(i)
        val (x2, y2) = hex((i + 1) % hex.size)
        s"(${x2 - x1}) * (y - ($y1)) - (${y2 - y1}) * (x - ($x1)) >= 0"
      }.mkString(" AND ")
      s"""WITH e AS (
              SELECT user_id, event_id, ts,
                     (event_id * 48271) % 1000 AS x,
                     (event_id * 16807) % 1000 AS y
              FROM events WHERE user_id < 30),
            f AS (SELECT user_id, event_id, ts, ($tests) AS inside FROM e),
            w AS (
              SELECT user_id, inside,
                     LAG(inside, 1, FALSE) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM f),
            tr AS (
              SELECT user_id,
                     CASE WHEN inside THEN 'enter' ELSE 'exit' END AS direction
              FROM w WHERE inside <> prev)
            SELECT direction, COUNT(*)::BIGINT AS n,
                   COUNT(DISTINCT user_id)::BIGINT AS n_users,
                   SUM(user_id)::BIGINT AS checksum
            FROM tr GROUP BY 1 ORDER BY 1"""
    })

  /** Streaming CUSUM monitor ([[graft.streaming.StreamOps.cusumMonitor]]
    * — per-key online change-point detection with TWO-integer state via
    * the prefix-min identity S = P − min prefix P; emits alarm raise /
    * clear transitions only; q316 monotone-chunk drain, q333 harness).
    * Event value cents per type, drift 5500, threshold 100000; oracle =
    * the batch window replay of the same identity. */
  val q361_cusum_stream = Q(
    "q361_cusum_stream",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("ts"), col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
      val stream = stagedStream(s, "q361", ev)
        .select(col("event_type"), unix_micros(col("ts")).as("tms"),
          col("event_id"), col("cents"))
      val mon = graft.streaming.StreamOps.cusumMonitor(
        stream, "event_type", "tms", "event_id", "cents",
        drift = 5500L, threshold = 100000L)
      drain(s, "q361", "append")(mon)
        .groupBy(col("event_type"), col("direction"))
        .agg(count(lit(1)).cast("long").as("n"),
          min(col("s")).cast("long").as("min_s"),
          max(col("s")).cast("long").as("max_s"),
          sum(col("event_id")).cast("long").as("checksum"))
        .orderBy("event_type", "direction")
    },
    Some("""WITH e AS (
              SELECT event_type, ts, event_id,
                     CAST(FLOOR(value * 100) AS BIGINT) AS c
              FROM events),
            p AS (
              SELECT event_type, ts, event_id,
                     SUM(c - 5500) OVER (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
              FROM e),
            sv AS (
              SELECT event_type, ts, event_id,
                     p - LEAST(0, MIN(p) OVER (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
              FROM p),
            a AS (
              SELECT event_type, event_id, s, s > 100000 AS al,
                     LAG(s > 100000, 1, FALSE) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id) AS pr
              FROM sv),
            tr AS (
              SELECT event_type, event_id, s,
                     CASE WHEN al THEN 'raise' ELSE 'clear' END AS direction
              FROM a WHERE al <> pr)
            SELECT event_type, direction, COUNT(*)::BIGINT AS n,
                   MIN(s)::BIGINT AS min_s, MAX(s)::BIGINT AS max_s,
                   SUM(event_id)::BIGINT AS checksum
            FROM tr GROUP BY 1, 2 ORDER BY 1, 2"""))

  val all: Seq[Q] = Seq(
    q96_stream_agg, q121_stream_dedup, q130_stream_static, q136_stream_state, q144_stream_sessions,
    q154_stream_join, q157_stream_neardup, q190_stream_upsert, q221_stream_sliding,
    q231_stream_interval, q295_stream_outer_join, q316_stream_full_outer, q333_geofence_stream,
    q361_cusum_stream)
}
