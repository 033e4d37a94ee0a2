package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Constants._
import graft.operators.{Aggregation, DatasetExpr, DimensionFilter, MappingKernel, Reshape, SetOps}
import graft.functions.{Growth, Units}
import graft.time.{AnnualTime, TimeAdjustments}
import graft.text.{Dedup, TextFunctions}
import graft.ml.Similarity
import graft.multimodal.Multimodal

import graft.QueryDsl._

/** Catalog chunk q233-q250 (registration + docs in [[graft.Queries]]). */
private[graft] object Catalog9 {

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
      val out = java.nio.file.Files.createTempDirectory("graft-q233").toString
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
      val out = java.nio.file.Files.createTempDirectory("graft-q234").toString + "/part_fw"
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
      val out = java.nio.file.Files.createTempDirectory("graft-q235").toString + "/ev_fw"
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

  /** Skip-gram training-pair generation (word2vec/SGNS data prep,
    * Mikolov '13): per document, (center, context) pairs within a ±2
    * token window plus one hash-drawn negative context per pair — the
    * deterministic stand-in for unigram negative sampling, keyed on
    * (doc, position, offset) so both engines draw the identical negative
    * (the q135/q169 integer-randomness convention). The report aggregates
    * per offset: pair volume, distinct centers, self-cooccurrence count,
    * and the negative-index checksum. One posexplode + 4 window LEADs/
    * LAGs; the only driver scalar is the vocabulary size (the negative
    * draw's modulus). */
  val q236_skipgram_pairs = Q(
    "q236_skipgram_pairs",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          posexplode(array_compact(TextFunctions.tokens(TextFunctions.normalize(col("text")))))
            .as(Seq("p", "tok")))
      // negatives are drawn as vocabulary INDICES — only the modulus (the
      // vocabulary size) is needed, a single bounded scalar
      val vocabSize = toks.select(col("tok")).distinct().count()
      val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val withCtx = toks
        .withColumn("m2", lag(col("tok"), 2).over(w))
        .withColumn("m1", lag(col("tok"), 1).over(w))
        .withColumn("p1", lead(col("tok"), 1).over(w))
        .withColumn("p2", lead(col("tok"), 2).over(w))
      val pairs = withCtx.select(col("doc_id"), col("p"), col("tok"),
        explode(array(
          struct(lit(-2L).as("off"), col("m2").as("ctx")),
          struct(lit(-1L).as("off"), col("m1").as("ctx")),
          struct(lit(1L).as("off"), col("p1").as("ctx")),
          struct(lit(2L).as("off"), col("p2").as("ctx")))).as("c"))
        .select(col("doc_id"), col("p"), col("tok"),
          col("c.off").as("off"), col("c.ctx").as("ctx"))
        .filter(col("ctx").isNotNull)
        .withColumn("neg_idx",
          pmod(xxhash64(col("doc_id") * 1048576L + col("p") * 8L + (col("off") + 4L)),
            lit(vocabSize)))
      pairs.groupBy(col("off"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          countDistinct(col("tok")).cast("long").as("distinct_centers"),
          sum(when(col("tok") === col("ctx"), 1L).otherwise(0L)).cast("long").as("self_pairs"),
          sum(col("neg_idx")).cast("long").as("neg_checksum"))
        .orderBy("off")
    },
    Some {
      import graft.tools.OracleSql._
      val toks =
        s"""SELECT doc_id::BIGINT AS doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) - 1 AS p
            FROM (SELECT doc_id,
                    list_filter(regexp_split_to_array(trim(${normalizeSql("text")}), '\\s+'),
                                t -> len(t) > 0) AS toks
                  FROM documents)"""
      val pairsRel =
        s"""SELECT doc_id, p, tok, off, ctx,
                   doc_id * 1048576 + p * 8 + (off + 4) AS negkey
            FROM (
              SELECT doc_id, p, tok, u.off,
                     CASE u.off
                       WHEN -2 THEN LAG(tok, 2) OVER w WHEN -1 THEN LAG(tok, 1) OVER w
                       WHEN 1 THEN LEAD(tok, 1) OVER w ELSE LEAD(tok, 2) OVER w END AS ctx
              FROM tk CROSS JOIN (SELECT unnest([-2, -1, 1, 2]) AS off) u
              WINDOW w AS (PARTITION BY doc_id, u.off ORDER BY p))
            WHERE ctx IS NOT NULL"""
      val hashed = xxhash64LongStages("SELECT * FROM pairs_rel", "negkey", "h", pfx = "__n")
      s"""WITH tk AS ($toks),
            vs AS (SELECT COUNT(DISTINCT tok)::BIGINT AS v FROM tk),
            pairs_rel AS ($pairsRel),
            hashed AS ($hashed),
            neg AS (SELECT hashed.*, ((h % (SELECT v FROM vs)) + (SELECT v FROM vs)) % (SELECT v FROM vs) AS neg_idx
                    FROM hashed)
          SELECT CAST(off AS BIGINT) AS off,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(COUNT(DISTINCT tok) AS BIGINT) AS distinct_centers,
                 CAST(SUM(CASE WHEN tok = ctx THEN 1 ELSE 0 END) AS BIGINT) AS self_pairs,
                 CAST(SUM(neg_idx) AS BIGINT) AS neg_checksum
          FROM neg GROUP BY 1 ORDER BY 1"""
    })

  /** Trainable integer Naive Bayes source classifier over hashed features
    * — the LEARNED counterpart of q205's fixed-ramp gate: multinomial NB
    * with the hashing trick (1024 buckets), an 80/20 hash split, and ALL
    * likelihood arithmetic in floor-log2 (`length(bin(x)) − 1` — the
    * bit-stable integer logarithm of q90/q178; real NB log-probs are libm
    * territory and flap across engines). Score(d, c) =
    * Σ_b cnt_b·flog2(n(c,b)+1) − T_d·flog2(N_c+1) + flog2(D_c+1), where
    * flog2 is the 1/16-resolution fixed-point log2 (16·msb + mantissa
    * nibble — exact in both engines; unit-step flog2 drowned the evidence
    * in quantization noise); prediction = argmax with (score desc, class)
    * tie order. The watermarked half of the test split classifies near-
    * perfectly, the unwatermarked half sits at the 1/C floor — overall
    * ≈ 51 % vs the 5 % random baseline. Scale shape:
    * the model is a ≤ classes×buckets count table (broadcast side), test
    * docs reduce to (doc, bucket, cnt) before any join, and the
    * doc×class spine is |test|×C rows. Output: per-class test accuracy. */
  val q237_naive_bayes = Q(
    "q237_naive_bayes",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // every even doc carries a class-pure watermark token — the planted
      // learnable signal (the synthetic sources are otherwise vocabulary-
      // indistinguishable and ANY classifier sits at the 1/C floor); the
      // model must still LEARN the association from the train split
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          when(col("doc_id") % 2 === 0,
            concat(col("text"),
              lit(" beacon"), col("source"), lit(" beacon"), col("source"),
              lit(" beacon"), col("source")))
            .otherwise(col("text")).as("text"))
        .withColumn("is_test", pmod(xxhash64(col("doc_id")), lit(5L)) === 0L)
      val toks = docs.select(col("doc_id"), col("source"), col("is_test"),
          explode(array_compact(TextFunctions.tokens(TextFunctions.normalize(col("text"))))).as("tok"))
        .withColumn("b", pmod(xxhash64(col("tok")), lit(1024L)))
        .localCheckpoint(true) // feeds model AND scoring
      // fixed-point log2 with 1/16 resolution: 16·msb + mantissa-nibble —
      // the flog2 idiom (bit-stable across engines) at the precision a
      // working classifier needs (unit-step flog2 quantization noise
      // across ~100 shared-vocabulary tokens swamps any single-token
      // evidence; at 1/16 steps the shared terms cancel and evidence wins)
      def flog2(c: Column): Column = {
        val msb = (length(bin(c)) - 1).cast("int")
        // (c·16) / 2^msb: division by a power of two is EXACT in doubles
        // for c·16 < 2^53, so floor() is the integer // both engines agree on
        val nibble = floor(c.cast("double") * 16d / pow(lit(2.0), msb.cast("double")))
        (lit(16L) * msb - 16L + nibble.cast("long")).cast("long")
      }
      val model = toks.filter(!col("is_test"))
        .groupBy(col("source").as("c"), col("b"))
        .agg(count(lit(1)).as("n"))
        .withColumn("term", flog2(col("n") + 1))
      val classStats = toks.filter(!col("is_test"))
        .groupBy(col("source").as("c"))
        .agg(count(lit(1)).as("ntok"))
        .join(docs.filter(!col("is_test")).groupBy(col("source").as("c"))
          .agg(count(lit(1)).as("ndoc")), Seq("c"))
        .select(col("c"), flog2(col("ntok") + 1).as("flog_ntok"),
          flog2(col("ndoc") + 1).as("flog_ndoc"))
      val testBuckets = toks.filter(col("is_test"))
        .groupBy(col("doc_id"), col("b"))
        .agg(count(lit(1)).as("cnt"))
      val part1 = testBuckets.join(model, Seq("b"))
        .groupBy(col("doc_id"), col("c"))
        .agg(sum(col("cnt") * col("term")).as("s1"))
      val testDocs = toks.filter(col("is_test"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("td"))
      val spine = testDocs.crossJoin(classStats)
      val scored = spine.join(part1, Seq("doc_id", "c"), "left")
        .withColumn("score",
          coalesce(col("s1"), lit(0L)) - col("td") * col("flog_ntok") + col("flog_ndoc"))
      val predicted = scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("c"))))
        .filter(col("rn") === 1)
      predicted.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_test"),
          sum(when(col("c") === col("source"), 1L).otherwise(0L)).cast("long").as("n_correct"))
        .orderBy("source")
    },
    Some {
      import graft.tools.OracleSql._
      val split = xxhash64LongStages(
        """SELECT doc_id::BIGINT AS doc_id, source,
                  CASE WHEN doc_id % 2 = 0
                       THEN text || repeat(' beacon' || source, 3)
                       ELSE text END AS text
           FROM documents""", "doc_id", "dh", pfx = "__d")
      val toks =
        s"""SELECT doc_id, source, is_test, unnest(toks) AS tok
            FROM (SELECT doc_id, source, is_test,
                    list_filter(regexp_split_to_array(trim(${normalizeSql("text")}), '\\s+'),
                                t -> len(t) > 0) AS toks
                  FROM docs)"""
      val hashedTok = xxhash64Stages("SELECT DISTINCT tok FROM tk0", "tok", "th", pfx = "__t")
      s"""WITH hashed_docs AS ($split),
            docs AS (SELECT doc_id, source, text,
                            ((dh % 5) + 5) % 5 = 0 AS is_test
                     FROM hashed_docs),
            tk0 AS ($toks),
            ht AS ($hashedTok),
            tk AS (SELECT tk0.doc_id, tk0.source, tk0.is_test,
                          ((ht.th % 1024) + 1024) % 1024 AS b
                   FROM tk0 JOIN ht USING (tok)),
            model AS (SELECT source AS c, b, COUNT(*) AS n,
                             (16 * (length(bin(COUNT(*) + 1)) - 1) - 16 + ((COUNT(*) + 1) * 16) // (1::BIGINT << (length(bin(COUNT(*) + 1)) - 1))) AS term
                      FROM tk WHERE NOT is_test GROUP BY 1, 2),
            cstats AS (SELECT t.c, (16 * (length(bin(t.ntok + 1)) - 1) - 16 + ((t.ntok + 1) * 16) // (1::BIGINT << (length(bin(t.ntok + 1)) - 1))) AS flog_ntok,
                              (16 * (length(bin(d.ndoc + 1)) - 1) - 16 + ((d.ndoc + 1) * 16) // (1::BIGINT << (length(bin(d.ndoc + 1)) - 1))) AS flog_ndoc
                       FROM (SELECT source AS c, COUNT(*) AS ntok FROM tk
                             WHERE NOT is_test GROUP BY 1) t
                       JOIN (SELECT source AS c, COUNT(*) AS ndoc FROM docs
                             WHERE NOT is_test GROUP BY 1) d USING (c)),
            tb AS (SELECT doc_id, b, COUNT(*) AS cnt FROM tk WHERE is_test GROUP BY 1, 2),
            p1 AS (SELECT tb.doc_id, model.c, SUM(tb.cnt * model.term) AS s1
                   FROM tb JOIN model USING (b) GROUP BY 1, 2),
            td AS (SELECT doc_id, source, COUNT(*) AS td FROM tk WHERE is_test GROUP BY 1, 2),
            scored AS (SELECT td.doc_id, td.source, cs.c,
                              COALESCE(p1.s1, 0) - td.td * cs.flog_ntok + cs.flog_ndoc AS score
                       FROM td CROSS JOIN cstats cs
                       LEFT JOIN p1 ON p1.doc_id = td.doc_id AND p1.c = cs.c),
            pred AS (SELECT * FROM (
                       SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, c) AS rn
                       FROM scored) WHERE rn = 1)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_test,
                 CAST(SUM(CASE WHEN c = source THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
          FROM pred GROUP BY 1 ORDER BY 1"""
    })

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

  /** Corpus growth / novelty curve by ingest day: distinct 3-gram hashes
    * attributed to their FIRST-seen day (one min-aggregate over hashed
    * grams — no join back, no re-scan), with per-day new-gram counts and
    * the cumulative vocabulary curve — the dataset-accounting artifact
    * behind "is more crawl still adding content?". Ingest day is the
    * deterministic doc_id mod 7. Gram hashing rides the map-side
    * [[graft.plans.XxHash64Array]] expression; only (hash, day) pairs
    * shuffle. */
  val q240_growth_curve = Q(
    "q240_growth_curve",
    (s, dir) => {
      import org.apache.spark.sql.graft.ExprColumn
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
        .select((col("doc_id") % 7).cast("long").as("day"),
          TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("toks"))
        .filter(size(col("toks")) >= 3)
      val grams = d.select(col("day"),
        explode(ExprColumn(graft.plans.WindowHash64(ExprColumn.expr(col("toks")), 3))).as("g"))
      val firstSeen = grams.groupBy(col("g")).agg(min(col("day")).as("first_day"))
      val daily = firstSeen.groupBy(col("first_day").as("day"))
        .agg(count(lit(1)).as("new_grams"))
      daily
        .withColumn("cumulative",
          sum(col("new_grams")).over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("day"), col("new_grams").cast("long").as("new_grams"),
          col("cumulative").cast("long").as("cumulative"))
        .orderBy("day")
    },
    Some {
      import graft.tools.OracleSql._
      val B = BigInt("9E3779B97F4A7C15", 16)
      val M = BigInt(2).pow(64)
      val b2 = (B * B).mod(M)
      val toked =
        s"""SELECT doc_id::BIGINT AS doc_id, doc_id % 7 AS day,
                   list_filter(regexp_split_to_array(trim(${normalizeSql("text")}), '\\s+'),
                               t -> len(t) > 0) AS toks
            FROM documents"""
      val tk =
        s"""SELECT doc_id, day, unnest(toks) AS tok, generate_subscripts(toks, 1) AS p
            FROM ($toked) WHERE len(toks) >= 3"""
      val hd = xxhash64Stages("SELECT DISTINCT tok FROM tk", "tok", "th", pfx = "__g")
      val wu = addModSql(addModSql(mulConstSql("u0", b2), mulConstSql("u1", B)), "u2")
      s"""WITH tk AS ($tk),
            hd AS ($hd),
            hu AS (SELECT tk.doc_id, tk.day, tk.p, ${unsignedOf("hd.th")} AS u
                   FROM tk JOIN hd USING (tok)),
            w3 AS (SELECT doc_id, day, p, u AS u0,
                          LEAD(u, 1) OVER (PARTITION BY doc_id ORDER BY p) AS u1,
                          LEAD(u, 2) OVER (PARTITION BY doc_id ORDER BY p) AS u2
                   FROM hu),
            hw AS (SELECT day, $wu AS gu FROM w3 WHERE u2 IS NOT NULL),
            hs AS (SELECT day,
                          CASE WHEN gu >= 9223372036854775808
                               THEN CAST(gu::HUGEINT - 18446744073709551616::HUGEINT AS BIGINT)
                               ELSE CAST(gu AS BIGINT) END AS g
                   FROM hw),
            fs AS (SELECT g, MIN(day) AS day FROM hs GROUP BY 1),
            daily AS (SELECT day, COUNT(*) AS new_grams FROM fs GROUP BY 1)
          SELECT CAST(day AS BIGINT) AS day,
                 CAST(new_grams AS BIGINT) AS new_grams,
                 CAST(SUM(new_grams) OVER (ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative
          FROM daily ORDER BY day"""
    })

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
      val prev = s.conf.getOption("spark.graft.lint.noCartesian")
      s.conf.set("spark.graft.lint.noCartesian", "true")
      try {
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
      } finally {
        prev match {
          case Some(v) => s.conf.set("spark.graft.lint.noCartesian", v)
          case None => s.conf.unset("spark.graft.lint.noCartesian")
        }
      }
    },
    Some("""SELECT 'cross_join' AS "case", TRUE AS vetoed, 0::BIGINT AS rows
            UNION ALL
            SELECT 'equi_join', FALSE,
                   (SELECT COUNT(*) FROM nation JOIN region ON n_regionkey = r_regionkey)::BIGINT
            ORDER BY "case""""))

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
      val out = java.nio.file.Files.createTempDirectory("graft-q243").toString + "/ev"
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

  /** Matryoshka truncation audit (Kusupati '22 MRL): retrieval recall of
    * prefix-truncated embeddings (dims 8 and 16) against the full-64-dim
    * top-5, over every 25th vector as the query set. Dots ride the
    * codegen [[graft.plans.FloatVectorDot]] on sliced arrays; ranking is
    * total-ordered by (score desc, vec_id) so ties cannot flap; the
    * oracle replays the dot as a SEQUENTIAL list_reduce fold — the
    * left-to-right summation both engines share (q124's ulp-exactness
    * pattern, not list_dot_product's unspecified order). Output per dim:
    * Σ overlap with the full top-5 and the query count — the measurement
    * behind "how many dims can this index drop". */
  val q244_matryoshka = Q(
    "q244_matryoshka",
    (s, dir) => {
      import org.apache.spark.sql.graft.ExprColumn
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings").select(col("vec_id").cast("long").as("vec_id"),
        col("embedding"))
      // fixed-COUNT hash-ordered query sample, not a fixed fraction: the
      // audit's brute-force scoring must stay O(n·k) in the corpus size —
      // a %-based query side grows the sanity check itself to O(n²) at
      // 100×. TakeOrderedAndProject keeps this a per-partition top-k scan
      // (no global sort); vec_id breaks the improbable 64-bit hash tie so
      // the sample is total-ordered and engine-replayable.
      val queries = emb
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val dims = Seq(8, 16, 64)
      val top5 = dims.map { d =>
        val qd = if (d == 64) col("qv") else slice(col("qv"), 1, d)
        val cd = if (d == 64) col("embedding") else slice(col("embedding"), 1, d)
        val scored = queries.crossJoin(emb)
          .filter(col("qid") =!= col("vec_id"))
          .select(col("qid"), col("vec_id"),
            ExprColumn(graft.plans.FloatVectorDot(
              ExprColumn.expr(qd), ExprColumn.expr(cd))).as("score"))
        val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select(lit(d.toLong).as("dim"), col("qid"), col("vec_id"))
      }
      val full = top5.last.select(col("qid"), col("vec_id"))
      top5.map { t =>
        t.join(full.withColumnRenamed("vec_id", "fv"),
            t("qid") === full("qid") && col("vec_id") === col("fv"), "left_semi")
          .groupBy(col("dim"))
          .agg(count(lit(1)).cast("long").as("overlap5"))
      }.reduce(_.unionByName(_))
        .join(queries.agg(count(lit(1)).cast("long").as("n_queries")))
        .orderBy("dim")
    },
    Some {
      def dot(d: Int) =
        s"""list_reduce(list_transform(range(1, ${d + 1}),
              i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
              (x, y) -> x + y)"""
      val tops = Seq(8, 16, 64).map(d =>
        s"""SELECT $d AS dim, qid, vec_id FROM (
              SELECT q.qid, e.vec_id,
                     ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY ${dot(d)} DESC, e.vec_id) AS rn
              FROM qs q CROSS JOIN embeddings e
              WHERE q.qid <> e.vec_id) WHERE rn <= 5""").mkString("\nUNION ALL\n")
      val hashed = graft.tools.OracleSql.xxhash64LongStages(
        "SELECT vec_id::BIGINT AS vec_id, embedding FROM embeddings", "vec_id", "qh")
      s"""WITH qs AS (SELECT vec_id AS qid, qv FROM (
                        SELECT vec_id, embedding AS qv,
                               ROW_NUMBER() OVER (ORDER BY qh, vec_id) AS rn
                        FROM ($hashed)) WHERE rn <= 100),
            tops AS ($tops),
            full5 AS (SELECT qid, vec_id FROM tops WHERE dim = 64)
          SELECT CAST(t.dim AS BIGINT) AS dim,
                 CAST(COUNT(*) AS BIGINT) AS overlap5,
                 (SELECT COUNT(*) FROM qs)::BIGINT AS n_queries
          FROM tops t JOIN full5 f ON f.qid = t.qid AND f.vec_id = t.vec_id
          GROUP BY t.dim ORDER BY dim"""
    })

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
      import graft.sources.TxnLog
      val root = java.nio.file.Files.createTempDirectory("graft-q245").toString
      val logDir = s"$root/_log"
      val ev = t(s, dir, "events").select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"))
      // disjoint-path fixture writes run overlapped (guide §2.6)
      val Seq(f0a, f0b) = QueryDsl.parActions(Seq(
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
      QueryDsl.parActions(0L to 2L) { v =>
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

  /** Time-window-constrained conversion funnel — q106's unbounded funnel
    * with the deadlines real attribution uses: first view → first click
    * WITHIN 1 h of that view → first purchase WITHIN 24 h of that click.
    * Three user-keyed min-aggregations with the window predicates pushed
    * into each stage's candidate filter (exact microsecond arithmetic,
    * total (ts, event_id) order for first-of ties). Output: stage counts
    * + median view→click latency of converters in integer seconds (rank
    * order statistic — the med2 discrete form). */
  val q246_windowed_funnel = Q(
    "q246_windowed_funnel",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id").cast("long").as("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tu"), col("event_id").cast("long").as("eid"))
      def firstOf(df: DataFrame, name: String): DataFrame =
        df.groupBy(col("user_id")).agg(min(struct(col("tu"), col("eid"))).as(name))
      val v = firstOf(ev.filter(col("event_type") === "view"), "v")
        .select(col("user_id"), col("v.tu").as("vt"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("tu") > col("vt") && col("tu") <= col("vt") + 3600000000L)
      val cf = firstOf(c, "c").select(col("user_id"), col("c.tu").as("ct"))
        .join(v, Seq("user_id"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(cf.select(col("user_id"), col("ct")), Seq("user_id"))
        .filter(col("tu") > col("ct") && col("tu") <= col("ct") + 86400000000L)
      val pf = firstOf(p, "p").select(col("user_id"))
      val latencies = cf.select(((col("ct") - col("vt")) / 1000000L).cast("long").as("lat_s"))
      val w = Window.orderBy(col("lat_s"))
      val med = latencies
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .agg(
          max(when(col("rn") === expr("(n + 1) div 2"), col("lat_s"))).as("m1"),
          max(when(col("rn") === expr("(n + 2) div 2"), col("lat_s"))).as("m2"))
        .select((col("m1") + col("m2")).as("med2_lat_s"))
      v.agg(count(lit(1)).cast("long").as("n_view")).crossJoin(
        cf.agg(count(lit(1)).cast("long").as("n_click_1h")))
        .crossJoin(pf.agg(count(lit(1)).cast("long").as("n_purchase_24h")))
        .crossJoin(med)
        .select(col("n_view"), col("n_click_1h"), col("n_purchase_24h"),
          col("med2_lat_s").cast("long").as("med2_lat_s"))
    },
    Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tu, event_id FROM events),
              v AS (SELECT user_id, MIN(tu) AS vt FROM ev WHERE event_type = 'view' GROUP BY 1),
              c AS (SELECT e.user_id, MIN(e.tu) AS ct, MAX(v.vt) AS vt
                    FROM ev e JOIN v ON v.user_id = e.user_id
                    WHERE e.event_type = 'click' AND e.tu > v.vt AND e.tu <= v.vt + 3600000000
                    GROUP BY 1),
              p AS (SELECT e.user_id
                    FROM ev e JOIN c ON c.user_id = e.user_id
                    WHERE e.event_type = 'purchase' AND e.tu > c.ct AND e.tu <= c.ct + 86400000000
                    GROUP BY 1),
              lat AS (SELECT (ct - vt) // 1000000 AS lat_s,
                             ROW_NUMBER() OVER (ORDER BY (ct - vt) // 1000000) AS rn,
                             COUNT(*) OVER () AS n
                      FROM c),
              med AS (SELECT MAX(CASE WHEN rn = (n + 1) // 2 THEN lat_s END) +
                             MAX(CASE WHEN rn = (n + 2) // 2 THEN lat_s END) AS med2_lat_s
                      FROM lat)
            SELECT (SELECT COUNT(*) FROM v)::BIGINT AS n_view,
                   (SELECT COUNT(*) FROM c)::BIGINT AS n_click_1h,
                   (SELECT COUNT(*) FROM p)::BIGINT AS n_purchase_24h,
                   (SELECT med2_lat_s FROM med)::BIGINT AS med2_lat_s"""))

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

  /** Event-time vs arrival-time lag audit — the measurement that SIZES
    * watermarks (q121/q144's "10 minutes" is a guess until this report
    * exists): arrival delays (hash-derived, 0–599 s — the deterministic
    * stand-in for a transport's jitter, engine-replayable) are profiled
    * per event type as exact rank order statistics (p50/p95 at rank
    * ceil(q·n) — discrete, integer) plus the late-beyond-5-min count a
    * 300 s watermark would drop. One keyed window shuffle. */
  val q248_lag_audit = Q(
    "q248_lag_audit",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("event_type"),
          col("event_id").cast("long").as("event_id"))
        .withColumn("delay_s", pmod(xxhash64(col("event_id")), lit(600L)))
      val w = Window.partitionBy(col("event_type")).orderBy(col("delay_s"), col("event_id"))
      ev.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(
          max(col("n")).cast("long").as("n"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("delay_s"))).cast("long").as("p50_s"),
          max(when(col("rn") === expr("(19 * n + 19) div 20"), col("delay_s"))).cast("long").as("p95_s"),
          max(col("delay_s")).cast("long").as("max_s"),
          sum(when(col("delay_s") > 300, 1L).otherwise(0L)).cast("long").as("n_late_5m"))
        .orderBy("event_type")
    },
    Some {
      import graft.tools.OracleSql._
      val base = "SELECT event_type, event_id::BIGINT AS event_id FROM events"
      val hashed = xxhash64LongStages(base, "event_id", "h", pfx = "__l")
      s"""WITH d AS (SELECT event_type, event_id,
                            ((h % 600) + 600) % 600 AS delay_s
                     FROM ($hashed)),
            rk AS (SELECT event_type, delay_s,
                          ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY delay_s, event_id) AS rn,
                          COUNT(*) OVER (PARTITION BY event_type) AS n
                   FROM d)
          SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                 CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN delay_s END) AS BIGINT) AS p50_s,
                 CAST(MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN delay_s END) AS BIGINT) AS p95_s,
                 CAST(MAX(delay_s) AS BIGINT) AS max_s,
                 CAST(SUM(CASE WHEN delay_s > 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_5m
          FROM rk GROUP BY 1 ORDER BY 1"""
    })

  /** Source-level embedding centroid distance matrix — q143's corpus
    * similarity in VECTOR space: per label, the exact integer sum-vector
    * and count of int8-quantized embeddings (the persistable artifact — a
    * 100 TB label folds to 64 BIGINTs, the map-side-partial shape), then
    * pairwise squared centroid distance Σ_d (sa_d·n_b − sb_d·n_a)² /
    * (n_a·n_b)² evaluated as a FIXED-ORDER double fold over the 64 dims
    * (exact integer numerators first; a fixed expression sum of doubles
    * is engine-stable — the q86 rule — where a row-order aggregate is
    * not). Output: label pairs with dist² ×10⁶ floored. */
  val q249_centroid_matrix = Q(
    "q249_centroid_matrix",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"), col("embedding"))
        .withColumn("q", expr("transform(embedding, x -> CAST(FLOOR(x * 64) AS BIGINT))"))
      val dims = 64
      val aggCols = Seq(count(lit(1)).as("n")) ++
        (0 until dims).map(d => sum(element_at(col("q"), d + 1)).as(s"s$d"))
      val sums = emb.groupBy(col("label"))
        .agg(aggCols.head, aggCols.tail: _*)
        .localCheckpoint(true)
      val terms = (0 until dims).map { d =>
        val num = col(s"a.s$d") * col("b.n") - col(s"b.s$d") * col("a.n")
        (num * num).cast("double")
      }.reduce(_ + _)
      sums.as("a").join(sums.as("b"), col("a.label") < col("b.label"))
        .select(col("a.label").as("l1"), col("b.label").as("l2"),
          floor(lit(1000000.0) * terms /
            (col("a.n") * col("b.n") * col("a.n") * col("b.n")).cast("double"))
            .cast("long").as("dist2_ppm"))
        .orderBy("l1", "l2")
    },
    Some {
      val terms = (0 until 64).map { d =>
        s"CAST((a.s$d * b.n - b.s$d * a.n) * (a.s$d * b.n - b.s$d * a.n) AS DOUBLE)"
      }.mkString("(", " + ", ")")
      val sums = (0 until 64).map(d =>
        s"SUM(CAST(FLOOR(CAST(embedding[${d + 1}] AS DOUBLE) * 64) AS BIGINT)) AS s$d")
        .mkString(", ")
      s"""WITH sums AS (SELECT label, COUNT(*) AS n, $sums
                        FROM embeddings GROUP BY 1)
          SELECT CAST(a.label AS BIGINT) AS l1, CAST(b.label AS BIGINT) AS l2,
                 CAST(FLOOR(1000000.0 * $terms /
                   CAST(a.n * b.n * a.n * b.n AS DOUBLE)) AS BIGINT) AS dist2_ppm
          FROM sums a JOIN sums b ON a.label < b.label
          ORDER BY l1, l2"""
    })

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

  val all: Seq[Q] = Seq(
    q233_fixedwidth_source, q234_fixedwidth_write, q235_fixedwidth_agg_push, q236_skipgram_pairs,
    q237_naive_bayes, q238_observed_metrics, q239_forget_flow, q240_growth_curve,
    q241_spine_coverage, q242_plan_lint, q243_parquet_footers, q244_matryoshka,
    q245_txn_log, q246_windowed_funnel, q247_schema_match, q248_lag_audit,
    q249_centroid_matrix, q250_cbo_stats)
}
