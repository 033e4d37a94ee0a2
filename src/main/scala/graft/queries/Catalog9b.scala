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

/** Catalog chunk q251-q271 — the reviewability split of the oversized
  * Catalog9, zero behavior change (registration + docs in
  * [[graft.Queries]]). */
private[graft] object Catalog9b {

  /** Personalized PageRank from a seed set
    * ([[graft.operators.Graph.personalizedPageRank]] — teleport mass only
    * on the seeds, so scores measure proximity to them; same BIGINT
    * fixed-point determinism as q119's global form): customers of nation
    * 0 as seeds over the customer→order-bucket graph, 4 rounds, top-15
    * non-seed-side nodes by (rank, node). Oracle = the generated
    * seed-aware round chain. */
  val q251_personalized_pr = Q(
    "q251_personalized_pr",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val edges = o.select(
        col("o_custkey").cast("long").as("src"),
        (lit(100000L) + col("o_orderkey") % 1500).cast("long").as("dst")).distinct()
      val seeds = t(s, dir, "customer").filter(col("c_nationkey") === 0)
        .select(col("c_custkey").cast("long").as("node"))
      graft.operators.Graph.personalizedPageRank(edges, seeds, iterations = 4)
        .filter(col("node") >= 100000L && col("rank") > 0)
        .orderBy(col("rank").desc, col("node"))
        .limit(15)
        .select(col("node").cast("long").as("node"), col("rank").cast("long").as("rank"))
        .orderBy("node")
    },
    Some {
      val iters = (1 to 4).map { i =>
        val prev = s"r${i - 1}"
        s"""r$i AS (
              SELECT sn.node,
                     sn.is_seed * (SELECT (1000000000::BIGINT * 15) // (100 * ns) FROM consts)
                     + (85 * COALESCE(s.s, 0)) // 100 AS rank
              FROM sn LEFT JOIN (
                SELECT ed.dst AS node, SUM($prev.rank // ed.outdeg) AS s
                FROM ed JOIN $prev ON ed.src = $prev.node GROUP BY 1) s USING (node))"""
      }.mkString(",\n          ")
      s"""WITH e AS (
            SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
                   CAST(100000 + o_orderkey % 1500 AS BIGINT) AS dst
            FROM orders),
          nodes AS (
            SELECT DISTINCT node
            FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          seeds AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS node FROM customer
                    WHERE c_nationkey = 0),
          sn AS (SELECT nodes.node,
                        CASE WHEN seeds.node IS NULL THEN 0 ELSE 1 END AS is_seed
                 FROM nodes LEFT JOIN seeds USING (node)),
          consts AS (SELECT CAST(SUM(is_seed) AS BIGINT) AS ns FROM sn),
          deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
          ed AS (SELECT e.src, e.dst, d.outdeg FROM e JOIN deg d USING (src)),
          r0 AS (SELECT node, is_seed * (SELECT 1000000000::BIGINT // ns FROM consts) AS rank
                 FROM sn),
          $iters
          SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank
          FROM (SELECT * FROM r4 WHERE node >= 100000 AND rank > 0
                ORDER BY rank DESC, node LIMIT 15)
          ORDER BY node"""
    })

  /** Multi-probe LSH over simhash bands (Lv et al. VLDB'07, the
    * table-count/recall trade): beside the exact 16-bit band-bucket join
    * (q31's scheme — which MISSES any pair whose signatures differ in
    * every band), probe depth 1 also joins each band key against its 16
    * one-bit-flip neighbors, rescuing pairs with a band at Hamming
    * distance exactly 1 — more recall from the SAME four tables, the
    * alternative to doubling band count. Candidates verified exactly
    * (bit_count(xor) ≤ 6); the report pins candidate and verified pair
    * counts per probe depth, so the recall gain is a VALUE, not a claim.
    * Integer end-to-end; the oracle replays signature → bands → flips →
    * verify (the q31 machinery plus the probe expansion). */
  val q252_multiprobe_lsh = Q(
    "q252_multiprobe_lsh",
    (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val clipped = d.filter(col("doc_id") % 4 === 0).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), lit(1),
          size(split(trim(col("text")), "\\s+")) - 3), " ").as("text"))
      val corpus = d.unionByName(clipped)
      val sigs = Dedup.simhash(corpus, "doc_id", "text").localCheckpoint(true)
      val bands = sigs.select(col("doc_id"), col("simhash"),
          explode(sequence(lit(0), lit(3))).as("blk"))
        .withColumn("key", expr("shiftrightunsigned(simhash, blk * 16) & 65535"))
        .localCheckpoint(true)
      // j = -1 is the exact probe; j in 0..15 flips one bit of the band key
      val probes = bands.select(col("doc_id"), col("simhash"), col("blk"), col("key"),
          explode(array((-1 to 15).map(lit): _*)).as("j"))
        .withColumn("pkey",
          when(col("j") === -1, col("key"))
            .otherwise(expr("key ^ shiftleft(1L, j)")))
      val out = Seq(0, 1).map { depth =>
        val b =
          if (depth == 0) bands.select(col("blk"), col("key").as("pkey"),
            col("doc_id").as("id2"), col("simhash").as("s2"))
          else probes.select(col("blk"), col("pkey"),
            col("doc_id").as("id2"), col("simhash").as("s2"))
        val cands = bands.select(col("blk"), col("key").as("pkey"),
            col("doc_id").as("id1"), col("simhash").as("s1"))
          .join(b, Seq("blk", "pkey"))
          .filter(col("id1") < col("id2"))
          .select(col("id1"), col("id2"), col("s1"), col("s2"))
          .distinct()
          .localCheckpoint(true)
        val nc = cands.count()
        val nv = cands.filter(bit_count(col("s1").bitwiseXOR(col("s2"))) <= 6).count()
        (depth.toLong, nc, nv)
      }
      import s.implicits._
      out.toDF("probe_depth", "n_candidate_pairs", "n_verified_pairs")
        .orderBy("probe_depth")
    },
    Some {
      import graft.tools.OracleSql._
      val corpus =
        s"""SELECT doc_id::BIGINT AS doc_id, text FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id::BIGINT + 1000000,
                   array_to_string(rt[1:len(rt)-3], ' ')
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS rt
                  FROM documents WHERE doc_id % 2 = 0) WHERE doc_id % 4 = 0"""
      val toks =
        s"""SELECT doc_id, tok FROM (
              SELECT doc_id, unnest(string_split(${normalizeSql("text")}, ' ')) AS tok
              FROM ($corpus)) WHERE len(tok) > 0"""
      val hashed = xxhash64Stages(toks, "tok", "th", pfx = "__t")
      val bitsums = (0 until 64)
        .map(j => s"SUM(CASE WHEN (hu >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(", ")
      val sigexpr = (0 until 64)
        .map(j => s"CASE WHEN b$j > 0 THEN ${java.lang.Long.toUnsignedString(1L << j)}::HUGEINT ELSE 0::HUGEINT END")
        .mkString(" + ")
      s"""WITH hashed AS (
            SELECT doc_id, CASE WHEN th < 0 THEN CAST(th::HUGEINT + 18446744073709551616::HUGEINT AS UBIGINT)
                                ELSE CAST(th AS UBIGINT) END AS hu
            FROM ($hashed)),
          bits AS (SELECT doc_id, $bitsums FROM hashed GROUP BY doc_id),
          sig AS (SELECT doc_id, CAST(($sigexpr) AS UBIGINT) AS sigu FROM bits),
          bands AS MATERIALIZED (
            SELECT doc_id, sigu, bb.b AS blk, (sigu >> (16 * bb.b)) & 65535 AS key
            FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) bb(b)),
          probes AS (
            SELECT doc_id, sigu, blk, key AS pkey FROM bands
            UNION ALL
            SELECT doc_id, sigu, blk, xor(key, 1::UBIGINT << j.range) AS pkey
            FROM bands CROSS JOIN range(16) j),
          c0 AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sigu AS s1, b.sigu AS s2
                 FROM bands a JOIN bands b
                   ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id),
          c1 AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sigu AS s1, b.sigu AS s2
                 FROM bands a JOIN probes b
                   ON a.blk = b.blk AND a.key = b.pkey AND a.doc_id < b.doc_id)
          SELECT 0::BIGINT AS probe_depth,
                 (SELECT COUNT(*) FROM c0)::BIGINT AS n_candidate_pairs,
                 (SELECT COUNT(*) FROM c0 WHERE bit_count(xor(s1, s2)) <= 6)::BIGINT AS n_verified_pairs
          UNION ALL
          SELECT 1, (SELECT COUNT(*) FROM c1),
                 (SELECT COUNT(*) FROM c1 WHERE bit_count(xor(s1, s2)) <= 6)
          ORDER BY probe_depth"""
    })

  /** Incremental connected-components maintenance
    * ([[graft.text.Dedup.incrementalClusters]]): a persisted component
    * artifact over within-decade part-id chains is updated with a batch
    * of bridge edges — only the touched components re-cluster (star edges
    * to old roots + the new pairs, a delta-sized local graph), untouched
    * components pass through by subtraction. The oracle is the FULL
    * recompute over old∪new edges (a generated min-label propagation
    * chain, each stage MATERIALIZED), which is precisely the operator's
    * equivalence contract — incremental must be indistinguishable from
    * recomputing everything. Output: component-size histogram after the
    * update. */
  val q253_incremental_cc = Q(
    "q253_incremental_cc",
    (s, dir) => {
      val ids = t(s, dir, "part").select(col("p_partkey").cast("long").as("p"))
      val base = ids.filter(col("p") % 10 =!= 0)
        .select(col("p").as("id1"), (col("p") + 1).as("id2"))
      val batch = ids.filter(col("p") % 100 === 5)
        .select(col("p").as("id1"), (col("p") + 10).as("id2"))
      val existing = Dedup.duplicateClusters(base)
      val updated = Dedup.incrementalClusters(existing, batch)
      updated.groupBy(col("root")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").cast("long").as("component_size"))
        .agg(count(lit(1)).cast("long").as("n_components"))
        .orderBy("component_size")
    },
    Some {
      // full recompute: min-label propagation over old ∪ new edges; merged
      // chains have diameter <= 20, so 21 materialized stages reach the
      // fixpoint with margin
      val stages = (1 to 21).map { i =>
        val prev = s"l${i - 1}"
        s"""l$i AS MATERIALIZED (
              SELECT n.id, LEAST(p.root, COALESCE(m.mn, p.root)) AS root
              FROM nodes n
              JOIN $prev p ON p.id = n.id
              LEFT JOIN (SELECT e.a AS id, MIN($prev.root) AS mn
                         FROM e JOIN $prev ON e.b = $prev.id GROUP BY 1) m
                ON m.id = n.id)"""
      }.mkString(",\n          ")
      s"""WITH ids AS (SELECT CAST(p_partkey AS BIGINT) AS p FROM part),
          pairs AS (
            SELECT p AS id1, p + 1 AS id2 FROM ids WHERE p % 10 <> 0
            UNION ALL
            SELECT p, p + 10 FROM ids WHERE p % 100 = 5),
          e AS MATERIALIZED (
            SELECT id1 AS a, id2 AS b FROM pairs
            UNION SELECT id2, id1 FROM pairs),
          nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM e),
          l0 AS MATERIALIZED (SELECT id, id AS root FROM nodes),
          $stages
          SELECT CAST(sz AS BIGINT) AS component_size,
                 CAST(COUNT(*) AS BIGINT) AS n_components
          FROM (SELECT root, COUNT(*) AS sz FROM l21 GROUP BY 1)
          GROUP BY 1 ORDER BY 1"""
    })

  /** Empirical Bloom-filter false-positive audit — the measured-accuracy
    * report that completes the sketch-fidelity family (minhash q200, KMV
    * q204, Count-Min q113/q214, HLL q114): a 16384-bit k=5 filter built
    * over the even-event key set is probed with the DISJOINT odd-event
    * keys (true positives excluded by construction via anti-join), so
    * every hit IS a false positive and the measured rate is the number a
    * capacity plan uses — here the filter is deliberately UNDERSIZED
    * (load kn/m ≈ 1.5 → measured ≈ 29 %, matching (1−e^(−kn/m))^k), the
    * overload condition this report exists to catch. The oracle replays the filter's actual probe
    * arithmetic — splitmix64 finalizer, forced-odd stride h2, five
    * wrapping-2⁶⁴ probe positions — through the mod-2⁶⁴ SQL machinery,
    * bit-for-bit. */
  val q254_bloom_fpp = Q(
    "q254_bloom_fpp",
    (s, dir) => {
      import org.apache.spark.sql.graft.ExprColumn
      val ev = t(s, dir, "events").select(col("event_id").cast("long").as("eid"))
      val members = ev.filter(col("eid") % 2 === 0)
        .select(xxhash64(col("eid")).as("key")).distinct().localCheckpoint(true)
      val probes = ev.filter(col("eid") % 2 === 1)
        .select(xxhash64(col("eid")).as("key")).distinct()
        .join(members, Seq("key"), "left_anti").localCheckpoint(true)
      val agg = graft.plans.BloomBuildAgg(ExprColumn.expr(col("key")), 16384L, 5)
      val bits = members.agg(ExprColumn(agg.toAggregateExpression()).as("bits"))
        .head().getSeq[Long](0).toArray
      val nFp = probes.filter(ExprColumn(graft.plans.BloomContains(
        ExprColumn.expr(col("key")), bits, 5))).count()
      import s.implicits._
      Seq((members.count(), probes.count(), nFp))
        .toDF("n_members", "n_probes", "n_false_positives")
    },
    Some {
      import graft.tools.OracleSql._
      val C1 = BigInt("9E3779B97F4A7C15", 16)
      val C2 = BigInt("BF58476D1CE4E5B9", 16)
      val C3 = BigInt("94D049BB133111EB", 16)
      // splitmix64 + forced-odd stride + 5 wrapping probe positions, as
      // chained stages over a relation exposing UBIGINT column `u`
      def probeStages(rel: String, pfx: String): String = {
        var q = rel
        def wrap(expr: String, col: String): Unit = { q = s"SELECT *, $expr AS $col FROM ($q)" }
        wrap(addModSql("u", C1.toString), s"${pfx}z0")
        wrap(mulConstSql(s"xor(${pfx}z0, ${pfx}z0 >> 30)", C2), s"${pfx}z1")
        wrap(mulConstSql(s"xor(${pfx}z1, ${pfx}z1 >> 27)", C3), s"${pfx}z2")
        wrap(s"xor(${pfx}z2, ${pfx}z2 >> 31)", s"${pfx}mx")
        wrap(s"${pfx}mx | 1", s"${pfx}h2")
        wrap("u", s"${pfx}p0")
        (1 to 4).foreach(i => wrap(addModSql(s"${pfx}p${i - 1}", s"${pfx}h2"), s"${pfx}p$i"))
        wrap((0 to 4).map(i => s"${pfx}p$i & 16383").mkString("[", ", ", "]"), s"${pfx}plist")
        q
      }
      val mk = xxhash64LongStages(
        "SELECT DISTINCT event_id::BIGINT AS eid FROM events WHERE event_id % 2 = 0",
        "eid", "key", pfx = "__bm")
      val pk = xxhash64LongStages(
        "SELECT DISTINCT event_id::BIGINT AS eid FROM events WHERE event_id % 2 = 1",
        "eid", "key", pfx = "__bp")
      s"""WITH mkeys AS MATERIALIZED (SELECT DISTINCT key FROM ($mk)),
            pkeys0 AS MATERIALIZED (SELECT DISTINCT key FROM ($pk)),
            pkeys AS MATERIALIZED (SELECT key FROM pkeys0 ANTI JOIN mkeys USING (key)),
            mpos AS MATERIALIZED (
              SELECT DISTINCT unnest(__amplist) AS pos FROM (
                ${probeStages(s"SELECT ${unsignedOf("key")} AS u FROM mkeys", "__am")})),
            bprobe AS (
              SELECT u AS key, unnest(__bbplist) AS pos FROM (
                ${probeStages(s"SELECT ${unsignedOf("key")} AS u FROM pkeys", "__bb")}) ),
            hits AS (
              SELECT b.key,
                     SUM(CASE WHEN m.pos IS NULL THEN 0 ELSE 1 END) AS nhit
              FROM bprobe b LEFT JOIN mpos m ON m.pos = b.pos
              GROUP BY b.key)
          SELECT (SELECT COUNT(*) FROM mkeys)::BIGINT AS n_members,
                 (SELECT COUNT(*) FROM pkeys)::BIGINT AS n_probes,
                 (SELECT COUNT(*) FROM hits WHERE nhit = 5)::BIGINT AS n_false_positives"""
    })

  /** Positional multi-touch attribution (the 40/20/40 U-shape — beside
    * q182's last-touch): per user, every view touch within 24 h before
    * that user's first purchase earns integer-ppm credit — 40 % first
    * touch, 40 % last touch, the middle 20 % split evenly (single-touch
    * journeys take 100 %; two-touch 50/50 by the same arithmetic with the
    * middle empty). Credits are exact integers summing to 1 000 000 per
    * converter (largest-remainder-free by construction: 400000·2 +
    * 200000/(n−2)·(n−2) + remainder folded into the LAST middle touch).
    * One user-keyed window pass. Report: credit mass per touch position
    * bucket. */
  val q255_position_attribution = Q(
    "q255_position_attribution",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id").cast("long").as("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tu"), col("event_id").cast("long").as("eid"))
      val conv = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("tu")).as("pt"))
      val touches = ev.filter(col("event_type") === "view")
        .join(conv, Seq("user_id"))
        .filter(col("tu") < col("pt") && col("tu") >= col("pt") - 86400000000L)
      val w = Window.partitionBy(col("user_id")).orderBy(col("tu"), col("eid"))
      val ranked = touches
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      val credited = ranked.withColumn("credit",
        when(col("n") === 1, lit(1000000L))
          .when(col("rn") === 1, when(col("n") === 2, 500000L).otherwise(400000L))
          .when(col("rn") === col("n"), when(col("n") === 2, 500000L).otherwise(400000L))
          .otherwise(expr("200000 div (n - 2)") +
            when(col("rn") === col("n") - 1, expr("200000 % (n - 2)")).otherwise(0L)))
      credited
        .withColumn("bucket",
          when(col("rn") === 1, "first")
            .when(col("rn") === col("n"), "last")
            .otherwise("middle"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_touches"),
          sum(col("credit")).cast("long").as("credit_ppm"))
        .orderBy("bucket")
    },
    Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tu, event_id FROM events),
              conv AS (SELECT user_id, MIN(tu) AS pt FROM ev
                       WHERE event_type = 'purchase' GROUP BY 1),
              touches AS (SELECT e.user_id, e.tu, e.event_id
                          FROM ev e JOIN conv c ON c.user_id = e.user_id
                          WHERE e.event_type = 'view'
                            AND e.tu < c.pt AND e.tu >= c.pt - 86400000000),
              ranked AS (SELECT user_id,
                                ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY tu, event_id) AS rn,
                                COUNT(*) OVER (PARTITION BY user_id) AS n
                         FROM touches),
              credited AS (SELECT *,
                CASE WHEN n = 1 THEN 1000000
                     WHEN rn = 1 THEN CASE WHEN n = 2 THEN 500000 ELSE 400000 END
                     WHEN rn = n THEN CASE WHEN n = 2 THEN 500000 ELSE 400000 END
                     ELSE 200000 // (n - 2) +
                          CASE WHEN rn = n - 1 THEN 200000 % (n - 2) ELSE 0 END
                END AS credit,
                CASE WHEN rn = 1 THEN 'first' WHEN rn = n THEN 'last'
                     ELSE 'middle' END AS bucket
                FROM ranked)
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_touches,
                   CAST(SUM(credit) AS BIGINT) AS credit_ppm
            FROM credited GROUP BY 1 ORDER BY 1"""))

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

  /** Histogram-based equi-join cardinality estimation — the THIRD member
    * of the planner-statistics family (q214: sketch inner product, q250:
    * catalog stats): equi-width histograms on both join keys (per bucket:
    * row count and exact distinct count — the shape ANALYZE histograms
    * persist), estimate per bucket = rows_a·rows_b / max(ndv_a, ndv_b)
    * (the uniform-within-bucket textbook formula, integer floor-div), exact
    * join size alongside. Unlike the sketch's one-sided ≥ guarantee this
    * estimator can err EITHER way — pinning est next to exact is the
    * point: the report shows the error a CBO would act on. Bucket-count-
    * sized aggregates only. */
  val q257_histogram_join_est = Q(
    "q257_histogram_join_est",
    (s, dir) => {
      val a = t(s, dir, "events").filter(col("event_type") === "view")
        .select(col("user_id").cast("long").as("k"))
      val b = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("user_id").cast("long").as("k"))
      def hist(df: DataFrame) = df
        .groupBy(expr("k div 32").as("bucket"))
        .agg(count(lit(1)).as("rows"), countDistinct(col("k")).as("ndv"))
      val est = hist(a).as("ha").join(hist(b).as("hb"), Seq("bucket"))
        .select((col("ha.rows") * col("hb.rows") /
          greatest(col("ha.ndv"), col("hb.ndv"))).cast("long").as("e"))
        .agg(sum(col("e")).as("est"))
      val exact = a.groupBy(col("k")).agg(count(lit(1)).as("ca"))
        .join(b.groupBy(col("k")).agg(count(lit(1)).as("cb")), Seq("k"))
        .agg(sum(col("ca") * col("cb")).as("exact"))
      est.crossJoin(exact)
        .select(col("est").cast("long").as("est"),
          col("exact").cast("long").as("exact"))
    },
    Some("""WITH a AS (SELECT CAST(user_id AS BIGINT) AS k FROM events
                       WHERE event_type = 'view'),
              b AS (SELECT CAST(user_id AS BIGINT) AS k FROM events
                    WHERE event_type = 'click'),
              ha AS (SELECT k // 32 AS bucket, COUNT(*) AS rows_, COUNT(DISTINCT k) AS ndv
                     FROM a GROUP BY 1),
              hb AS (SELECT k // 32 AS bucket, COUNT(*) AS rows_, COUNT(DISTINCT k) AS ndv
                     FROM b GROUP BY 1),
              est AS (SELECT SUM((ha.rows_ * hb.rows_) // GREATEST(ha.ndv, hb.ndv)) AS est
                      FROM ha JOIN hb USING (bucket)),
              ex AS (SELECT SUM(ca.c * cb.c) AS exact FROM
                       (SELECT k, COUNT(*) AS c FROM a GROUP BY 1) ca
                     JOIN (SELECT k, COUNT(*) AS c FROM b GROUP BY 1) cb USING (k))
            SELECT CAST(est.est AS BIGINT) AS est, CAST(ex.exact AS BIGINT) AS exact
            FROM est CROSS JOIN ex"""))

  /** Column-level snapshot diff — q104's corpus diff at COLUMN
    * granularity (the data-diff report schema-migration reviews read):
    * between two constructed customer snapshots (every 7th key's balance
    * floored up, every 11th key's segment rewritten, every 100th key
    * dropped), the per-column changed/same counts over matched keys plus
    * added/removed key counts. One full-outer join on the key; per-column
    * null-safe comparisons; counts derive from the id arithmetic so the
    * oracle is analytic where possible and a replay elsewhere. */
  val q258_column_diff = Q(
    "q258_column_diff",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("k"),
        col("c_acctbal"), col("c_mktsegment"))
      val next = base.filter(col("k") % 100 =!= 0)
        .select(col("k"),
          when(col("k") % 7 === 0, floor(col("c_acctbal")) + 1).otherwise(col("c_acctbal"))
            .cast("double").as("c_acctbal"),
          when(col("k") % 11 === 0, lit("REASSIGNED")).otherwise(col("c_mktsegment"))
            .as("c_mktsegment"))
      val j = base.as("o").join(next.as("n"), Seq("k"), "full_outer")
        .localCheckpoint(true)
      val matched = j.filter(col("o.c_acctbal").isNotNull && col("n.c_acctbal").isNotNull ||
        (col("o.c_mktsegment").isNotNull && col("n.c_mktsegment").isNotNull))
      val perCol = Seq(
        ("c_acctbal", col("o.c_acctbal") === col("n.c_acctbal")),
        ("c_mktsegment", col("o.c_mktsegment") === col("n.c_mktsegment"))).map {
        case (name, eq) =>
          matched.agg(
            sum(when(eq, 0L).otherwise(1L)).cast("long").as("n_changed"),
            sum(when(eq, 1L).otherwise(0L)).cast("long").as("n_same"))
            .select(lit(name).as("column_name"), col("n_changed"), col("n_same"))
      }.reduce(_.unionByName(_))
      val keys = j.agg(
        sum(when(col("n.c_mktsegment").isNull && col("o.c_mktsegment").isNotNull, 1L)
          .otherwise(0L)).cast("long").as("n_changed"),
        lit(0L).as("n_same"))
        .select(lit("__removed_keys").as("column_name"), col("n_changed"), col("n_same"))
      perCol.unionByName(keys).orderBy("column_name")
    },
    Some("""WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_acctbal, c_mktsegment
                          FROM customer),
              nxt AS (SELECT k,
                             CASE WHEN k % 7 = 0 THEN FLOOR(c_acctbal) + 1
                                  ELSE c_acctbal END AS c_acctbal,
                             CASE WHEN k % 11 = 0 THEN 'REASSIGNED'
                                  ELSE c_mktsegment END AS c_mktsegment
                      FROM base WHERE k % 100 <> 0),
              m AS (SELECT o.c_acctbal AS oa, n.c_acctbal AS na,
                           o.c_mktsegment AS os, n.c_mktsegment AS ns
                    FROM base o JOIN nxt n USING (k))
            SELECT 'c_acctbal' AS column_name,
                   CAST(SUM(CASE WHEN oa = na THEN 0 ELSE 1 END) AS BIGINT) AS n_changed,
                   CAST(SUM(CASE WHEN oa = na THEN 1 ELSE 0 END) AS BIGINT) AS n_same
            FROM m
            UNION ALL
            SELECT 'c_mktsegment',
                   CAST(SUM(CASE WHEN os = ns THEN 0 ELSE 1 END) AS BIGINT),
                   CAST(SUM(CASE WHEN os = ns THEN 1 ELSE 0 END) AS BIGINT)
            FROM m
            UNION ALL
            SELECT '__removed_keys',
                   (SELECT COUNT(*) FROM base WHERE k % 100 = 0)::BIGINT, 0::BIGINT
            ORDER BY column_name"""))

  /** Referential-integrity audit across the star schema — the cross-table
    * data-quality report beside q133's single-table expectations: per
    * foreign key, total references, orphan count (anti-join), and
    * distinct orphan keys — lineitem→orders, lineitem→part,
    * lineitem→supplier, orders→customer, customer→nation. Each check is
    * one anti-join aggregate; at 100 TB the dimension side broadcasts and
    * the audit is a single fact-scan per FK. */
  val q259_ri_audit = Q(
    "q259_ri_audit",
    (s, dir) => {
      import s.implicits._
      def check(name: String, fact: DataFrame, fk: String,
          dim: DataFrame, pk: String): DataFrame = {
        val f = fact.select(col(fk).cast("long").as("fk"))
        val orphans = f.join(dim.select(col(pk).cast("long").as("fk")).distinct(),
          Seq("fk"), "left_anti")
        f.agg(count(lit(1)).as("n_refs")).crossJoin(
          orphans.agg(count(lit(1)).as("n_orphans"),
            countDistinct(col("fk")).as("n_orphan_keys")))
          .select(lit(name).as("fk_name"),
            col("n_refs").cast("long").as("n_refs"),
            col("n_orphans").cast("long").as("n_orphans"),
            col("n_orphan_keys").cast("long").as("n_orphan_keys"))
      }
      Seq(
        check("lineitem.l_orderkey", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        check("lineitem.l_partkey", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey"),
        check("lineitem.l_suppkey", t(s, dir, "lineitem"), "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"),
        check("orders.o_custkey", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"),
        check("customer.c_nationkey", t(s, dir, "customer"), "c_nationkey",
          t(s, dir, "nation"), "n_nationkey"))
        .reduce(_.unionByName(_))
        .orderBy("fk_name")
    },
    Some("""SELECT 'customer.c_nationkey' AS fk_name,
                   (SELECT COUNT(*) FROM customer)::BIGINT AS n_refs,
                   (SELECT COUNT(*) FROM customer WHERE c_nationkey NOT IN
                     (SELECT n_nationkey FROM nation))::BIGINT AS n_orphans,
                   (SELECT COUNT(DISTINCT c_nationkey) FROM customer WHERE c_nationkey NOT IN
                     (SELECT n_nationkey FROM nation))::BIGINT AS n_orphan_keys
            UNION ALL
            SELECT 'lineitem.l_orderkey', (SELECT COUNT(*) FROM lineitem),
                   (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN
                     (SELECT o_orderkey FROM orders)),
                   (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem WHERE l_orderkey NOT IN
                     (SELECT o_orderkey FROM orders))
            UNION ALL
            SELECT 'lineitem.l_partkey', (SELECT COUNT(*) FROM lineitem),
                   (SELECT COUNT(*) FROM lineitem WHERE l_partkey NOT IN
                     (SELECT p_partkey FROM part)),
                   (SELECT COUNT(DISTINCT l_partkey) FROM lineitem WHERE l_partkey NOT IN
                     (SELECT p_partkey FROM part))
            UNION ALL
            SELECT 'lineitem.l_suppkey', (SELECT COUNT(*) FROM lineitem),
                   (SELECT COUNT(*) FROM lineitem WHERE l_suppkey NOT IN
                     (SELECT s_suppkey FROM supplier)),
                   (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem WHERE l_suppkey NOT IN
                     (SELECT s_suppkey FROM supplier))
            UNION ALL
            SELECT 'orders.o_custkey', (SELECT COUNT(*) FROM orders),
                   (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
                     (SELECT c_custkey FROM customer)),
                   (SELECT COUNT(DISTINCT o_custkey) FROM orders WHERE o_custkey NOT IN
                     (SELECT c_custkey FROM customer))
            ORDER BY fk_name"""))

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

  /** Deterministic grid-free quantile sketch end-to-end
    * (`Sketches.rankSampleSketch`, the Munro–Paterson rank-sampling
    * family): penny-exact lineitem prices shard by
    * xxhash64(orderkey·8+linenumber) into 32 cells, each cell keeps every
    * 64th value by local rank (ONE shuffle, no global sort), and the
    * inverted-CDF readback estimates p10/50/90/99. The sketch's rank
    * CONTRACT is pinned as data: count(v ≤ est) ≥ t' and
    * count(v < est) < t' + shards·step with t' = least(target, sketch
    * weight) — proven by exact filter-counts over the raw column. The
    * oracle replays shard-hash → per-cell rank sample → cumulative
    * readback → audit counts bit-for-bit (rank selection in a sorted
    * multiset is tie-order independent, which is what makes a SAMPLING
    * summary hash-matchable at all). */
  val q261_rank_sketch = Q(
    "q261_rank_sketch",
    (s, dir) => {
      import graft.operators.Sketches
      val shards = 32
      val step = 64
      val raw = t(s, dir, "lineitem")
        .select(
          round(col("l_extendedprice") * 100).cast("long").as("v"),
          (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("k"))
        .localCheckpoint(true) // counted + sketched + audited below
      val n = raw.count()
      val ps = Seq(10, 50, 90, 99)
      val sk = Sketches.rankSampleSketch(raw, "v", col("k"), shards, step)
      val q = Sketches.rankSampleQuantiles(sk, n, ps).collect()(0)
      val wTotal = q.getAs[Long]("w_total")
      val ests = ps.map(p => p -> q.getAs[Long](s"p$p"))
      // one distributed pass audits all four estimates' exact ranks
      val auditCols =
        ests.map { case (p, e) => sum(when(col("v") <= e, 1L).otherwise(0L)).as(s"le$p") } ++
          ests.map { case (p, e) => sum(when(col("v") < e, 1L).otherwise(0L)).as(s"lt$p") }
      val audit = raw.agg(auditCols.head, auditCols.tail: _*).collect()(0)
      import s.implicits._
      ests.map { case (p, e) =>
        val target = (n * p + 99) / 100
        val tp = math.min(target, wTotal)
        val le = audit.getAs[Long](s"le$p")
        val lt = audit.getAs[Long](s"lt$p")
        (p.toLong, e, target, le, (shards * step).toLong,
          le >= tp && lt < tp + shards * step)
      }.toDF("p", "est", "target", "exact_le", "bound", "ok")
        .orderBy("p")
    },
    Some {
      import graft.tools.OracleSql._
      val S = 32
      val step = 64
      val raw = "SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v, " +
        "l_orderkey * 8 + l_linenumber AS k FROM lineitem"
      val hashed = xxhash64LongStages(s"($raw)", "k", "kh", pfx = "__q")
      s"""WITH sh AS (SELECT v, ((kh % $S) + $S) % $S AS shard FROM ($hashed)),
          rn AS (SELECT v, shard, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY v) AS r FROM sh),
          sk AS MATERIALIZED (SELECT v, CAST($step AS BIGINT) AS w FROM rn WHERE r % $step = 0),
          cum AS (SELECT v, w, SUM(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM sk),
          tot AS (SELECT COUNT(*) AS n FROM sh),
          wt AS (SELECT COALESCE(SUM(w), 0) AS wt FROM sk),
          ps AS (SELECT * FROM (VALUES (10), (50), (90), (99)) t(p)),
          tgt AS (SELECT p, (n * p + 99) // 100 AS target,
                         LEAST((n * p + 99) // 100, wt) AS tp
                  FROM ps, tot, wt),
          est AS (SELECT p, target, tp,
                         (SELECT MIN(v) FROM cum WHERE c >= tgt.tp) AS est
                  FROM tgt)
          SELECT CAST(p AS BIGINT) AS p, est,
                 CAST(target AS BIGINT) AS target,
                 (SELECT COUNT(*) FROM sh WHERE v <= est.est) AS exact_le,
                 CAST(${S * step} AS BIGINT) AS bound,
                 ((SELECT COUNT(*) FROM sh WHERE v <= est.est) >= tp AND
                  (SELECT COUNT(*) FROM sh WHERE v < est.est) < tp + ${S * step}) AS ok
          FROM est ORDER BY p"""
    })

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
      val scratch = s.conf.get("spark.local.dir", "/tmp") +
        "/graft_q262_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"))
      val part = t(s, dir, "part")
      li.join(part.select(col("p_partkey").as("l_partkey"), col("p_brand").as("brand")),
          Seq("l_partkey"))
        .write.mode("overwrite").partitionBy("brand").parquet(s"$scratch/fact")
      val fact = s.read.parquet(s"$scratch/fact")
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
      import graft.sources.TxnLog
      val root = java.nio.file.Files.createTempDirectory("graft-q263").toString
      val logDir = s"$root/_log"
      val base = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("key"),
        (col("p_partkey") * 2).cast("long").as("value"))
      // disjoint-path fixture writes + post-final-log version reads run
      // overlapped (QueryDsl.parActions, guide §2.6)
      val fs = QueryDsl.parActions(0 until 3)(m =>
        TxnLog.writeDataFile(base.filter(pmod(col("key"), lit(3)) === m), s"$root/m$m"))
      TxnLog.commit(logDir, 0, adds = fs, removes = Nil)
      // updates: keys % 300 == 0 (all in the mod-3==0 file) replace their
      // row; keys +1e7 (new) insert
      val updates = base.filter(col("key") % 300 === 0)
        .select(col("key"), (col("key") * 1000).as("value"))
        .unionByName(base.filter(col("key") % 500 === 0)
          .select((col("key") + 10000000L).as("key"),
            ((col("key") + 10000000L) * 1000).as("value")))
      TxnLog.mergeCopyOnWrite(s, logDir, s"$root/merged", updates, "key")
      val v0Files = TxnLog.liveFiles(logDir, 0)
      QueryDsl.parActions(0L to 1L) { v =>
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
      import graft.sources.TxnLog
      val root = java.nio.file.Files.createTempDirectory("graft-q264").toString
      val logDir = s"$root/_log"
      val base = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("key"),
        (col("p_partkey") * 2).cast("long").as("value"))
      // disjoint-path fixture writes + post-final-log version reads run
      // overlapped (QueryDsl.parActions, guide §2.6)
      val fs = QueryDsl.parActions(0 until 3)(m =>
        TxnLog.writeDataFile(base.filter(pmod(col("key"), lit(3)) === m), s"$root/m$m"))
      TxnLog.commit(logDir, 0, adds = fs, removes = Nil)
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv1", col("key") % 7 === 0)
      TxnLog.deleteMergeOnRead(s, logDir, s"$root/dv2", col("key") % 11 === 0)
      QueryDsl.parActions(0L to 2L) { v =>
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
      import graft.sources.TxnLog
      val root = java.nio.file.Files.createTempDirectory("graft-q265").toString
      val logDir = s"$root/_log"
      val ev = t(s, dir, "events").select(
        col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"))
      // disjoint-path fixture writes run overlapped (guide §2.6)
      val Seq(f0a, f0b) = QueryDsl.parActions(Seq(
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
      import graft.sources.TxnLog
      val root = java.nio.file.Files.createTempDirectory("graft-q266").toString
      val logDir = s"$root/_log"
      val base = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("key"),
        (col("p_partkey") * 2).cast("long").as("value"))
      // disjoint-path fixture writes run overlapped (guide §2.6)
      val fs = QueryDsl.parActions(0 until 3)(m =>
        TxnLog.writeDataFile(base.filter(pmod(col("key"), lit(3)) === m), s"$root/m$m"))
      TxnLog.commit(logDir, 0, adds = fs, removes = Nil)
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
      val scratch = s.conf.get("spark.local.dir", "/tmp") +
        "/graft_q267_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.HadoopFs.delete(s, scratch)
      val srcDir = s"$scratch/src"
      raw.select(col("event_id"), col("user_id")).repartition(4, col("event_id"))
        .write.parquet(srcDir)
      val logDir = s"$scratch/_log"
      val dataDir = s"$scratch/data"
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
      val root = java.nio.file.Files.createTempDirectory("graft-q268").toString
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
      val root = java.nio.file.Files.createTempDirectory("graft-q269").toString
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
      import graft.sources.TxnLog
      val root = java.nio.file.Files.createTempDirectory("graft-q270").toString
      val logDir = s"$root/_log"
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
      val Seq(before, after, rect) = QueryDsl.parActions(Seq(0, 1, 2)) {
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
      import graft.sources.TxnLog
      val root = java.nio.file.Files.createTempDirectory("graft-q271").toString
      val logDir = s"$root/_log"
      val base = t(s, dir, "part").select(
        col("p_partkey").cast("long").as("key"),
        (col("p_partkey") * 2).cast("long").as("value"))
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
      QueryDsl.parActions(0L to 2L) { v =>
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

  val all: Seq[Q] = Seq(
    q251_personalized_pr, q252_multiprobe_lsh, q253_incremental_cc, q254_bloom_fpp,
    q255_position_attribution, q256_bitmap_index, q257_histogram_join_est, q258_column_diff,
    q259_ri_audit, q260_missing_patterns, q261_rank_sketch, q262_dpp,
    q263_merge_cow, q264_delete_vectors, q265_vacuum, q266_change_feed,
    q267_stream_txn_sink, q268_value_index, q269_bloom_skipping, q270_optimize_zorder,
    q271_schema_evolution)
}
