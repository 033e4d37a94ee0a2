package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.Dedup

import graft.QueryDsl._

/** Catalog family: iterative graph algorithms over key-derived graphs —
  * ranking, components, cores and trusses, paths, spanning forests,
  * centrality, link prediction and mixing metrics. COVERAGE.md graph
  * rows. Registered in [[graft.Queries]]. */
private[graft] object GraphCatalog {

  /** The co-order graph over a lineitem key: an undirected edge (src <
    * dst) between two keys that share at least `minShared` orders — the
    * co-supplier graph (`l_suppkey`, 5) and the co-part graph
    * (`l_partkey`, 2). */
  private def coOrderEdges(s: SparkSession, dir: String, key: String, minShared: Int): DataFrame = {
    val os = t(s, dir, "lineitem").select(col("l_orderkey"), col(key)).distinct()
    val a = os.select(col("l_orderkey"), col(key).as("ka"))
    val b = os.select(col("l_orderkey"), col(key).as("kb"))
    a.join(b, Seq("l_orderkey"))
      .filter(col("ka") < col("kb"))
      .groupBy("ka", "kb").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minShared)
      .select(col("ka").cast("long").as("src"), col("kb").cast("long").as("dst"))
  }

  /** The oracles' spelling of the same pair census: CTEs `os` and
    * `e0(<p>a, <p>b, w)` over `key`, `<p>` the key's one-letter alias. */
  private def coOrderPairsSql(key: String, p: String): String =
    s"""os AS (SELECT DISTINCT l_orderkey, $key FROM lineitem),
            e0 AS (SELECT a.$key AS ${p}a, b.$key AS ${p}b, COUNT(*) AS w
                   FROM os a JOIN os b
                     ON a.l_orderkey = b.l_orderkey AND a.$key < b.$key
                   GROUP BY 1, 2)"""

  /** Fixed-point integer PageRank, 5 iterations over the order-derived
    * customer graph (~15k edges / 1500 nodes, avg out-degree 10 — a real
    * expander, so the iterations genuinely move mass). Integer arithmetic
    * end-to-end makes the result bit-stable under any partitioning; the
    * oracle replays all 5 rounds as a generated CTE chain. Iterations are
    * eagerly checkpointed ([[graft.operators.Graph]]) — the same
    * lineage-truncation discipline as the q69 connected components. */
  val q119_pagerank = Q(
    "q119_pagerank",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val edges = o.select(
        col("o_custkey").cast("long").as("src"),
        (col("o_orderkey") % 1500).cast("long").as("dst")).distinct()
      graft.operators.Graph.pageRankFixedPoint(edges, iterations = 5)
        .select(col("node").cast("long").as("node"), col("rank").cast("long").as("rank"))
        .orderBy("node")
    },
    Some {
      val iters = (1 to 5).map { i =>
        val prev = s"r${i - 1}"
        s"""r$i AS (
              SELECT nodes.node,
                     (SELECT (1000000000::BIGINT * 15) // (100 * n) FROM consts)
                     + (85 * COALESCE(s.s, 0)) // 100 AS rank
              FROM nodes LEFT JOIN (
                SELECT ed.dst AS node, SUM($prev.rank // ed.outdeg) AS s
                FROM ed JOIN $prev ON ed.src = $prev.node GROUP BY 1) s USING (node))"""
      }.mkString(",\n          ")
      s"""WITH e AS (
            SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
                   CAST(o_orderkey % 1500 AS BIGINT) AS dst
            FROM orders),
          nodes AS (
            SELECT DISTINCT node
            FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          consts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
          deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
          ed AS (SELECT e.src, e.dst, d.outdeg FROM e JOIN deg d USING (src)),
          r0 AS (SELECT node, (SELECT 1000000000::BIGINT // n FROM consts) AS rank FROM nodes),
          $iters
          SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank
          FROM r5 ORDER BY node"""
    })

  /** Exact triangle count by degree orientation (graph breadth): the
    * co-supplier graph (suppliers sharing >= 5 orders), counted by the
    * O(m^1.5) oriented-wedge scheme — the oracle counts the same
    * triangles with the naive 3-way join, which only survives because the
    * oracle's graph is small. */
  val q129_triangles = Q(
    "q129_triangles",
    (s, dir) => {
      val edges = coOrderEdges(s, dir, "l_suppkey", 5)
        .localCheckpoint(true) // consumed by the count and the wedge pipeline
      edges
        .agg(count(lit(1)).cast("long").as("n_edges"))
        .crossJoin(graft.operators.Graph.triangleCount(edges))
    },
    Some(s"""WITH ${coOrderPairsSql("l_suppkey", "s")},
            e AS (SELECT sa, sb FROM e0 WHERE w >= 5)
            SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
                   CAST((SELECT COUNT(*)
                         FROM e e1 JOIN e e2 ON e1.sb = e2.sa
                         JOIN e e3 ON e3.sa = e1.sa AND e3.sb = e2.sb) AS BIGINT) AS triangles"""))

  /** k-core extraction (graph breadth): the 4-core of the co-supplier
    * graph (suppliers sharing >= 5 orders) by iterative peeling — the
    * dense-community extraction a spam-ring or co-citation audit runs.
    * The peeling fixed point is unique, so Spark (loop-until-stable with
    * per-round checkpoints) and the oracle (a generated 16-stage peel
    * chain — extra stages past convergence are no-ops) agree exactly;
    * Spark THROWS rather than return a non-fixed-point if 16 rounds ever
    * stop sufficing. */
  val q168_kcore = Q(
    "q168_kcore",
    (s, dir) => {
      val edges = coOrderEdges(s, dir, "l_suppkey", 5)
      graft.operators.Graph.kCore(edges, k = 4, maxRounds = 16)
        .select(col("node").cast("long").as("node"), col("deg").cast("long").as("deg"))
        .orderBy("node")
    },
    Some {
      // each round references the previous one several times — MATERIALIZED
      // keeps DuckDB's CTE inlining from expanding the chain exponentially
      val rounds = (1 to 16).map { i =>
        val prev = s"r${i - 1}"
        s"""k$i AS MATERIALIZED (
                    SELECT node FROM (SELECT u AS node FROM $prev UNION ALL SELECT v FROM $prev)
                    GROUP BY node HAVING COUNT(*) >= 4),
            r$i AS MATERIALIZED (
                    SELECT u, v FROM $prev
                    WHERE u IN (SELECT node FROM k$i) AND v IN (SELECT node FROM k$i))"""
      }.mkString(",\n          ")
      s"""WITH ${coOrderPairsSql("l_suppkey", "s")},
          r0 AS MATERIALIZED (SELECT sa AS u, sb AS v FROM e0 WHERE w >= 5),
          $rounds
          SELECT CAST(node AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT) AS deg
          FROM (SELECT u AS node FROM r16 UNION ALL SELECT v FROM r16)
          GROUP BY node ORDER BY node"""
    })

  /** Deterministic random walks (graph breadth / node2vec-style positive
    * sampling): 4 hops from every node of the order-derived customer
    * graph, next hop = integer-mix argmin over out-neighbors — the PRNG
    * replaced by arithmetic both engines compute bit-identically. Output
    * is per-node visit counts (start position included); the oracle
    * replays all 4 steps as generated CTE stages with a (mix, dst)
    * row_number argmin. */
  val q169_walks = Q(
    "q169_walks",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val edges = o.select(
        col("o_custkey").cast("long").as("src"),
        (col("o_orderkey") % 1500).cast("long").as("dst")).distinct()
      graft.operators.Graph.deterministicWalkVisits(edges, steps = 4)
        .select(col("node").cast("long").as("node"), col("visits").cast("long").as("visits"))
        .orderBy("node")
    },
    Some {
      val steps = (1 to 4).map { i =>
        val prev = s"f${i - 1}"
        s"""f$i AS (
              SELECT start, cand AS cur FROM (
                SELECT f.start, e.dst AS cand,
                       ((f.cur % 2147483647) * 1048573 + $i * 8191
                        + (e.dst % 2147483647) * 524287) % 2147483647 AS mix,
                       ROW_NUMBER() OVER (PARTITION BY f.start
                                          ORDER BY ((f.cur % 2147483647) * 1048573 + $i * 8191
                                                    + (e.dst % 2147483647) * 524287) % 2147483647,
                                                   e.dst) AS rn
                FROM $prev f JOIN e ON f.cur = e.src)
              WHERE rn = 1)"""
      }.mkString(",\n          ")
      s"""WITH e AS (
            SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
                   CAST(o_orderkey % 1500 AS BIGINT) AS dst
            FROM orders),
          nodes AS (SELECT DISTINCT node
                    FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          f0 AS (SELECT node AS start, node AS cur FROM nodes),
          $steps,
          vis AS (SELECT cur FROM f0 UNION ALL SELECT cur FROM f1 UNION ALL
                  SELECT cur FROM f2 UNION ALL SELECT cur FROM f3 UNION ALL
                  SELECT cur FROM f4)
          SELECT CAST(cur AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT) AS visits
          FROM vis GROUP BY 1 ORDER BY 1"""
    })

  /** Preference-cycle audit (RLHF data QA): pairwise preference edges
    * (the earlier line in an order "beats" the next, items = part buckets)
    * checked for intransitive triads — a directed 3-cycle means the
    * judgments cannot come from any consistent ranking. Cycles are counted
    * once each via [[graft.operators.Graph.directedTriangleCycles]]'s
    * (degree, id)-oriented wedge enumeration — hub-safe: a judge/item
    * compared against everything expands O(√m)-bounded oriented wedges,
    * not in-deg×out-deg candidates. The oracle runs the naive 3-way join,
    * which only survives because the oracle's graph is small. */
  val q170_pref_cycles = Q(
    "q170_pref_cycles",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 300).cast("long").as("item"))
      // NOTE (r18 opt): a lead()-window rewrite of this self-join is NOT
      // equivalent here — (l_orderkey, l_linenumber) is not unique in the
      // synthetic lineitem (11,785 dup pairs at sf0.01), and the join's
      // semantics are the full cross product of linenumber n x n+1 rows
      // (measured: the window spelling fails the oracle hash). Kept the
      // join; the win that IS safe: the edge set feeds TWO consumers (the
      // census and the cycle pipeline) and before r18 both re-derived it
      // from lineitem — checkpoint the distinct set once (guide §2.4).
      val a = li.select(
        col("l_orderkey").as("o2"), col("l_linenumber").as("nxt"),
        col("item").as("w_item"))
      val edges = li
        .join(a, col("l_orderkey") === col("o2") && col("nxt") === col("l_linenumber") + 1)
        .filter(col("item") =!= col("w_item"))
        .select(col("item").as("src"), col("w_item").as("dst"))
        .distinct().localCheckpoint(true)
      edges
        .agg(count(lit(1)).cast("long").as("n_edges"))
        .crossJoin(graft.operators.Graph.directedTriangleCycles(edges))
    },
    Some("""WITH li AS (SELECT l_orderkey, l_linenumber,
                               CAST(l_partkey % 300 AS BIGINT) AS item
                        FROM lineitem),
            e AS (SELECT DISTINCT a.item AS src, b.item AS dst
                  FROM li a JOIN li b
                    ON a.l_orderkey = b.l_orderkey
                   AND b.l_linenumber = a.l_linenumber + 1
                  WHERE a.item != b.item)
            SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
                   CAST((SELECT COUNT(*)
                         FROM e e1
                         JOIN e e2 ON e2.src = e1.dst
                                  AND e1.src < e1.dst AND e1.src < e2.dst
                         JOIN e e3 ON e3.src = e2.dst AND e3.dst = e1.src)
                        AS BIGINT) AS cycles"""))

  /** Synchronous label-propagation communities (graph breadth): 4 fixed
    * rounds over the co-supplier graph, every node adopting its
    * neighborhood's most frequent label (ties to the smaller) — the
    * deterministic LPA variant that replays level-by-level; the oracle
    * runs the same 4 rounds as generated MATERIALIZED stages. */
  val q180_label_prop = Q(
    "q180_label_prop",
    (s, dir) => {
      val edges = coOrderEdges(s, dir, "l_suppkey", 5)
      graft.operators.Graph.labelPropagation(edges, iterations = 4)
        .select(col("node").cast("long").as("node"), col("lbl").cast("long").as("community"))
        .orderBy("node")
    },
    Some {
      val rounds = (1 to 4).map { i =>
        val prev = s"l${i - 1}"
        s"""l$i AS MATERIALIZED (
              SELECT src AS node, lbl FROM (
                SELECT src, lbl,
                       ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, lbl ASC) AS rn
                FROM (SELECT e.src, p.lbl, COUNT(*) AS c
                      FROM e JOIN $prev p ON p.node = e.dst GROUP BY 1, 2))
              WHERE rn = 1)"""
      }.mkString(",\n          ")
      s"""WITH ${coOrderPairsSql("l_suppkey", "s")},
          und AS (SELECT sa AS src, sb AS dst FROM e0 WHERE w >= 5),
          e AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und)),
          l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
          $rounds
          SELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS community
          FROM l4 ORDER BY node"""
    })

  /** Integer HITS hubs & authorities (Kleinberg JACM'99) over the
    * bipartite supplier→part supply graph: two unnormalized mutual-
    * reinforcement rounds ([[graft.operators.Graph.hits]] — exact BIGINT
    * scores, partitioning-deterministic), reporting the top-10 hubs
    * (suppliers whose parts are widely co-supplied) and top-10 authorities
    * (parts supplied by the best-connected suppliers) under a (score,
    * node) total order. Oracle = the same two aggregation rounds as plain
    * SQL joins. */
  val q215_hits = Q(
    "q215_hits",
    (s, dir) => {
      val edges = t(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("src"), col("l_partkey").cast("long").as("dst"))
        .distinct()
      val scored = graft.operators.Graph.hits(edges, rounds = 2)
      val hubs = scored.filter(col("hub").isNotNull)
        .select(lit("hub").as("side"), col("node"), col("hub").as("score"))
        .orderBy(col("score").desc, col("node")).limit(10)
      val auths = scored.filter(col("auth").isNotNull)
        .select(lit("authority").as("side"), col("node"), col("auth").as("score"))
        .orderBy(col("score").desc, col("node")).limit(10)
      hubs.unionByName(auths)
        .select(col("side"), col("node").cast("long").as("node"),
          col("score").cast("long").as("score"))
        .orderBy("side", "node")
    },
    Some("""WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
              h1 AS (SELECT src, COUNT(*) AS sc FROM e GROUP BY 1),
              a1 AS (SELECT dst, SUM(h1.sc) AS sc FROM e JOIN h1 USING (src) GROUP BY dst),
              h2 AS (SELECT src, SUM(a1.sc) AS sc FROM e JOIN a1 USING (dst) GROUP BY src),
              a2 AS (SELECT dst, SUM(h2.sc) AS sc FROM e JOIN h2 USING (src) GROUP BY dst),
              th AS (SELECT 'hub' AS side, src AS node, sc FROM h2
                     ORDER BY sc DESC, src LIMIT 10),
              ta AS (SELECT 'authority' AS side, dst AS node, sc FROM a2
                     ORDER BY sc DESC, dst LIMIT 10)
            SELECT side, CAST(node AS BIGINT) AS node, CAST(sc AS BIGINT) AS score
            FROM (SELECT * FROM th UNION ALL SELECT * FROM ta)
            ORDER BY side, node"""))

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
      val scc = graft.core.GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        graft.operators.Graph.stronglyConnectedComponents(ring.unionByName(cross).unionByName(single))
      }
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

  /** Link prediction by the resource-allocation index
    * ([[graft.operators.Graph.predictLinks]] — Zhou/Lü/Zhang 2009, the
    * degree-discounted cousin of common-neighbors; the graph-ML
    * complement of the repo's descriptive graph operators): over the
    * co-purchase part graph (parts sharing ≥ 2 orders), the top-20
    * non-adjacent pairs by Σ ⌊10⁶/deg(z)⌋ over common neighbors z.
    * Wedge enumeration is bounded by the middle-degree cap (part of the
    * operator contract — a hub's per-pair RA contribution is < 10⁶/deg
    * while its expansion is deg²), runs on an explicit-N repartition, and
    * existing edges drop via one anti-join. Oracle replays wedges, the
    * ppm floor-division, and the (score desc, a, b) top-k in SQL. */
  val q289_link_prediction = Q(
    "q289_link_prediction",
    (s, dir) => {
      val edges = coOrderEdges(s, dir, "l_partkey", 2)
      graft.operators.Graph.predictLinks(edges, maxMiddleDegree = 64, k = 20)
        .select(col("a").as("a"), col("b").as("b"),
          col("common_neighbors"), col("ra_ppm"))
    },
    Some(s"""WITH ${coOrderPairsSql("l_partkey", "p")},
            e AS (SELECT pa::BIGINT AS u, pb::BIGINT AS v FROM e0 WHERE w >= 2),
            sym AS (SELECT u AS z, v AS n FROM e UNION ALL SELECT v, u FROM e),
            deg AS (SELECT z, COUNT(*) AS d FROM sym GROUP BY 1),
            adj AS (SELECT sym.z, sym.n, deg.d FROM sym JOIN deg USING (z)
                    WHERE deg.d <= 64),
            wedges AS (
              SELECT s1.n AS a, s2.n AS b, s1.d
              FROM adj s1 JOIN adj s2 ON s1.z = s2.z AND s1.n < s2.n),
            scored AS (
              SELECT a, b, COUNT(*)::BIGINT AS common_neighbors,
                     SUM(1000000 // d)::BIGINT AS ra_ppm
              FROM wedges GROUP BY 1, 2),
            nonedge AS (
              SELECT scored.* FROM scored
              LEFT JOIN e ON e.u = scored.a AND e.v = scored.b
              WHERE e.u IS NULL)
            SELECT a, b, common_neighbors, ra_ppm
            FROM nonedge ORDER BY ra_ppm DESC, a, b LIMIT 20"""))

  /** Degree assortativity ([[graft.operators.Graph.assortativity]] —
    * Newman PRL 2002, the one-number mixing-pattern health metric beside
    * the repo's structural graph ops): exact-integer Pearson of endpoint
    * degrees over the symmetrized co-purchase edge list, the one-row
    * moment products lifted to DECIMAL(38,0)/HUGEINT (m·Σxy passes 2⁶³ on
    * 10⁹-edge graphs), sign-magnitude ppm division. Oracle replays
    * degrees, moments, and the division. */
  val q301_assortativity = Q(
    "q301_assortativity",
    (s, dir) => {
      val edges = coOrderEdges(s, dir, "l_partkey", 2)
      graft.operators.Graph.assortativity(edges)
    },
    Some(s"""WITH ${coOrderPairsSql("l_partkey", "p")},
            e AS (SELECT pa::BIGINT AS u, pb::BIGINT AS v FROM e0 WHERE w >= 2),
            sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
            deg AS (SELECT a AS node, COUNT(*)::BIGINT AS d FROM sym GROUP BY 1),
            ends AS (SELECT da.d AS dx, db.d AS dy
                     FROM sym JOIN deg da ON da.node = sym.a
                     JOIN deg db ON db.node = sym.b),
            mom AS (SELECT COUNT(*)::HUGEINT AS m, SUM(dx * dy)::HUGEINT AS sxy,
                           SUM(dx)::HUGEINT AS sx, SUM(dx * dx)::HUGEINT AS sxx
                    FROM ends),
            nd AS (SELECT m, m * sxy - sx * sx AS num, m * sxx - sx * sx AS den FROM mom)
            SELECT (m / 2)::BIGINT AS n_edges,
                   CASE WHEN den = 0 THEN NULL
                        ELSE (CASE WHEN num < 0 THEN -1 ELSE 1 END
                              * ((abs(num) * 1000000) // den))::BIGINT
                   END AS r_ppm
            FROM nd"""))

  /** Multi-source BFS eccentricity ([[graft.operators.Graph.multiSourceBfs]]
    * — exact shortest-path distances, the graph-DISTANCE primitive the
    * structural operators (components, cores, ranks) don't provide;
    * eccentricities lower-bound the diameter): from the 4 smallest nodes
    * of the co-purchase graph, per-seed eccentricity / reached count /
    * distance mass to horizon 20. All seeds' frontiers advance in the
    * same per-round jobs; every iterate checkpointed. Oracle: DuckDB
    * recursive CTE with UNION dedup and the same horizon, min-distance
    * folded after — both sides agree on the reached set by construction. */
  val q303_bfs_eccentricity = Q(
    "q303_bfs_eccentricity",
    (s, dir) => {
      val edges = coOrderEdges(s, dir, "l_partkey", 2)
        .localCheckpoint(true) // seeds scan + BFS rounds
      val seeds = edges.select(col("src").as("n")).union(edges.select(col("dst").as("n")))
        .distinct().orderBy("n").limit(4)
        .collect().map(_.getLong(0)).toSeq
      graft.operators.Graph.multiSourceBfs(edges, seeds, horizon = 20)
        .groupBy("seed")
        .agg(max(col("dist")).cast("long").as("ecc"),
          count(lit(1)).cast("long").as("n_reached"),
          sum(col("dist")).cast("long").as("sum_dist"))
        .orderBy("seed")
    },
    Some(s"""WITH RECURSIVE ${coOrderPairsSql("l_partkey", "p")},
            e AS (SELECT pa::BIGINT AS u, pb::BIGINT AS v FROM e0 WHERE w >= 2),
            sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
            seeds AS (SELECT DISTINCT a AS seed FROM sym ORDER BY 1 LIMIT 4),
            bfs(seed, node, d) AS (
              SELECT seed, seed, 0 FROM seeds
              UNION
              SELECT b.seed, s.b, b.d + 1
              FROM bfs b JOIN sym s ON s.a = b.node WHERE b.d < 20),
            md AS (SELECT seed, node, MIN(d) AS dist FROM bfs GROUP BY 1, 2)
            SELECT seed::BIGINT AS seed, MAX(dist)::BIGINT AS ecc,
                   COUNT(*)::BIGINT AS n_reached, SUM(dist)::BIGINT AS sum_dist
            FROM md GROUP BY 1 ORDER BY 1"""))

  /** k-truss decomposition ([[graft.operators.Graph.kTruss]] — the
    * cohesion rung above k-core: an edge must sit in ≥ k−2 triangles, and
    * peeling one edge can starve its neighbors, so the cascade is
    * genuinely iterative). The graph is CONSTRUCTED from part keys: 6-
    * cliques (every edge in 4 triangles — survive the 4-truss), a
    * triangle STAIRCASE whose rung edges have support 1 and whose spine
    * then cascades to support 0 (fully peels over two rounds), and a
    * support-0 cycle (peels instantly). Expected truss = exactly the
    * clique edges; the oracle derives that set independently from the
    * same key arithmetic — a leaked staircase edge or lost clique edge
    * changes every census number. */
  val q304_ktruss = Q(
    "q304_ktruss",
    (s, dir) => {
      import s.implicits._
      val leaders = t(s, dir, "part").select(col("p_partkey").cast("long").as("k"))
        .filter(col("k") % 50 === 0)
      val pairIdx = (for { i <- 0 to 5; j <- i + 1 to 5 } yield (i.toLong, j.toLong))
        .toDF("i", "j")
      val cliques = leaders.crossJoin(broadcast(pairIdx))
        .select((col("k") * 100 + col("i")).as("src"), (col("k") * 100 + col("j")).as("dst"))
      val sb = 1000000000L
      val cb = 2000000000L
      val extra = ((0L to 8L).map(i => (sb + i, sb + i + 1)) ++
        (0L to 7L).map(i => (sb + i, sb + i + 2)) ++
        (0L until 12L).map(i => (cb + i, cb + (i + 1) % 12))).toDF("src", "dst")
      val truss = graft.operators.Graph.kTruss(cliques.unionByName(extra), k = 4)
        .localCheckpoint(true) // census + node count
      val nodes = truss.select(col("u").as("n")).union(truss.select(col("v").as("n")))
        .distinct().agg(count(lit(1)).cast("long").as("n_nodes"))
      truss.agg(count(lit(1)).cast("long").as("n_edges"),
        sum(col("u")).cast("long").as("sum_u"), sum(col("v")).cast("long").as("sum_v"))
        .crossJoin(nodes)
        .select(col("n_edges"), col("n_nodes"), col("sum_u"), col("sum_v"))
    },
    Some("""WITH leaders AS (
              SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey % 50 = 0),
            pairs AS (
              SELECT a.i, b.j
              FROM (SELECT unnest(range(0, 6)) AS i) a,
                   (SELECT unnest(range(0, 6)) AS j) b
              WHERE a.i < b.j),
            ce AS (SELECT k * 100 + i AS u, k * 100 + j AS v FROM leaders, pairs)
            SELECT (SELECT COUNT(*) FROM ce)::BIGINT AS n_edges,
                   (SELECT COUNT(*) FROM (SELECT DISTINCT u AS n FROM ce
                                          UNION SELECT DISTINCT v FROM ce))::BIGINT AS n_nodes,
                   (SELECT SUM(u) FROM ce)::BIGINT AS sum_u,
                   (SELECT SUM(v) FROM ce)::BIGINT AS sum_v"""))

  /** Weighted multi-source shortest paths
    * ([[graft.operators.Graph.weightedSssp]] — the WEIGHTED rung above
    * q303's BFS: exact min-COST distances, distributed Bellman-Ford with
    * delta-frontier relaxation, refusal on round exhaustion). The graph
    * is CONSTRUCTED from part keys (q304 discipline — the oracle derives
    * every distance independently from the arithmetic): the 10-ary digit
    * tree (edge k→k div 10, weight k%7+1) plus grandparent SHORTCUTS
    * (k→k div 100, weight 13) that win exactly when the two tree hops
    * they bypass sum to 14 — so the min-fold is genuinely exercised, and
    * a bug that ignores (or always prefers) shortcuts moves the census.
    * dist(seed, v) = a ≤5-term LEAST over the {1,2}-step compositions of
    * the ancestor chain; reached(seed) = seed's digit subtree. */
  val q315_weighted_sssp = Q(
    "q315_weighted_sssp",
    (s, dir) => {
      val keys = t(s, dir, "part")
        .select(col("p_partkey").cast("long").as("k"))
        .filter(col("k") < 100000L) // depth <= 4 below the single-digit roots
      val tree = keys.filter(col("k") >= 10L).select(
        expr("CAST(k div 10 AS BIGINT)").as("src"), col("k").as("dst"),
        (pmod(col("k"), lit(7L)) + 1L).as("w"))
      val cuts = keys.filter(col("k") >= 100L).select(
        expr("CAST(k div 100 AS BIGINT)").as("src"), col("k").as("dst"),
        lit(13L).as("w"))
      graft.operators.Graph
        .weightedSssp(tree.unionByName(cuts), Seq(1L, 2L, 3L), maxRounds = 16)
        .groupBy("seed")
        .agg(count(lit(1)).cast("long").as("n_reached"),
          max(col("dist")).cast("long").as("max_dist"),
          sum(col("dist")).cast("long").as("sum_dist"),
          sum(col("node") * col("dist")).cast("long").as("checksum"))
        .orderBy("seed")
    },
    Some("""WITH n AS (SELECT CAST(p_partkey AS BIGINT) AS v FROM part
                       WHERE p_partkey < 100000),
            b AS (SELECT v, v // 10 AS a1, v // 100 AS a2,
                         v // 1000 AS a3, v // 10000 AS a4,
                         v % 7 + 1 AS w0, (v // 10) % 7 + 1 AS w1,
                         (v // 100) % 7 + 1 AS w2, (v // 1000) % 7 + 1 AS w3
                  FROM n),
            d AS (
              SELECT s.seed, b.v AS node,
                CASE
                  WHEN b.v = s.seed THEN 0
                  WHEN b.a1 = s.seed THEN w0
                  WHEN b.a2 = s.seed THEN LEAST(w0 + w1, 13)
                  WHEN b.a3 = s.seed THEN LEAST(w0 + w1 + w2, 13 + w2, w0 + 13)
                  ELSE LEAST(w0 + w1 + w2 + w3, w0 + w1 + 13, w0 + 13 + w3,
                             13 + w2 + w3, 26)
                END AS dist
              FROM b CROSS JOIN (SELECT unnest([1, 2, 3]) AS seed) s
              WHERE b.v = s.seed OR b.a1 = s.seed OR b.a2 = s.seed
                 OR b.a3 = s.seed OR b.a4 = s.seed)
            SELECT seed::BIGINT AS seed, COUNT(*)::BIGINT AS n_reached,
                   MAX(dist)::BIGINT AS max_dist, SUM(dist)::BIGINT AS sum_dist,
                   SUM(node * dist)::BIGINT AS checksum
            FROM d GROUP BY 1 ORDER BY 1"""))

  /** Borůvka minimum spanning forest ([[graft.operators.Graph.boruvkaMsf]]
    * — the distributed MST: per round every component picks its cheapest
    * outgoing edge under the (w, a, b) total order (ties in w break by
    * endpoint ids — the unique-MSF perturbation trick) and the selected
    * component graph contracts through the pointer-jumping components;
    * components at least halve per round, so O(log n) rounds of linear
    * edge joins. The graph: a ring over n = |orders| nodes with cheap
    * jittered weights plus expensive chords — by the cycle property the
    * MSF is EXACTLY the ring minus its (w, a, b)-maximal edge and no
    * chord ever enters, so the oracle derives edge count, total weight,
    * and an id checksum from the ring arithmetic alone, independent of
    * the algorithm. */
  val q349_boruvka_msf = Q(
    "q349_boruvka_msf",
    (s, dir) => {
      val m = t(s, dir, "orders").count()
      val ids = s.range(m).select(col("id").as("i"))
      val ring = ids.select(
        col("i").as("u"),
        pmod(col("i") + 1L, lit(m)).as("v"),
        (lit(1000L) + pmod(col("i") * 48271L, lit(997L))).as("w"))
      val chords = ids.filter(pmod(col("i"), lit(5L)) === 0L).select(
        col("i").as("u"),
        pmod(col("i") + 7L, lit(m)).as("v"),
        (lit(10000L) + pmod(col("i") * 16807L, lit(9973L))).as("w"))
      val forest = graft.operators.Graph
        .boruvkaMsf(ring.unionByName(chords), "u", "v", "w")
      forest.agg(
        count(lit(1)).cast("long").as("n_edges"),
        sum(col("w")).cast("long").as("total_w"),
        max(col("w")).cast("long").as("max_w"),
        sum(col("a") + col("b")).cast("long").as("id_checksum"))
    },
    Some("""WITH m AS (SELECT COUNT(*) AS m FROM orders),
            ring AS (
              SELECT i,
                     LEAST(i, (i + 1) % (SELECT m FROM m)) AS a,
                     GREATEST(i, (i + 1) % (SELECT m FROM m)) AS b,
                     1000 + (i * 48271) % 997 AS w
              FROM (SELECT unnest(range(0, (SELECT m FROM m))) AS i)),
            dropped AS (
              SELECT a, b, w FROM ring ORDER BY w DESC, a DESC, b DESC LIMIT 1)
            SELECT ((SELECT m FROM m) - 1)::BIGINT AS n_edges,
                   (SELECT SUM(w) FROM ring)::BIGINT
                     - (SELECT w FROM dropped)::BIGINT AS total_w,
                   (SELECT MAX(w) FROM
                      (SELECT w FROM ring EXCEPT ALL SELECT w FROM dropped))::BIGINT AS max_w,
                   (SELECT SUM(a + b) FROM ring)::BIGINT
                     - (SELECT a + b FROM dropped)::BIGINT AS id_checksum"""))

  /** Seed-sampled betweenness centrality
    * ([[graft.operators.Graph.betweennessApprox]] — Brandes restricted to
    * 2 seeds and horizon 6 over the co-purchase graph: forward BFS with
    * exact BIGINT path counts, backward dependency accumulation in the
    * defined truncating micro variant δ(v) = Σ σ_v·(10⁶+δ_w) div σ_w;
    * the oracle replays BOTH phases as a generated materialized
    * level-chain — the LPA-chain convention). Top 20 by (bc, node). */
  val q358_betweenness = Q(
    "q358_betweenness",
    (s, dir) => {
      val edges = coOrderEdges(s, dir, "l_partkey", 2)
        .localCheckpoint(true)
      val seeds = edges.select(col("src").as("n")).union(edges.select(col("dst").as("n")))
        .distinct().orderBy("n").limit(2)
        .collect().map(_.getLong(0)).toSeq
      graft.operators.Graph.betweennessApprox(edges, seeds, horizon = 6)
        .orderBy(col("bc_upm").desc, col("node")).limit(20)
    },
    Some {
      val h = 6
      val fwd = (0 until h).map { k =>
        s"""lev${k + 1} AS MATERIALIZED (
              SELECT l.seed, s.b AS node, CAST(SUM(l.sigma) AS BIGINT) AS sigma
              FROM lev$k l JOIN sym s ON s.a = l.node
              WHERE NOT EXISTS (SELECT 1 FROM all$k x
                                WHERE x.seed = l.seed AND x.node = s.b)
              GROUP BY 1, 2),
            all${k + 1} AS MATERIALIZED (
              SELECT * FROM all$k UNION ALL SELECT seed, node FROM lev${k + 1})"""
      }.mkString(",\n")
      val bwd = (h - 1 to 0 by -1).map { k =>
        s"""bd$k AS MATERIALIZED (
              SELECT seed, node, sigma, COALESCE(CAST(SUM(term) AS BIGINT), 0) AS delta
              FROM (
                SELECT l.seed, l.node, l.sigma,
                       (l.sigma::HUGEINT * (1000000 + w.delta)) // w.sigma AS term
                FROM lev$k l
                LEFT JOIN sym s ON s.a = l.node
                LEFT JOIN bd${k + 1} w ON w.seed = l.seed AND w.node = s.b
              ) t GROUP BY 1, 2, 3)"""
      }.mkString(",\n")
      s"""WITH ${coOrderPairsSql("l_partkey", "p")},
            e AS (SELECT pa::BIGINT AS u, pb::BIGINT AS v FROM e0 WHERE w >= 2),
            sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
            seeds AS (SELECT DISTINCT a AS seed FROM sym ORDER BY 1 LIMIT 2),
            lev0 AS MATERIALIZED (SELECT seed, seed AS node, 1::BIGINT AS sigma FROM seeds),
            all0 AS MATERIALIZED (SELECT seed, node FROM lev0),
            $fwd,
            bd$h AS MATERIALIZED (SELECT seed, node, sigma, 0::BIGINT AS delta FROM lev$h),
            $bwd,
            allbd AS (${(0 to h).map(k => s"SELECT * FROM bd$k").mkString(" UNION ALL ")})
            SELECT node::BIGINT AS node, SUM(delta)::BIGINT AS bc_upm,
                   COUNT(*)::BIGINT AS n_seeds
            FROM allbd WHERE node <> seed
            GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20"""
    })

  /** Diameter lower bound by double sweep (the classic two-BFS
    * estimator: sweep 1 from the minimum node finds a peripheral node —
    * max distance, min-id tie-break — sweep 2 from there measures the
    * bound; pure COMPOSITION over [[graft.operators.Graph.multiSourceBfs]],
    * zero new operator code, the TextRank convention). */
  val q359_double_sweep = Q(
    "q359_double_sweep",
    (s, dir) => {
      val edges = coOrderEdges(s, dir, "l_partkey", 2)
        .localCheckpoint(true)
      val start = edges.select(col("src").as("n")).union(edges.select(col("dst").as("n")))
        .distinct().orderBy("n").limit(1).collect()(0).getLong(0)
      val sweep1 = graft.operators.Graph.multiSourceBfs(edges, Seq(start), horizon = 20)
      val far = sweep1.orderBy(col("dist").desc, col("node")).limit(1)
        .collect()(0).getAs[Long]("node")
      val sweep2 = graft.operators.Graph.multiSourceBfs(edges, Seq(far), horizon = 20)
      sweep2.agg(
        min(col("seed")).cast("long").as("peripheral"),
        lit(start).cast("long").as("start"),
        max(col("dist")).cast("long").as("diameter_lb"),
        count(lit(1)).cast("long").as("n_reached"))
    },
    Some(s"""WITH RECURSIVE ${coOrderPairsSql("l_partkey", "p")},
            e AS (SELECT pa::BIGINT AS u, pb::BIGINT AS v FROM e0 WHERE w >= 2),
            sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
            s1 AS (SELECT MIN(a) AS seed FROM sym),
            bfs1(node, d) AS (
              SELECT seed, 0 FROM s1
              UNION
              SELECT s.b, b.d + 1 FROM bfs1 b JOIN sym s ON s.a = b.node
              WHERE b.d < 20),
            md1 AS (SELECT node, MIN(d) AS dist FROM bfs1 GROUP BY 1),
            far AS (SELECT node FROM md1 ORDER BY dist DESC, node LIMIT 1),
            bfs2(node, d) AS (
              SELECT node, 0 FROM far
              UNION
              SELECT s.b, b.d + 1 FROM bfs2 b JOIN sym s ON s.a = b.node
              WHERE b.d < 20),
            md2 AS (SELECT node, MIN(d) AS dist FROM bfs2 GROUP BY 1)
            SELECT (SELECT node FROM far)::BIGINT AS peripheral,
                   (SELECT seed FROM s1)::BIGINT AS start,
                   MAX(dist)::BIGINT AS diameter_lb,
                   COUNT(*)::BIGINT AS n_reached
            FROM md2"""))

  /** Per-node clustering coefficient ([[graft.operators.Graph
    * .localClusteringPpm]] — the q129 supplier co-purchase graph's node-
    * level refinement: triangles owned by degree orientation, credited to
    * all three corners, lcc = 2·tri/(deg·(deg−1)) in ppm, NULL for
    * degree-1 nodes; the oracle enumerates a<b<c triangles directly). */
  val q373_clustering_coeff = Q(
    "q373_clustering_coeff",
    (s, dir) => {
      val edges = coOrderEdges(s, dir, "l_suppkey", 5)
      graft.operators.Graph.localClusteringPpm(edges)
        .orderBy("node")
    },
    Some(s"""WITH ${coOrderPairsSql("l_suppkey", "s")},
            e AS MATERIALIZED (SELECT sa, sb FROM e0 WHERE w >= 5),
            deg AS (
              SELECT node, COUNT(*) AS deg FROM (
                SELECT sa AS node FROM e UNION ALL SELECT sb FROM e)
              GROUP BY 1),
            tri AS (
              SELECT e1.sa AS a, e1.sb AS b, e2.sb AS c
              FROM e e1 JOIN e e2 ON e1.sb = e2.sa
              JOIN e e3 ON e3.sa = e1.sa AND e3.sb = e2.sb),
            pn AS (
              SELECT node, COUNT(*) AS tri FROM (
                SELECT unnest([a, b, c]) AS node FROM tri)
              GROUP BY 1)
            SELECT deg.node::BIGINT AS node, deg::BIGINT AS deg,
                   COALESCE(pn.tri, 0)::BIGINT AS tri,
                   CAST(CASE WHEN deg < 2 THEN NULL ELSE
                     (2000000 * COALESCE(pn.tri, 0)) // (deg * (deg - 1))
                     END AS BIGINT) AS lcc_ppm
            FROM deg LEFT JOIN pn ON deg.node = pn.node
            ORDER BY 1"""))

  val all: Seq[Q] = Seq(
    q119_pagerank, q129_triangles, q168_kcore, q169_walks, q170_pref_cycles, q180_label_prop,
    q215_hits, q251_personalized_pr, q253_incremental_cc, q284_scc, q289_link_prediction,
    q301_assortativity, q303_bfs_eccentricity, q304_ktruss, q315_weighted_sssp, q349_boruvka_msf,
    q358_betweenness, q359_double_sweep, q373_clustering_coeff)
}
