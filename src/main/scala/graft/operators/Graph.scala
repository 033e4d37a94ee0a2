package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge tables — the operator family where
  * naive Spark implementations die at scale (unbounded lineage, one
  * codegen'd mega-plan per iteration). Same design rules as
  * [[graft.text.Dedup.duplicateClusters]]: every iteration eagerly
  * checkpoints (lineage truncated, result anchored), inputs consumed more
  * than once are materialized exactly once.
  */
object Graph {

  /** Fixed-point integer PageRank: ranks are BIGINT multiples of
    * 1/`scale`, every step is integer arithmetic —
    *
    *   base     = (scale * (dampDen - dampNum)) div (dampDen * N)
    *   contrib  = rank div outdeg           (per out-edge)
    *   rank'(v) = base + (dampNum * Σ contrib(u→v)) div dampDen
    *
    * — so the result is DETERMINISTIC under any partitioning and engine
    * (integer sums commute exactly; float PageRank differs in the last
    * ulps per shuffle order), which is what makes it oracle-replayable.
    * The floor divisions leak ≤ 1/scale per edge per round to rounding —
    * the standard fixed-point trade; dangling-node mass (nodes with no
    * out-edges) is dropped rather than redistributed, also by contract.
    *
    * Overflow-safe by construction: total rank mass starts at ~`scale`
    * and only shrinks, so `dampNum * Σ` stays below dampNum·scale
    * regardless of node count.
    *
    * Scale shape: edges and out-degrees are joined once and cached; each
    * round is one join on `src` + one aggregation on `dst` + one left
    * join back to the node set — all shuffles on node keys, no
    * whole-graph collects; `checkpoint` truncates lineage each round
    * (local by default, pluggable durable for spot-node clusters).
    *
    * `edges` needs columns (src, dst); duplicate edges are meaningful
    * (parallel edges contribute twice) — pre-`distinct()` if unwanted.
    */
  def pageRankFixedPoint(
      edges: DataFrame,
      iterations: Int,
      scale: Long = 1000000000L,
      dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = {
    require(iterations >= 1, s"pageRank: iterations must be >= 1, got $iterations")
    require(scale >= 1000L, s"pageRank: scale must be >= 1000, got $scale")
    require(dampNum >= 0 && dampNum <= dampDen, s"pageRank: damping $dampNum/$dampDen not in [0,1]")
    val checkpoint = org.apache.spark.sql.graft.CheckpointFresh.apply _
    val e = checkpoint(edges.select(col("src"), col("dst")))
    // the checkpoint's eager materialization already counts every row —
    // reuse it instead of a separate count() job (r13 verdict item 2)
    val (nodes, n) = org.apache.spark.sql.graft.CheckpointFresh.withCount(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())
    require(n > 0, "pageRank: empty graph")
    val base = (scale * (dampDen - dampNum)) / (dampDen * n)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("__graft_outdeg"))
    val edgesWithDeg = checkpoint(e.join(outdeg, "src"))
    // the uniform starting vector is never materialized: iteration 1
    // inlines its constant (below), so the first checkpointed ranks frame
    // is iteration 1's OUTPUT
    var ranks: DataFrame = null
    var it = 0
    while (it < iterations) {
      // iteration 1's rank vector is the constant scale/n on EVERY node
      // (and every edge src is a node), so the edge×ranks join only
      // decorates each edge with that driver-known constant — inline it
      // and skip the join (r18 opt: guide §2.4; exact integer identity)
      val contrib =
        if (it == 0)
          edgesWithDeg.select(col("dst").as("node"),
            expr(s"${scale / n}L div __graft_outdeg").as("__graft_c"))
        else
          edgesWithDeg
            .join(ranks, edgesWithDeg("src") === ranks("node"))
            .select(col("dst").as("node"), expr("rank div __graft_outdeg").as("__graft_c"))
      val sums = contrib
        .groupBy(col("node"))
        .agg(sum(col("__graft_c")).as("__graft_s"))
      ranks = checkpoint(
        nodes
          .join(sums, Seq("node"), "left")
          .select(
            col("node"),
            (lit(base) +
              expr(s"($dampNum * coalesce(__graft_s, 0L)) div $dampDen")).as("rank")))
      it += 1
    }
    ranks
  }

  /** Personalized PageRank (the seed-biased teleport variant behind
    * related-item recommendation and local graph exploration): identical
    * integer fixed-point arithmetic to [[pageRankFixedPoint]], except the
    * teleport mass lands ONLY on the seed set —
    *
    *   rank'(v) = [v ∈ S]·(scale·(dampDen−dampNum)) div (dampDen·|S|)
    *              + (dampNum·Σ contrib(u→v)) div dampDen
    *
    * — so scores measure proximity TO THE SEEDS, not global centrality,
    * while keeping every guarantee of the global form (BIGINT-exact,
    * partitioning-deterministic, oracle-replayable; mass only shrinks, so
    * overflow-safe). Seeds start with scale div |S| each, everything else
    * at 0. Same per-round checkpoint hygiene; seeds broadcast. */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int,
      scale: Long = 1000000000L,
      dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = {
    require(iterations >= 1, s"personalizedPageRank: iterations must be >= 1, got $iterations")
    require(scale >= 1000L, s"personalizedPageRank: scale must be >= 1000, got $scale")
    require(dampNum >= 0 && dampNum <= dampDen,
      s"personalizedPageRank: damping $dampNum/$dampDen not in [0,1]")
    val checkpoint = org.apache.spark.sql.graft.CheckpointFresh.apply _
    val e = checkpoint(edges.select(col("src"), col("dst")))
    val nodes = checkpoint(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())
    val (seedSet, nSeeds) = org.apache.spark.sql.graft.CheckpointFresh.withCount(
      seeds.select(col("node")).distinct()
        .join(nodes, Seq("node"), "left_semi"))
    require(nSeeds > 0, "personalizedPageRank: no seed is a graph node")
    val base = (scale * (dampDen - dampNum)) / (dampDen * nSeeds)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("__graft_outdeg"))
    val edgesWithDeg = checkpoint(e.join(outdeg, "src"))
    val seeded = nodes.join(
      seedSet.withColumn("__graft_seed", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__graft_seed"), lit(0L)).as("__graft_seed"))
    var ranks = checkpoint(seeded
      .withColumn("rank", col("__graft_seed") * lit(scale / nSeeds))
      .select(col("node"), col("rank")))
    var it = 0
    while (it < iterations) {
      val sums = edgesWithDeg
        .join(ranks, edgesWithDeg("src") === ranks("node"))
        .select(col("dst").as("node"), expr("rank div __graft_outdeg").as("__graft_c"))
        .groupBy(col("node"))
        .agg(sum(col("__graft_c")).as("__graft_s"))
      ranks = checkpoint(
        seeded
          .join(sums, Seq("node"), "left")
          .select(
            col("node"),
            (col("__graft_seed") * lit(base) +
              expr(s"($dampNum * coalesce(__graft_s, 0L)) div $dampDen")).as("rank")))
      it += 1
    }
    ranks
  }

  /** Integer HITS (Kleinberg JACM'99 hubs & authorities): `rounds` mutual-
    * reinforcement rounds from the all-ones authority vector WITHOUT the
    * usual per-round normalization — normalization rescales but never
    * reorders, and dropping it keeps every score an exact BIGINT sum,
    * deterministic under any partitioning and replayable as plain SQL
    * aggregation chains (the float/normalized variant differs in last-ulp
    * shuffle order, the PageRank lesson). The trade: magnitudes grow like
    * (mean-degree)^(2*rounds), so callers keep `rounds` small — ANSI mode
    * turns a genuine overflow into a loud error, never a silent wrap.
    *
    * Scale shape: per round one join+agg on `src` (hubs) and one on `dst`
    * (authorities) — shuffles carry (node, score) pairs only; the edge set
    * is materialized once and reused; each round's scores are checkpointed
    * so the lineage stays flat.
    *
    * Returns (node, hub, auth): hub NULL for nodes with no out-edges,
    * auth NULL for nodes with no in-edges (a bipartite edge list yields
    * disjoint hub/authority sides — the natural HITS reading). */
  def hits(
      edges: DataFrame,
      rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"hits: rounds must be >= 1, got $rounds")
    val checkpoint = org.apache.spark.sql.graft.CheckpointFresh.apply _
    val e = checkpoint(edges.select(col("src"), col("dst")))
    var auth = e.select(col("dst").as("node")).distinct()
      .select(col("node"), lit(1L).as("score"))
    var hub: DataFrame = null
    // per-round checkpointing is ITERATION hygiene — it pays for itself
    // when lineage would otherwise compound (the PageRank lesson), but at
    // the shallow depths HITS is typically run to, each checkpoint is a
    // full materialization of a node-sized frame; keep the plan lazy for
    // <= 2 rounds and truncate per round only beyond that
    val deep = rounds > 2
    for (r <- 1 to rounds) {
      // round 1's auth is all-ones over EVERY distinct dst, so the join
      // keeps every edge with score 1 — hub(src) degenerates to the plain
      // out-degree count, no edge×auth join (r18 opt: guide §2.4; exact)
      hub =
        if (r == 1)
          e.groupBy(col("src").as("hnode"))
            .agg(count(lit(1)).cast("long").as("hscore"))
            .select(col("hnode").as("node"), col("hscore").as("score"))
        else
          e.join(auth, e("dst") === auth("node"))
            .groupBy(col("src").as("hnode"))
            .agg(sum(col("score")).as("hscore"))
            .select(col("hnode").as("node"), col("hscore").as("score"))
      if (deep) hub = checkpoint(hub)
      auth = e.join(hub.select(col("node").as("hnode"), col("score").as("hscore")),
          e("src") === col("hnode"))
        .groupBy(col("dst").as("anode"))
        .agg(sum(col("hscore")).as("ascore"))
        .select(col("anode").as("node"), col("ascore").as("score"))
      if (deep) auth = checkpoint(auth)
    }
    // hub feeds the final join twice (directly and through auth's lineage)
    // — materialize it once either way
    hub = checkpoint(hub)
    hub.select(col("node"), col("score").as("hub"))
      .join(auth.select(col("node"), col("score").as("auth")), Seq("node"), "full_outer")
  }


  /** k-core of an undirected graph by ITERATIVE PEELING: repeatedly drop
    * every node whose degree within the surviving subgraph is < k until a
    * fixed point. The survivors are exactly the maximal subgraph in which
    * every node has degree ≥ k — the standard "dense-enough community"
    * extraction that a spam-cluster or co-citation analysis needs.
    *
    * Determinism: the fixed point of peeling is UNIQUE (peeling is a
    * monotone set-shrinking operator), so the result is independent of
    * partitioning and iteration batching — which is what makes it
    * oracle-replayable level-by-level.
    *
    * Scale shape: each round is one degree aggregation over the surviving
    * edge set + one semi-join filter — both keyed on node ids, no
    * whole-graph collect. The surviving EDGE set is re-materialized and
    * checkpointed every round so round r+1's plan reads a pinned result,
    * not an r-deep lineage (the q69 connected-components discipline).
    * Rounds are bounded by the peel depth (≤ max-degeneracy ordering
    * depth, typically ≪ 20 on real graphs); `maxRounds` is a safety rail
    * that THROWS rather than silently returning a non-fixed-point.
    *
    * `edges` needs columns (src, dst); direction, duplicates and
    * self-loops are normalized away. Returns (node, deg) — the surviving
    * nodes with their degree inside the core.
    */
  def kCore(
      edges: DataFrame,
      k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    val cf = org.apache.spark.sql.graft.CheckpointFresh
    val undirected = edges
      .select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    var (live, liveCount) = cf.withCount(undirected)
    var round = 0
    var done = false
    while (!done) {
      require(round < maxRounds, s"kCore: no fixed point after $maxRounds rounds")
      val deg = live
        .select(col("u").as("node")).union(live.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      val (pruned, prunedCount) = cf.withCount(
        live
          .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
          .select("u", "v"))
      // fixed point iff no edge was dropped (node set shrinks only when
      // its incident edges do, so edge count is the cheaper test); both
      // counts fall out of the checkpoints' eager materializations
      done = prunedCount == liveCount
      live = pruned
      liveCount = prunedCount
      round += 1
    }
    live
      .select(col("u").as("node")).union(live.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Deterministic random walks: from EVERY node, take `steps` hops where
    * the hop from `cur` at step `i` goes to the out-neighbor `nb`
    * minimizing the integer mix
    *
    *   mix(cur, i, nb) = ((cur % M)*A1 + i*A2 + (nb % M)*A3) % M
    *
    * (ties broken by smaller `nb`). The mix plays the role of the PRNG in
    * node2vec-style positive-pair generation, but is pure integer
    * arithmetic — bit-identical on any engine and any partitioning, hence
    * oracle-replayable step-by-step. Walks halt early at sink nodes.
    *
    * Scale shape: the frontier is one row per live walk; each step is ONE
    * join frontier⋈adjacency on the current node plus a per-walk argmin
    * (`min(struct(mix, nb))` — a codegen'd aggregate, not a sort), then a
    * checkpoint to truncate lineage. State never exceeds |nodes| rows and
    * steps are bounded, so the plan survives arbitrarily large edge sets —
    * the expensive side is the adjacency join, which shuffles on node
    * keys only.
    *
    * Returns visit counts: (node, visits) where visits counts every walk
    * position 0..steps that landed on `node` (position 0 = the start
    * itself).
    */
  def deterministicWalkVisits(
      edges: DataFrame,
      steps: Int,
      m: Long = 2147483647L,
      a1: Long = 1048573L,
      a2: Long = 8191L,
      a3: Long = 524287L): DataFrame = {
    require(steps >= 1, s"walks: steps must be >= 1, got $steps")
    val checkpoint = org.apache.spark.sql.graft.CheckpointFresh.apply _
    val adj = checkpoint(edges.select(col("src"), col("dst")).distinct())
    val nodes = adj.select(col("src").as("node"))
      .union(adj.select(col("dst").as("node"))).distinct()
    var frontier = checkpoint(nodes.select(col("node").as("start"), col("node").as("cur")))
    val visited = scala.collection.mutable.ArrayBuffer[DataFrame](
      frontier.select(col("cur").as("node")))
    var i = 0
    while (i < steps) {
      val step = frontier
        .join(adj, frontier("cur") === adj("src"))
        .select(
          col("start"),
          col("dst"),
          (((col("cur") % m) * a1 + lit(i + 1) * a2 + (col("dst") % m) * a3) % m).as("mix"))
        .groupBy("start")
        .agg(min(struct(col("mix"), col("dst"))).as("pick"))
        .select(col("start"), col("pick.dst").as("cur"))
      frontier = checkpoint(step)
      visited += frontier.select(col("cur").as("node"))
      i += 1
    }
    visited.reduce(_ union _)
      .groupBy("node").agg(count(lit(1)).as("visits"))
  }

  /** Synchronous label propagation (community detection): labels start as
    * node ids; each round every node adopts the most frequent label among
    * its neighbors, ties to the SMALLER label, isolated behavior
    * irrelevant (every node in an edge list has a neighbor). All nodes
    * update simultaneously from the previous round's labels and the round
    * count is FIXED — both choices for determinism: asynchronous LPA and
    * run-to-convergence depend on visit order, this form is a pure
    * function of (edges, iterations) and replays level-by-level in SQL.
    *
    * Scale shape per round: one join edges⋈labels on the neighbor key,
    * one (node, label) count aggregate, one per-node argmax via
    * `max(struct(cnt, -label))` (codegen'd aggregate, no sort), then a
    * checkpoint — shuffles carry (node, label) pairs only. Same
    * per-round lineage-truncation discipline as [[pageRankFixedPoint]].
    */
  def labelPropagation(
      edges: DataFrame,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"labelPropagation: iterations must be >= 1, got $iterations")
    val checkpoint = org.apache.spark.sql.graft.CheckpointFresh.apply _
    val und = edges
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val e = checkpoint(
      und.union(und.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    var labels: DataFrame = null
    var i = 0
    while (i < iterations) {
      // round 1 is the identity round: lbl(dst) = dst over the DISTINCT
      // edge set, so every (src, lbl) count is exactly 1 and the
      // (count, -lbl) argmax degenerates to min(dst) — one aggregation
      // over e, no edge×labels join and no two-level frequency count
      // (r18 opt: guide §2.4; exact, every node has >= 1 neighbor in the
      // symmetrized e so the row set matches)
      val freq =
        if (i == 0)
          e.groupBy(col("src")).agg(min(col("dst")).as("lbl"))
            .select(col("src").as("node"), col("lbl"))
        else
          e.join(labels.select(col("node").as("dst"), col("lbl")), Seq("dst"))
            .groupBy(col("src"), col("lbl"))
            .agg(count(lit(1)).as("__graft_c"))
            .groupBy(col("src"))
            .agg(max(struct(col("__graft_c"), (-col("lbl")).as("neg"))).as("__graft_m"))
            .select(col("src").as("node"), (-col("__graft_m.neg")).as("lbl"))
      labels = checkpoint(freq)
      i += 1
    }
    labels
  }

  /** Count directed 3-cycles u→v→w→u (each directed cycle once) — the
    * "preference cycle" audit: if edges encode pairwise preferences
    * (winner→loser), a directed triangle is an intransitive triad, the
    * signature of inconsistent judgments. A triangle whose three edges
    * are all bidirectional hosts TWO directed cycles (one per rotation
    * sense) and counts twice, matching the naive 3-way-join semantics.
    *
    * Scale shape: enumeration rides the SAME (degree, id) orientation as
    * [[triangleCount]] — directed edges collapse to undirected SUPPORT
    * edges carrying two direction bits (f = low→high endpoint edge
    * exists, r = high→low exists), the support graph is oriented so
    * every out-degree is O(√m), wedges come only from oriented
    * out-neighborhoods, and cyclicity is classified from the six direction
    * bits at the closing equi-join. This removes the hub blow-up of the
    * naive in×out wedge join: a preference hub compared against
    * everything (huge in- AND out-degree) has only low-(degree,id)
    * neighbors in its oriented out-list, so the wedge expansion stays
    * O(m^1.5) total with no quadratic hot key — the exact skew real
    * pairwise-preference data has. The oriented edge list is checkpointed
    * once for its three consumers, and the row-EXPANDING wedge join is
    * preceded by an explicit-N repartition (AQE sizes by input bytes,
    * blind to the expansion).
    *
    * Cycle classification: the owning triangle (u; v, w with v < w by id)
    * carries bits (f1, b1) for the oriented edge u→v, (f2, b2) for u→w,
    * and (f3, b3) for the closing support edge keyed in id order (f3 =
    * v→w exists). The two possible rotation senses are then
    * u→v→w→u = f1 ∧ f3 ∧ b2 and u→w→v→u = f2 ∧ b3 ∧ b1; each directed
    * cycle is counted exactly once because exactly one vertex of the
    * triangle owns it under the orientation. */
  def directedTriangleCycles(edges: DataFrame): DataFrame =
    orientedDirectedSupport(edges) match {
      case (oriented, par) =>
        val wedges = oriented
          .select(col("src").as("t_u"), col("dst").as("t_v"),
            col("f").as("f1"), col("r").as("b1"))
          .repartition(par, col("t_u"))
          .join(
            oriented.select(col("src").as("t_u"), col("dst").as("t_w"),
              col("f").as("f2"), col("r").as("b2")),
            Seq("t_u"))
          .filter(col("t_v") < col("t_w"))
        // closing support edge keyed by id order — (least, greatest) of the
        // oriented endpoints is exactly (t_v, t_w); translate its bits into
        // id order so f3 always means "lower-id → higher-id edge exists"
        val closing = oriented.select(
          least(col("src"), col("dst")).as("t_v"),
          greatest(col("src"), col("dst")).as("t_w"),
          when(col("src") < col("dst"), col("f")).otherwise(col("r")).as("f3"),
          when(col("src") < col("dst"), col("r")).otherwise(col("f")).as("b3"))
        // the closing side is edge-sized while wedges is the O(m^1.5)
        // expansion — build the hash on the small side instead of sorting
        // millions of wedge rows for a sort-merge (r18 opt, guide §3.1)
        wedges
          .join(closing.hint("shuffle_hash"), Seq("t_v", "t_w"))
          .agg(coalesce(sum(
            (col("f1") && col("f3") && col("b2")).cast("long") +
              (col("f2") && col("b3") && col("b1")).cast("long")), lit(0L))
            .cast("long").as("cycles"))
    }

  /** (degree, id)-oriented support graph of a DIRECTED edge list: one row
    * per unordered endpoint pair, (src, dst) pointing from the
    * lower-(degree, id) endpoint to the higher, with direction bits f
    * (directed edge src→dst exists) and r (dst→src exists). Checkpointed
    * (consumed multiple times by wedge enumeration); second element is the
    * explicit repartition width for the row-expanding join that follows.
    * Shared by [[directedTriangleCycles]] and its spec (which asserts the
    * oriented out-degree bound directly on a planted hub). */
  private[graft] def orientedDirectedSupport(edges: DataFrame): (DataFrame, Int) = {
    val support = edges
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        (col("src") < col("dst")).as("isFwd"))
      .groupBy(col("a"), col("b"))
      .agg(max(col("isFwd")).as("f"), max(!col("isFwd")).as("r"))
    val degrees = support
      .select(col("a").as("node")).union(support.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = support
      .join(degrees.select(col("node").as("a"), col("deg").as("deg_a")), "a")
      .join(degrees.select(col("node").as("b"), col("deg").as("deg_b")), "b")
    val aLower = struct(col("deg_a"), col("a")) < struct(col("deg_b"), col("b"))
    val par = edges.sparkSession.sparkContext.defaultParallelism
    val oriented = withDeg
      .select(
        when(aLower, col("a")).otherwise(col("b")).as("src"),
        when(aLower, col("b")).otherwise(col("a")).as("dst"),
        // bits follow the flip: f must mean "directed src→dst exists"
        when(aLower, col("f")).otherwise(col("r")).as("f"),
        when(aLower, col("r")).otherwise(col("f")).as("r"))
      // CheckpointFresh, not plain localCheckpoint: under AQE the plain
      // form stamps NO partitioning on the LogicalRDD (the final
      // partitioning exists only post-execution), so the wedge join
      // re-exchanged BOTH sides; CheckpointFresh keeps the executed
      // HashPartitioning(src) and the wedge join goes exchange-free
      // (r18 opt, guide §2.4)
      .transform(org.apache.spark.sql.graft.CheckpointFresh.apply)
    (oriented, par)
  }

  /** Exact triangle count by DEGREE ORIENTATION (the MapReduce-classic
    * Suri–Vassilvitskii / Cohen scheme): orient every undirected edge from
    * its lower-(degree, id) endpoint to the higher one, enumerate wedges
    * u→v, u→w only from each node's ORIENTED out-neighborhood, and count
    * the wedges closed by an oriented edge v→w. Every triangle is counted
    * exactly once (its minimum-(degree, id) vertex owns it).
    *
    * Why this survives 100 TB graphs while the naive 3-way self-join does
    * not: orientation bounds every out-degree by O(√m) — a celebrity node
    * with 10⁸ followers has huge IN-degree but only low-(degree,id)
    * neighbors in its OUT-list — so the wedge expansion is O(m^1.5) total
    * with NO quadratic hot key, the precise skew that kills the
    * unoriented join. The wedge→edge probe is an equi-join on (v, w), and
    * the oriented edge list is materialized once and reused for both
    * sides.
    *
    * `edges` needs columns (src, dst); direction and duplicates are
    * normalized away (self-loops dropped). Returns one row, `triangles`
    * BIGINT.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val undirected = edges
      .select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val degrees = undirected
      .select(col("u").as("node")).union(undirected.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): struct comparison gives the lexicographic order
    val withDeg = undirected
      .join(degrees.select(col("node").as("u"), col("deg").as("deg_u")), "u")
      .join(degrees.select(col("node").as("v"), col("deg").as("deg_v")), "v")
    // the wedge self-join EXPANDS (outdeg² per node) — explicit-N
    // repartition on the join key so the expansion runs wide (AQE
    // coalesces by INPUT bytes, blind to the expansion — the q115 lesson),
    // and the checkpoint pins that layout for all three consumers
    val par = edges.sparkSession.sparkContext.defaultParallelism
    val oriented = withDeg
      .select(
        when(struct(col("deg_u"), col("u")) < struct(col("deg_v"), col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(struct(col("deg_u"), col("u")) < struct(col("deg_v"), col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      .repartition(par, col("src"))
      // CheckpointFresh keeps HashPartitioning(src) through the RDD (plain
      // localCheckpoint loses it under AQE), so the wedge self-join needs
      // no input exchange (r18 opt, guide §2.4)
      .transform(org.apache.spark.sql.graft.CheckpointFresh.apply)
    val wedges = oriented.select(col("src").as("w_u"), col("dst").as("w_v"))
      .join(oriented.select(col("src").as("w_u"), col("dst").as("w_w")), Seq("w_u"))
      .filter(col("w_v") < col("w_w"))
    // a wedge closes iff (v,w) or (w,v) is an oriented edge; v<w picked one
    // ordering of each unordered out-pair, but the closing edge's
    // orientation depends on degrees — probe both directions via the
    // canonical (least, greatest) form, which here is exactly (w_v, w_w)
    val closing = oriented.select(
      least(col("src"), col("dst")).as("w_v"),
      greatest(col("src"), col("dst")).as("w_w"))
    // hash-build on the edge-sized closing side; never sort the wedge
    // expansion (r18 opt, guide §3.1)
    wedges
      .join(closing.hint("shuffle_hash"), Seq("w_v", "w_w"), "left_semi")
      .agg(count(lit(1)).cast("long").as("triangles"))
  }

  /** Per-node local clustering coefficient in ppm — the "how clique-like
    * is each node's neighborhood" metric (Watts–Strogatz 1998):
    * lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the per-node refinement of
    * [[triangleCount]]'s global census. Triangles are enumerated ONCE by
    * the same degree orientation (owned by their minimum-(degree, id)
    * vertex, O(m^1.5) wedge work, no quadratic hot key), then each
    * triangle credits its THREE corners via one explode — so per-node
    * counts cost one extra row-tripling + groupBy over the triangle set,
    * nothing over the wedge set. Every node of the graph gets a row
    * (tri = 0 for triangle-free nodes); lcc_ppm is NULL for deg = 1 nodes
    * (undefined, not zero). Returns (node, deg, tri, lcc_ppm). */
  def localClusteringPpm(edges: DataFrame): DataFrame = {
    val undirected = edges
      .select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val degrees = undirected
      .select(col("u").as("node")).union(undirected.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = undirected
      .join(degrees.select(col("node").as("u"), col("deg").as("deg_u")), "u")
      .join(degrees.select(col("node").as("v"), col("deg").as("deg_v")), "v")
    val par = edges.sparkSession.sparkContext.defaultParallelism
    val oriented = withDeg
      .select(
        when(struct(col("deg_u"), col("u")) < struct(col("deg_v"), col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(struct(col("deg_u"), col("u")) < struct(col("deg_v"), col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      .repartition(par, col("src")) // wedge join EXPANDS: explicit N (q115 rule)
      // partition-preserving checkpoint — see triangleCount (r18 opt)
      .transform(org.apache.spark.sql.graft.CheckpointFresh.apply)
    val wedges = oriented.select(col("src").as("w_u"), col("dst").as("w_v"))
      .join(oriented.select(col("src").as("w_u"), col("dst").as("w_w")), Seq("w_u"))
      .filter(col("w_v") < col("w_w"))
    // closing edges are DISTINCT undirected pairs, so the inner join keeps
    // exactly the closed wedges (one row per triangle, owned by w_u)
    val closing = oriented.select(
      least(col("src"), col("dst")).as("w_v"),
      greatest(col("src"), col("dst")).as("w_w"))
    val perNode = wedges
      .join(closing.hint("shuffle_hash"), Seq("w_v", "w_w"))
      .select(explode(array(col("w_u"), col("w_v"), col("w_w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    degrees
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc_ppm",
        when(col("deg") < 2L, lit(null).cast("long"))
          .otherwise(org.apache.spark.sql.graft.Idiv(
            lit(2000000L) * col("tri"), col("deg") * (col("deg") - 1L))))
  }

  /** Strongly connected components of a DIRECTED edge table — Orzan's
    * coloring algorithm, the standard Pregel-family SCC (forward-backward
    * without the sequential pivot):
    *
    * Per outer round over the remaining graph: (1) FORWARD MIN-ID
    * COLORING to fixpoint — color(v) = min id that reaches v; (2) every
    * color class whose minimum vertex is its own color (a ROOT — nothing
    * smaller reaches it) collects its SCC by BACKWARD traversal from the
    * root restricted to same-color edges: u backward-reached means
    * u →* root, and color(u) = root means root →* u, so membership is
    * exactly mutual reachability; (3) emit those SCCs, remove them,
    * repeat. Each round retires at least the global-minimum vertex's
    * class, and in practice one round per level of the condensation DAG
    * whose min-ids shadow the level below.
    *
    * Scale shape: every fixpoint step is one edge-colors equi-join + one
    * min-aggregation on node keys — linear in remaining edges, no
    * whole-graph collects; rounds cost O(color diameter), the documented
    * price of distributed SCC (GraphX's SCC is this same loop). Every
    * iterate is checkpointed (lineage truncated); the graph SHRINKS
    * across outer rounds so late rounds cost ∝ what is left. Convergence
    * checks are `isEmpty` probes on change frames, driver-bounded.
    *
    * Vertices are those appearing in `edges` (an isolated vertex has no
    * edge to appear through); self-loops are dropped (they never change
    * membership). Returns (id, scc) with scc = the component's minimum
    * vertex id — deterministic under any partitioning, so
    * oracle-replayable. */
  def stronglyConnectedComponents(
      edges: DataFrame,
      maxOuterRounds: Int = 16,
      maxFixpointRounds: Int = 64): DataFrame = {
    val cf = org.apache.spark.sql.graft.CheckpointFresh
    val checkpoint = cf.apply _
    var liveEdges = checkpoint(
      edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst")).distinct())
    // vertex-count probes ride the checkpoints' eager counts — no separate
    // isEmpty/count jobs per outer round (r13 verdict item 2)
    var (live, liveCount) = cf.withCount(
      liveEdges.select(col("src").as("id"))
        .union(liveEdges.select(col("dst").as("id"))).distinct())
    var out: Option[DataFrame] = None
    var round = 0
    while (round < maxOuterRounds && liveCount > 0L) {
      // (1) forward min-id coloring to fixpoint. Each round is one
      // edge-step (color flows along edges) PLUS a pointer-doubling
      // shortcut (color(v) ← min over color(color(v)) — valid because
      // "color(v)=u" certifies u →* v, and reachability composes), so
      // rounds are O(log color-diameter), the CC-style shortcutting that
      // keeps a 100 TB chain from costing diameter-many shuffles. The
      // `__changed` bit rides the checkpointed frame: the convergence
      // probe is a cached scan, no extra join.
      def fwdRound(cur: DataFrame, identity: Boolean = false): DataFrame = {
        // the FIRST fixpoint round of every outer round starts from the
        // identity coloring (color(v) = v), and every liveEdges src is a
        // live id — the edge×colors join is a no-op there, so candidates
        // come straight off the edge list (r18 opt: guide §2.4; exact)
        val cand =
          if (identity)
            liveEdges.groupBy(col("dst").as("id")).agg(min(col("src")).as("__cand"))
          else liveEdges
            .join(cur.select(col("id").as("src"), col("color").as("__c")), Seq("src"))
            .groupBy(col("dst").as("id")).agg(min(col("__c")).as("__cand"))
        val stepped = cur.join(cand, Seq("id"), "left")
          .select(col("id"),
            least(col("color"), coalesce(col("__cand"), col("color"))).as("color"),
            (coalesce(col("__cand"), col("color")) < col("color")).as("__changed"))
        stepped
          .join(stepped.select(col("id").as("color"), col("color").as("__cc")),
            Seq("color"), "left")
          .select(col("id"),
            least(col("color"), coalesce(col("__cc"), col("color"))).as("color"),
            (col("__changed") ||
              coalesce(col("__cc"), col("color")) < col("color")).as("__changed"))
      }
      var colors = checkpoint(
        live.select(col("id"), col("id").as("color"), lit(false).as("__changed")))
      var converged = false
      var r = 0
      while (!converged && r < maxFixpointRounds) {
        // the changed-row count rides the checkpoint's materialization pass
        // (withFlagCount) — the per-round filter(__changed).isEmpty probe
        // job is gone (r16 verdict item 2's fusion)
        val (next, _, changed) = cf.withFlagCount(fwdRound(
          colors.select(col("id"), col("color"), col("__changed")),
          identity = r == 0), "__changed")
        converged = changed == 0L
        colors = next
        r += 1
      }
      require(converged,
        s"scc: coloring fixpoint did not converge in $maxFixpointRounds rounds")
      // (2) backward collection from roots, restricted to same-color edges;
      // same strided-chain shape, convergence by stable count.
      val classColors = checkpoint(colors.select(col("id"), col("color")))
      def bwdRound(cur: DataFrame): DataFrame =
        cur.unionByName(liveEdges
          .join(cur.select(col("id").as("dst"), col("color")), Seq("dst"))
          .select(col("src").as("id"), col("color"))
          .join(classColors, Seq("id", "color"), "left_semi"))
          .distinct()
      val bwdStride = 2
      var (reached, reachedCount) = cf.withCount(
        classColors.filter(col("id") === col("color")))
      converged = false
      r = 0
      while (!converged && r < maxFixpointRounds) {
        val (next, c) = cf.withCount(
          Iterator.iterate(reached)(bwdRound).drop(bwdStride).next())
        converged = c == reachedCount
        reached = next
        reachedCount = c
        r += bwdStride
      }
      require(converged,
        s"scc: backward collection did not converge in $maxFixpointRounds rounds")
      // (3) emit the collected SCCs, shrink the graph
      val emitted = reached.select(col("id"), col("color").as("scc"))
      out = Some(out.map(_.unionByName(emitted)).getOrElse(emitted))
      val shrunk = cf.withCount(live.join(reached, Seq("id"), "left_anti"))
      live = shrunk._1
      liveCount = shrunk._2
      liveEdges = checkpoint(liveEdges
        .join(live.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(live.select(col("id").as("dst")), Seq("dst"), "left_semi"))
      round += 1
    }
    require(liveCount == 0L,
      s"scc: $maxOuterRounds outer rounds exhausted with vertices remaining")
    checkpoint(out.getOrElse(
      edges.sparkSession.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("scc")).limit(0)))
  }

  /** Link prediction by the RESOURCE-ALLOCATION index (Zhou/Lü/Zhang EPJ B
    * 2009 — the degree-discounted cousin of common-neighbors/Adamic–Adar):
    * for each non-adjacent pair (a, b), RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z),
    * kept exact-integer as Σ ⌊10⁶/deg(z)⌋ ppm units.
    *
    * Candidate pairs are enumerated through their common neighbor: each
    * middle node z contributes its neighbor pairs (a wedge expansion of
    * deg(z)² rows). Middle nodes with deg(z) > `maxMiddleDegree` are
    * EXCLUDED — that is part of the operator's contract, not a silent
    * cap: a hub's per-pair contribution is < 10⁶/deg ppm (that discount
    * is the entire point of RA over raw common-neighbors), while its
    * expansion cost is deg² — the classic quadratic hot key. The cap
    * bounds the expansion at |V|·D² and the score error at k·10⁶/D ppm
    * per retained common neighbor above the cap. The expansion runs on an
    * explicit-N repartition of the wedge join key (AQE coalesces by INPUT
    * bytes, blind to the expansion), and existing edges are removed with
    * one anti-join on the canonical pair.
    *
    * `edges` needs (src, dst); direction/duplicates/self-loops are
    * normalized away. Returns the global top-`k` predicted links by
    * (ra_ppm desc, a, b) — TakeOrderedAndProject, no global sort. */
  /** k-truss decomposition — the cohesion rung above k-core (a k-core
    * survives on degree alone; a k-truss edge must sit in ≥ k−2 triangles,
    * so trusses are the "communities with actual triangles" subgraphs used
    * to seed dense-cluster mining): iteratively recompute per-edge triangle
    * SUPPORT and peel edges below k−2 until the fixed point — peeling one
    * edge can starve its neighbors, so the cascade is genuinely iterative.
    *
    * Per round, support comes from the same degree-oriented wedge scheme as
    * [[triangleCount]] (O(m^1.5) total, no quadratic hot node): each closed
    * wedge is one triangle, exploded to its 3 canonical edges and counted.
    * Every iterate is checkpointed; the loop stops when the edge count is
    * stable and REFUSES past `maxRounds` (a silent cap would report a
    * non-truss). Returns the surviving canonical edges (u < v). */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 40): DataFrame = {
    require(k >= 3, s"kTruss: k $k must be >= 3")
    require(maxRounds >= 1, s"kTruss: maxRounds $maxRounds must be >= 1")
    val cf = org.apache.spark.sql.graft.CheckpointFresh
    var (cur, n) = cf.withCount(edges
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var round = 0
    var stable = false
    val par = edges.sparkSession.sparkContext.defaultParallelism
    while (!stable) {
      require(round < maxRounds, s"kTruss: no fixed point within $maxRounds rounds")
      val degrees = cur.select(col("u").as("node")).union(cur.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val oriented = cur
        .join(degrees.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
        .join(degrees.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
        .select(
          when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
            .otherwise(col("v")).as("src"),
          when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
            .otherwise(col("u")).as("dst"))
        .repartition(par, col("src"))
        .transform(org.apache.spark.sql.graft.CheckpointFresh.apply) // two wedge sides + the closing probe
      val wedges = oriented.select(col("src").as("a"), col("dst").as("b"))
        .join(oriented.select(col("src").as("a"), col("dst").as("c")), Seq("a"))
        .filter(col("b") < col("c"))
      val triangles = wedges.join(
        // hash-build on the edge-sized closing side; never sort the wedge
        // expansion (r18 opt, guide §3.1)
        oriented.select(
          least(col("src"), col("dst")).as("b"), greatest(col("src"), col("dst")).as("c"))
          .hint("shuffle_hash"),
        Seq("b", "c"))
      val support = triangles
        .select(explode(array(
          struct(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v")),
          struct(least(col("a"), col("c")).as("u"), greatest(col("a"), col("c")).as("v")),
          struct(col("b").as("u"), col("c").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("__graft_sup"))
        .filter(col("__graft_sup") >= (k - 2).toLong)
        .select(col("u"), col("v"))
      val (next, m) = cf.withCount(cur.join(support, Seq("u", "v"), "left_semi"))
      stable = m == n
      cur = next
      n = m
      round += 1
    }
    cur
  }

  /** Multi-source BFS to a fixed horizon — exact shortest-path distances
    * from a seed set over the undirected graph, the primitive behind
    * eccentricity/diameter estimation, landmark distance features, and
    * blast-radius queries. Frontier iteration: round d's frontier joins
    * the symmetric edge list, new nodes (per seed) adopt distance d+1 via
    * an anti-join against everything already settled; every iterate is
    * checkpointed and the loop stops early when a frontier empties. The
    * horizon caps rounds — distances beyond it are ABSENT by contract,
    * not infinity (on a 100 TB graph the horizon is what bounds the
    * frontier blow-up; diameter-scale sweeps raise it knowingly).
    *
    * Returns (seed, node, dist) with dist = exact hop count ≤ horizon;
    * work per round = frontier×degree join + anti-join, linear in touched
    * edges, frontiers for ALL seeds advance in the same round's jobs. */
  def multiSourceBfs(
      edges: DataFrame,
      seeds: Seq[Long],
      horizon: Int): DataFrame = {
    require(seeds.nonEmpty, "multiSourceBfs: at least one seed")
    require(horizon >= 1 && horizon <= 64, s"multiSourceBfs: horizon $horizon out of [1, 64]")
    val session = edges.sparkSession
    import session.implicits._
    val undirected = edges
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val sym = undirected.select(col("u").as("a"), col("v").as("b"))
      .union(undirected.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint(true) // joined every round
    var settled = seeds.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    var frontier = settled
    var frontierCount = seeds.size.toLong
    var d = 0L
    while (d < horizon && frontierCount > 0L) {
      val stepped = org.apache.spark.sql.graft.CheckpointFresh.withCount(frontier
        .join(sym, frontier("node") === sym("a"))
        .select(col("seed"), col("b").as("node"))
        .distinct()
        .join(settled, Seq("seed", "node"), "left_anti")
        .withColumn("dist", lit(d + 1L)))
      frontier = stepped._1
      frontierCount = stepped._2
      if (frontierCount > 0L)
        settled = settled.unionByName(frontier)
          .transform(org.apache.spark.sql.graft.CheckpointFresh.apply)
      d += 1
    }
    settled
  }

  /** Multi-source weighted single-source shortest paths — the WEIGHTED
    * rung above [[multiSourceBfs]]: exact min-cost distances from a seed
    * set over the undirected graph with non-negative integer edge weights
    * (latency maps, cost-to-serve, weighted blast radius). Distributed
    * Bellman-Ford with delta-frontier relaxation: each round only the
    * nodes IMPROVED last round relax their neighbors, so the
    * frontier×edges RELAXATION join tracks the wavefront, not the graph.
    * The (seed, node) min-fold that merges candidates into the settled
    * table is O(|dist|) per round — rewriting the distance table is
    * inherent to a batch DataFrame fixpoint (no in-place update), so total
    * cost is O(rounds·|dist| + Σ frontier×degree); a real cluster would
    * co-partition dist and candidates on (seed, node) so that merge is a
    * shuffle-free zipped fold. Every iterate is checkpointed; the loop
    * stops at the fixed point (no improvement).
    * Rounds are bounded by the hop length of the longest optimal path —
    * `maxRounds` REFUSES on exhaustion rather than silently reporting
    * non-shortest distances (the k-truss cap discipline). Parallel edges
    * fold to their min weight; negative weights refuse up front (one
    * validation scan — Bellman-Ford's fixed point isn't shortest paths
    * under negative cycles, and an undirected negative edge IS one).
    *
    * Returns (seed, node, dist), one row per reachable node per seed;
    * unreachable nodes are absent, not infinity. */
  def weightedSssp(
      edges: DataFrame,
      seeds: Seq[Long],
      maxRounds: Int = 64): DataFrame = {
    require(seeds.nonEmpty, "weightedSssp: at least one seed")
    require(maxRounds >= 1, s"weightedSssp: maxRounds must be >= 1, got $maxRounds")
    val session = edges.sparkSession
    import session.implicits._
    require(edges.filter(col("w") < 0L).isEmpty,
      "weightedSssp: negative edge weights (an undirected negative edge is a negative cycle)")
    val undirected = edges
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"),
        col("w").cast("long").as("w"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(min(col("w")).as("w")) // parallel edges: min
    val sym = undirected.select(col("u").as("a"), col("v").as("b"), col("w"))
      .union(undirected.select(col("v").as("a"), col("u").as("b"), col("w")))
      .localCheckpoint(true) // joined every round
    var dist = seeds.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    var improved = dist
    var improvedCount = seeds.size.toLong
    var round = 0
    while (round < maxRounds && improvedCount > 0L) {
      val cand = improved
        .join(sym, improved("node") === sym("a"))
        .select(col("seed"), col("b").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy("seed", "node").agg(min(col("dist")).as("dist"))
      // a candidate improves when the node is new for its seed or strictly
      // cheaper than the settled distance
      val merged = dist.unionByName(cand)
        .groupBy("seed", "node").agg(min(col("dist")).as("dist"))
        .transform(org.apache.spark.sql.graft.CheckpointFresh.apply)
      val imp = org.apache.spark.sql.graft.CheckpointFresh.withCount(merged.join(
          dist.select(col("seed"), col("node"), col("dist").as("__graft_old")),
          Seq("seed", "node"), "left")
        .filter(col("__graft_old").isNull || col("dist") < col("__graft_old"))
        .drop("__graft_old"))
      improved = imp._1
      improvedCount = imp._2
      dist = merged
      round += 1
    }
    require(improvedCount == 0L,
      s"weightedSssp: not converged after $maxRounds rounds — raise maxRounds " +
        "(a silent cap would report non-shortest distances)")
    dist
  }

  /** Degree assortativity (Newman PRL 2002) — the one-number health metric
    * of a graph's mixing pattern: the Pearson correlation of endpoint
    * degrees over edge ends (r > 0: hubs link hubs, social-network-like;
    * r < 0: hubs link leaves, internet/dedup-artifact-like). Exact-integer
    * Pearson over the symmetrized edge list: with m edge ends,
    * num = m·Σxy − Σx·Σy and den = m·Σxx − (Σx)² (x/y symmetric, so one
    * denominator), r_ppm computed sign-magnitude in DECIMAL(38,0) — the
    * q293 cross-engine division discipline. One degree aggregate, two
    * joins, one global fold; returns a single row (n_edges, r_ppm, NULL
    * on a degree-regular graph where den = 0). */
  def assortativity(edges: DataFrame): DataFrame = {
    val undirected = edges
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    val sym = undirected.select(col("u").as("a"), col("v").as("b"))
      .union(undirected.select(col("v").as("a"), col("u").as("b")))
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    val ends = sym
      .join(deg.select(col("node").as("a"), col("deg").as("dx")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("dy")), Seq("b"))
    ends.agg(
      count(lit(1)).as("__graft_m"),
      sum(col("dx") * col("dy")).as("__graft_sxy"),
      sum(col("dx")).as("__graft_sx"),
      sum(col("dx") * col("dx")).as("__graft_sxx"))
      // the one-row moment products go through DECIMAL(38,0): m·Σxy on a
      // 10⁹-edge graph passes 2⁶³ and ANSI would throw mid-fold otherwise
      .withColumn("__graft_num", expr(
        "CAST(__graft_m AS DECIMAL(38,0)) * __graft_sxy - CAST(__graft_sx AS DECIMAL(38,0)) * __graft_sx"))
      .withColumn("__graft_den", expr(
        "CAST(__graft_m AS DECIMAL(38,0)) * __graft_sxx - CAST(__graft_sx AS DECIMAL(38,0)) * __graft_sx"))
      .withColumn("r_ppm",
        when(col("__graft_den") === lit(0), lit(null).cast("long")).otherwise(
          (when(col("__graft_num") < lit(0), -1L).otherwise(1L) *
            expr("(abs(__graft_num) * 1000000) div __graft_den"))
            .cast("long")))
      .select((col("__graft_m") / 2).cast("long").as("n_edges"), col("r_ppm"))
  }

  def predictLinks(edges: DataFrame, maxMiddleDegree: Int, k: Int): DataFrame = {
    require(maxMiddleDegree >= 2, s"predictLinks: maxMiddleDegree $maxMiddleDegree must be >= 2")
    require(k >= 1, s"predictLinks: k $k must be >= 1")
    val undirected = edges
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true) // consumed by sym (twice via degrees) and the anti-join
    val sym = undirected.select(col("u").as("z"), col("v").as("n"))
      .union(undirected.select(col("v").as("z"), col("u").as("n")))
    val degrees = sym.groupBy("z").agg(count(lit(1)).as("deg"))
    val par = edges.sparkSession.sparkContext.defaultParallelism
    val adj = sym.join(degrees.filter(col("deg") <= maxMiddleDegree), Seq("z"))
      .repartition(par, col("z"))
      .localCheckpoint(true) // both wedge sides
    val wedges = adj.select(col("z"), col("n").as("a"), col("deg"))
      .join(adj.select(col("z"), col("n").as("b")), Seq("z"))
      .filter(col("a") < col("b"))
    wedges
      .groupBy("a", "b")
      .agg(count(lit(1)).cast("long").as("common_neighbors"),
        sum(floor(lit(1000000L) / col("deg"))).cast("long").as("ra_ppm"))
      .join(undirected.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
      .orderBy(col("ra_ppm").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Subtree rollup over an IMPLICIT hierarchy — the "aggregate every
    * node's whole subtree" question (org charts, category trees, IP
    * prefixes, decimal key hierarchies) WITHOUT a mapping table and
    * WITHOUT iteration: when a node's ancestor chain is computable from
    * its key (parent = key div `fanout`), each row EXPLODES to its ≤
    * maxDepth+1 ancestors-or-self and ONE aggregation folds the whole
    * tree — the explode is a bounded fanout behind partial aggregation
    * (the Gram-matrix no-join discipline), so at 100 TB this is a scan
    * plus one (depth+1)×-wide shuffle of partial sums, not a fixpoint.
    *
    * Returns one row per ancestor node that has ≥ 1 descendant-or-self
    * row: (node, n_rows, total). Keys must be ≥ 0; fanout ≥ 2. Nodes
    * whose key exceeds fanout^maxDepth still roll up — maxDepth only
    * bounds how far UP the chain goes (chain stops at the root 0, which
    * is included when reached). */
  def subtreeRollup(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      fanout: Long,
      maxDepth: Int): DataFrame = {
    require(fanout >= 2, s"subtreeRollup: fanout must be >= 2, got $fanout")
    require(maxDepth >= 1 && maxDepth <= 40,
      s"subtreeRollup: maxDepth in [1,40], got $maxDepth")
    val powers = (0 to maxDepth).map(d =>
      BigInt(fanout).pow(d)).takeWhile(_ <= BigInt(Long.MaxValue)).map(_.toLong)
    val ancestors = powers.map(p => s"CAST(`$keyCol` AS BIGINT) div $p")
    df
      .select(col(valueCol).cast("long").as("__sr_v"),
        explode(expr(
          s"array_distinct(array(${ancestors.mkString(", ")}))")).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("__sr_v")).cast("long").as("total"))
  }

  /** Minimum spanning forest via Borůvka — THE distributed MST algorithm
    * (each round every component picks its cheapest outgoing edge and
    * components merge, so component count at least HALVES per round:
    * O(log n) rounds of linear edge joins, no priority queue, no
    * sequential Kruskal/Prim state — the reason Borůvka and not the
    * textbook algorithms is what a 1000-executor cluster runs).
    *
    * Determinism: edges totally ordered by (w, min(u,v), max(u,v)) — ties
    * in w break by endpoint ids, which makes the selected forest the
    * UNIQUE MSF of the lexicographically perturbed weights (the standard
    * tie-break trick), bit-stable under any partitioning. Per round: two
    * broadcast-free equi-joins label edge endpoints with components, one
    * groupBy picks each component's min outgoing edge (a struct-min —
    * partial-agg friendly), then the selected pointer graph contracts by
    * CLASSIC HOOKING: under a total edge order every pointer cycle is a
    * 2-cycle (the mutual-min pair — longer cycles would need equal
    * weights), broken by pointing the pair at its min id, then pointer
    * jumping TO CONVERGENCE in batches of 3 lazy jumps (8× compression
    * per materialized batch, one census-sized root probe per batch —
    * almost always 1 batch; adversarial monotone chains take ⌈log₈⌉).
    * A handful of actions per round, all
    * [[org.apache.spark.sql.graft.CheckpointFresh]] materializations or
    * census-sized probes — CheckpointFresh, not Dataset.localCheckpoint,
    * because the latter's origin-stats rewrite compounds sizeInBytes
    * bit-length ~30× per round here (see the helper's scaladoc).
    *
    * Input: undirected edges (srcCol, dstCol, weightCol) — integer
    * weights; duplicates fine (the min picks one), self-loops dropped.
    * Returns forest edges (a, b, w, round = first round selected) with
    * a < b; a caller wanting total weight folds one aggregate over it. */
  def boruvkaMsf(
      edges: DataFrame,
      srcCol: String, dstCol: String, weightCol: String,
      maxRounds: Int = 48,
      /** Carry only cross-component edges between rounds (an intra edge
        * never becomes cross again) — the textbook Borůvka shrink. At
        * CLUSTER scale this is the lever: late rounds scan the few
        * surviving cross edges instead of re-scanning the full symmetric
        * edge set every round. At local test scale it LOSES: the extra
        * per-round checkpoint job costs more than the saved scan
        * (measured r17 at sf0.1: 13.3 s → 17.5 s with pruning — the r13
        * more-small-jobs lesson), so the default is off; a 100 TB caller
        * whose edge scan dominates turns it on. */
      pruneEdges: Boolean = false): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"boruvkaMsf: maxRounds in [1,64], got $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._
    // symmetrize once; (a, b) normalized for the emit-once forest rows
    var sym = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"),
        col(weightCol).cast("long").as("w"))
      .filter(col("u") =!= col("v"))
      .select(explode(array(
        struct(col("u"), col("v"), col("w")),
        struct(col("v").as("u"), col("u").as("v"), col("w")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"))
      .transform(org.apache.spark.sql.graft.CheckpointFresh.apply)
    var comp = sym.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id")).transform(org.apache.spark.sql.graft.CheckpointFresh.apply)
    var forest = Seq.empty[(Long, Long, Long, Int)].toDF("a", "b", "w", "round")
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      // round 1 is the identity round: comp(id) = id, so labeling sym with
      // component ids is a no-op (cu = u, cv = v) and the cross filter is
      // sym's existing u != v guarantee — skip BOTH edge-sized joins on the
      // round that sees the full graph (r18 opt: guide §2.4, remove
      // shuffles outright; the elision is exact, not approximate)
      val cross =
        if (round == 1)
          sym.withColumn("__ms_cu", col("u")).withColumn("__ms_cv", col("v"))
        else {
          val cu = comp.select(col("id").as("u"), col("comp").as("__ms_cu"))
          val cv = comp.select(col("id").as("v"), col("comp").as("__ms_cv"))
          sym.join(cu, "u").join(cv, "v")
            .filter(col("__ms_cu") =!= col("__ms_cv"))
        }
      // min outgoing edge per component under the (w, a, b) total order;
      // the emptiness probe rides the checkpoint's eager count — one job
      // per round saved (r13 verdict item 2)
      val (selected, nSelected) = org.apache.spark.sql.graft.CheckpointFresh.withCount(cross
        .withColumn("__ms_a", least(col("u"), col("v")))
        .withColumn("__ms_b", greatest(col("u"), col("v")))
        .groupBy(col("__ms_cu"))
        .agg(min(struct(col("w"), col("__ms_a").as("a"), col("__ms_b").as("b"),
          col("__ms_cv").as("cv"))).as("m"))
        .select(col("m.w").as("w"), col("m.a").as("a"), col("m.b").as("b"),
          col("__ms_cu").as("ca"), col("m.cv").as("cb")))
      if (nSelected == 0L) done = true
      else {
        forest = forest.unionByName(
          selected.select(col("a"), col("b"), col("w")).distinct()
            .withColumn("round", lit(round)))
        // hooking: break the mutual-min 2-cycles at their min id (every
        // pointer cycle is a 2-cycle under the total edge order).
        // Checkpoint BEFORE the jump chain: each lazy jump references its
        // input twice, so an unmaterialized base doubles the PLAN TREE
        // per jump — 2^k subtree copies send Catalyst planning time
        // exponential (measured: rounds went 8 s → 27 s → stuck)
        val p0 = selected.select(col("ca").as("c"), col("cb").as("p"))
        val mirror = p0.select(col("c").as("__ms_mc"), col("p").as("__ms_mp"))
        // the hook materializes separately ON PURPOSE: fusing it into the
        // first jump batch (16 lazy scans of selected, 15 chained joins in
        // one job) measured ~20% SLOWER than the extra checkpoint — more
        // shuffle stages inside one job beat one more small job
        var ptr = p0.join(mirror, col("p") === col("__ms_mc"), "left")
          .select(col("c"),
            when(col("__ms_mp") === col("c"), least(col("c"), col("p")))
              .otherwise(col("p")).as("p"))
          .transform(org.apache.spark.sql.graft.CheckpointFresh.apply)
        // pointer jumping TO CONVERGENCE, in batches of 3 lazy jumps (8×
        // compression per materialization) with a census-sized probe per
        // batch. A FIXED jump count is a trap: relabeling c → ptr^8(c) on
        // a deeper chain is INJECTIVE away from the root, so it merges
        // only the 8 components nearest the root and permutes the rest —
        // and adversarial weight patterns (a monotone ring) really do
        // yield one long chain: measured 151 components draining 8/round,
        // 25 rounds where converged jumping needs 6 (9 batches total).
        var compressed = false
        var batches = 0
        while (!compressed && batches < 22) {
          var q = ptr
          for (_ <- 1 to 3) {
            val r = q.select(col("c").as("__ms_jc"), col("p").as("__ms_jp"))
            q = q.join(r, col("p") === col("__ms_jc"), "left")
              .select(col("c"), col("p").as("__ms_prev"),
                coalesce(col("__ms_jp"), col("p")).as("p"))
          }
          // converged iff the LAST jump changed nothing: q_k == q_{k-1}
          // pointwise means q_{k-1}(q_{k-1}(c)) = q_{k-1}(c) for every c,
          // i.e. every pointer target is already a root — the same
          // fixpoint test as the old q⋈q probe, but the flag rides the
          // checkpoint's materialization pass instead of costing a
          // separate join + isEmpty job per batch (r18 opt; the r16
          // withFlagCount fusion, now on the jump loop). The trade: a
          // chain that converges ON the batch's last jump needs one more
          // (no-op) batch to observe it — one extra small checkpoint vs
          // one probe job saved in EVERY batch.
          val (q2, _, moved) = org.apache.spark.sql.graft.CheckpointFresh.withFlagCount(
            q.select(col("c"), col("p"),
              (col("p") =!= col("__ms_prev")).as("__ms_moved")), "__ms_moved")
          compressed = moved == 0L
          ptr = q2.select(col("c"), col("p"))
          batches += 1
        }
        require(compressed,
          "boruvkaMsf: pointer compression did not converge in 22 batches")
        comp = comp
          .join(ptr.select(col("c").as("comp"), col("p").as("__ms_new")),
            Seq("comp"), "left")
          .select(col("id"), coalesce(col("__ms_new"), col("comp")).as("comp"))
          .transform(org.apache.spark.sql.graft.CheckpointFresh.apply)
        // see the pruneEdges param doc: cross survivors only (labeled with
        // PRE-merge components — newly-intra edges drop next round; the
        // shrink is monotone either way)
        if (pruneEdges) {
          sym = org.apache.spark.sql.graft.CheckpointFresh(
            cross.select(col("u"), col("v"), col("w")))
        }
      }
    }
    require(done, s"boruvkaMsf: no fixed point after $maxRounds rounds — " +
      "raise maxRounds (components at least halve per round, so log2(n) suffices)")
    // a deeper-than-2^8 merge chain re-selects its edges next round —
    // emit each forest edge once, stamped with its first round
    forest.groupBy(col("a"), col("b"), col("w"))
      .agg(min(col("round")).as("round"))
  }

  /** Seed-sampled betweenness centrality — Brandes (JMS 2001) restricted
    * to a seed set and a hop horizon, the standard approximation at scale
    * (exact betweenness is all-pairs — quadratic in nodes — and the
    * sampled estimator is unbiased up to the horizon cut, which is BY
    * CONTRACT like [[multiSourceBfs]]: contributions through paths longer
    * than the horizon are absent, not approximated).
    *
    * Phase 1 (forward): level-synchronous BFS keyed (seed, node) carrying
    * σ = the exact BIGINT count of shortest paths from the seed (sums of
    * predecessor σ — ANSI turns genuine overflow into a loud error).
    * Phase 2 (backward): dependencies in a DEFINED truncating micro
    * variant of Brandes' accumulation,
    *   δ(v) = Σ_{w ∈ succ(v)} (σ_v · (10⁶ + δ(w))) div σ_w
    * — per-edge truncation, then an order-independent exact-integer sum,
    * so the result is deterministic under any partitioning and
    * engine-replayable (true rational δ would need unbounded fractions).
    * bc_upm(v) = Σ_seeds δ(seed, v) over non-seed rows.
    *
    * Scale shape: per level one frontier×edges join + one (seed, node)
    * aggregation forward, one successor join + aggregation backward —
    * 2·horizon bounded rounds, frontiers never exceed touched nodes ×
    * seeds, every level checkpointed via CheckpointFresh. Seeds ride a
    * broadcast-sized local list by the same contract as multiSourceBfs.
    * Returns (node, bc_upm, n_seeds) for every non-seed node reached by
    * at least one seed (bc 0 rows included — they anchor the census). */
  def betweennessApprox(
      edges: DataFrame,
      seeds: Seq[Long],
      horizon: Int): DataFrame = {
    require(seeds.nonEmpty, "betweennessApprox: at least one seed")
    require(horizon >= 1 && horizon <= 32,
      s"betweennessApprox: horizon $horizon out of [1, 32]")
    val session = edges.sparkSession
    import session.implicits._
    val cf = org.apache.spark.sql.graft.CheckpointFresh
    val undirected = edges
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val sym = undirected.select(col("u").as("a"), col("v").as("b"))
      .union(undirected.select(col("v").as("a"), col("u").as("b")))
      .transform(cf.apply) // joined every round, both phases
    val lvl0 = seeds.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(1L).as("sigma"))
      .transform(cf.apply)
    val levels = scala.collection.mutable.ArrayBuffer(lvl0)
    var settled = lvl0.select(col("seed"), col("node"))
    var frontier = lvl0
    var d = 0
    var frontierCount = seeds.size.toLong
    while (d < horizon && frontierCount > 0L) {
      val (next, nNext) = cf.withCount(frontier
        .join(sym, frontier("node") === sym("a"))
        .select(col("seed"), col("b").as("node"), col("sigma"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(settled, Seq("seed", "node"), "left_anti"))
      if (nNext > 0L) {
        levels += next
        settled = settled.unionByName(next.select(col("seed"), col("node")))
          .transform(cf.apply)
      }
      frontier = next
      frontierCount = nNext
      d += 1
    }
    // backward accumulation, deepest level first (δ there = 0)
    var delta = levels.last.withColumn("delta", lit(0L))
    var acc = delta
    for (k <- levels.length - 2 to 0 by -1) {
      val cur = levels(k)
      val dw = delta.select(col("seed").as("__bw_s"), col("node").as("__bw_w"),
        col("sigma").as("__bw_sw"), col("delta").as("__bw_dw"))
      val terms = cur
        .join(sym, cur("node") === sym("a"))
        .join(dw, col("b") === col("__bw_w") && cur("seed") === col("__bw_s"))
        .select(col("seed"), col("node"),
          expr("CAST(CAST(sigma AS DECIMAL(38,0)) * (1000000 + __bw_dw) div __bw_sw AS BIGINT)")
            .as("__bw_term"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("__bw_term")).as("__bw_d"))
      delta = cur
        .join(terms, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sigma"),
          coalesce(col("__bw_d"), lit(0L)).as("delta"))
        .transform(cf.apply)
      acc = acc.unionByName(delta)
    }
    acc
      .filter(col("node") =!= col("seed"))
      .groupBy(col("node"))
      .agg(sum(col("delta")).as("bc_upm"), count(lit(1)).as("n_seeds"))
  }
}
