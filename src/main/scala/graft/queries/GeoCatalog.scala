package graft

import org.apache.spark.sql.functions._

import graft.QueryDsl._

/** Catalog family: geospatial operators (operators/Geo.scala) over
  * integer-grid planar points derived from key arithmetic, so every
  * oracle replays the construction. Customers form 40 dense BLOBS (8×5
  * centers, ±11 jitter), suppliers scatter uniformly — blobs exercise
  * density clustering and give the spatial joins realistic hot cells.
  * COVERAGE.md geospatial rows. Registered in [[graft.Queries]]. */
private[graft] object GeoCatalog {

  /** Shared customer blob points: (id, nk, x, y). */
  private def custBlobPoints(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "customer").select(
      col("c_custkey").as("id"),
      col("c_nationkey").cast("long").as("nk"),
      (pmod(pmod(col("c_custkey"), lit(40L)), lit(8L)) * 125L + 62L +
        pmod(col("c_custkey") * 48271L, lit(23L)) - 11L).as("x"),
      (expr("(c_custkey % 40) div 8") * 200L + 100L +
        pmod(col("c_custkey") * 16807L, lit(23L)) - 11L).as("y"))

  private val custBlobSql =
    """SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS nk,
              (c_custkey % 40) % 8 * 125 + 62 + (c_custkey * 48271) % 23 - 11 AS x,
              (c_custkey % 40) // 8 * 200 + 100 + (c_custkey * 16807) % 23 - 11 AS y
       FROM customer"""

  /** Shared uniform supplier points: (sid, sx, sy). */
  private def suppPoints(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "supplier").select(
      col("s_suppkey").as("sid"),
      pmod(col("s_suppkey") * 48271L, lit(1000L)).as("sx"),
      pmod(col("s_suppkey") * 16807L, lit(1000L)).as("sy"))

  private val suppSql =
    """SELECT s_suppkey AS sid, (s_suppkey * 48271) % 1000 AS sx,
              (s_suppkey * 16807) % 1000 AS sy
       FROM supplier"""

  /** Distance-threshold spatial join
    * ([[graft.operators.Geo.gridDistanceJoin]] — the Sedona-shape spatial
    * join as a grid-cell EQUI-join: cell width = radius, probe side
    * expands to its 3×3 neighbor cells (bounded 9× fanout behind an
    * explicit repartition), build side keys by its home cell, exact
    * integer d² ≤ r² inside the join stage — no all-pairs, no distinct,
    * and a hot cell is an ordinary AQE-skewable join key). Customers
    * within 50 grid units of a supplier; one-row pair census. The oracle
    * is the RAW distance join — the grid is invisible to semantics. */
  val q317_spatial_join = Q(
    "q317_spatial_join",
    (s, dir) => {
      val cust = custBlobPoints(s, dir).drop("nk")
      val supp = suppPoints(s, dir)
      graft.operators.Geo.gridDistanceJoin(cust, supp, "x", "y", "sx", "sy", 50L)
        .agg(
          count(lit(1)).cast("long").as("n_pairs"),
          countDistinct(col("id")).cast("long").as("n_cust"),
          countDistinct(col("sid")).cast("long").as("n_supp"),
          sum(col("d2")).cast("long").as("sum_d2"),
          sum(col("id") * col("sid")).cast("long").as("checksum"))
    },
    Some(s"""WITH cp AS ($custBlobSql),
            sp AS ($suppSql),
            pr AS (
              SELECT cp.id, sp.sid,
                     (cp.x - sp.sx) * (cp.x - sp.sx) + (cp.y - sp.sy) * (cp.y - sp.sy) AS d2
              FROM cp JOIN sp
                ON (cp.x - sp.sx) * (cp.x - sp.sx) + (cp.y - sp.sy) * (cp.y - sp.sy) <= 2500)
            SELECT COUNT(*)::BIGINT AS n_pairs,
                   COUNT(DISTINCT id)::BIGINT AS n_cust,
                   COUNT(DISTINCT sid)::BIGINT AS n_supp,
                   SUM(d2)::BIGINT AS sum_d2,
                   SUM(id * sid)::BIGINT AS checksum
            FROM pr"""))

  /** Bounded-radius k-nearest-neighbors
    * ([[graft.operators.Geo.knnWithinRadius]] — grid candidates ranked by
    * (d², neighbor id) through the bounded-heap TopK physical operator: at
    * most k rows per (customer, partition) cross the shuffle, vs the
    * window spelling's full candidate sort; the id tiebreak pins the
    * boundary). 3 nearest suppliers within 150 units per customer;
    * customers with no supplier in range are absent by join contract. */
  val q318_geo_knn = Q(
    "q318_geo_knn",
    (s, dir) => {
      val cust = custBlobPoints(s, dir).drop("nk")
      val supp = suppPoints(s, dir)
      graft.operators.Geo
        .knnWithinRadius(cust, supp, "id", "sid", "x", "y", "sx", "sy", 150L, 3)
        .groupBy(col("id").as("custkey"))
        .agg(
          count(lit(1)).cast("long").as("n_nb"),
          min(col("d2")).cast("long").as("min_d2"),
          sum(col("sid")).cast("long").as("sum_supp"))
        .orderBy("custkey")
    },
    Some(s"""WITH cp AS ($custBlobSql),
            sp AS ($suppSql),
            pr AS (
              SELECT cp.id, sp.sid,
                     (cp.x - sp.sx) * (cp.x - sp.sx) + (cp.y - sp.sy) * (cp.y - sp.sy) AS d2
              FROM cp JOIN sp
                ON (cp.x - sp.sx) * (cp.x - sp.sx) + (cp.y - sp.sy) * (cp.y - sp.sy) <= 22500),
            rk AS (
              SELECT id, sid, d2,
                     ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, sid) AS rn
              FROM pr)
            SELECT id AS custkey, COUNT(*)::BIGINT AS n_nb,
                   MIN(d2)::BIGINT AS min_d2, SUM(sid)::BIGINT AS sum_supp
            FROM rk WHERE rn <= 3 GROUP BY 1 ORDER BY 1"""))

  /** Grid DBSCAN ([[graft.operators.Geo.gridDbscan]] — KDD'96 semantics
    * made EXACT and deterministic: core = ≥ minPts eps-neighbors counting
    * self, clusters = min-id connected components of core adjacency
    * (checkpointed pointer-jumping CC), border points attach to their
    * MINIMUM core neighbor's cluster — the one ambiguity the paper leaves
    * open, pinned so the oracle can replay it; neighbor pairs come from
    * the q317 grid join, never all-pairs). Customer blobs plus the
    * uniform supplier scatter (ids offset 10M — isolated points that MUST
    * come out noise) at eps=4, minPts=8: all three roles populated
    * (1039/452/109 at sf0.01) so the census pins core, border AND noise
    * semantics. Oracle: raw-distance pairs + recursive-CTE components. */
  val q319_grid_dbscan = Q(
    "q319_grid_dbscan",
    (s, dir) => {
      val pts = custBlobPoints(s, dir).drop("nk").unionByName(
        suppPoints(s, dir).select(
          (col("sid") + 10000000L).as("id"),
          col("sx").as("x"), col("sy").as("y")))
      graft.operators.Geo.gridDbscan(pts, "id", "x", "y", eps = 4L, minPts = 8)
        .groupBy(col("role"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          countDistinct(col("cluster")).cast("long").as("n_clusters"),
          coalesce(sum(col("cluster")), lit(0L)).cast("long").as("sum_cluster"))
        .orderBy("role")
    },
    Some(s"""WITH RECURSIVE pts AS (
              $custBlobSql
              UNION ALL
              SELECT s_suppkey + 10000000 AS id,
                     NULL::BIGINT AS nk,
                     (s_suppkey * 48271) % 1000 AS x,
                     (s_suppkey * 16807) % 1000 AS y
              FROM supplier),
            pr AS (
              SELECT a.id AS aid, b.id AS bid
              FROM pts a JOIN pts b
                ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 16),
            core AS (SELECT aid AS id FROM pr GROUP BY 1 HAVING COUNT(*) >= 8),
            ce AS (
              SELECT p.aid AS a, p.bid AS b
              FROM pr p JOIN core c1 ON p.aid = c1.id JOIN core c2 ON p.bid = c2.id
              WHERE p.aid <> p.bid),
            walk(id, reach) AS (
              SELECT id, id FROM core
              UNION
              SELECT w.id, e.b FROM walk w JOIN ce e ON w.reach = e.a),
            corelab AS (SELECT id, MIN(reach) AS cluster FROM walk GROUP BY 1),
            borderlab AS (
              SELECT p.aid AS id, MIN(c.cluster) AS cluster
              FROM pr p JOIN corelab c ON p.bid = c.id
              WHERE p.aid NOT IN (SELECT id FROM core)
              GROUP BY 1),
            lab AS (
              SELECT pts.id,
                     CASE WHEN cl.id IS NOT NULL THEN 'core'
                          WHEN bl.id IS NOT NULL THEN 'border'
                          ELSE 'noise' END AS role,
                     COALESCE(cl.cluster, bl.cluster) AS cluster
              FROM pts
              LEFT JOIN corelab cl ON pts.id = cl.id
              LEFT JOIN borderlab bl ON pts.id = bl.id)
            SELECT role, COUNT(*)::BIGINT AS n,
                   COUNT(DISTINCT cluster)::BIGINT AS n_clusters,
                   COALESCE(SUM(cluster), 0)::BIGINT AS sum_cluster
            FROM lab GROUP BY 1 ORDER BY 1"""))

  /** Point-in-convex-polygon filter
    * ([[graft.operators.Geo.pointInConvexPolygon]] — one exact integer
    * cross product per edge of a CCW convex ring, pure codegen'd
    * boolean, no trig/floats; the geofence/viewport/tile filter shape).
    * Uniform customer points against a hexagonal fence, tallied per
    * nation. Boundary points count as inside on both engines (≥ 0). */
  val q320_point_in_polygon = Q(
    "q320_point_in_polygon",
    (s, dir) => {
      val hex = Seq((500L, 50L), (900L, 300L), (900L, 700L),
        (500L, 950L), (100L, 700L), (100L, 300L))
      val pts = t(s, dir, "customer").select(
        col("c_nationkey").cast("long").as("nk"),
        pmod(col("c_custkey") * 16807L, lit(1000L)).as("x"),
        pmod(col("c_custkey") * 69621L, lit(1000L)).as("y"))
      pts
        .withColumn("inside",
          graft.operators.Geo.pointInConvexPolygon(col("x"), col("y"), hex))
        .groupBy(col("nk"))
        .agg(
          count(lit(1)).cast("long").as("n_total"),
          sum(when(col("inside"), 1L).otherwise(0L)).cast("long").as("n_inside"))
        .orderBy("nk")
    },
    Some {
      val hex = Seq((500L, 50L), (900L, 300L), (900L, 700L),
        (500L, 950L), (100L, 700L), (100L, 300L))
      val tests = hex.indices.map { i =>
        val (x1, y1) = hex(i)
        val (x2, y2) = hex((i + 1) % hex.size)
        s"(${x2 - x1}) * (y - ($y1)) - (${y2 - y1}) * (x - ($x1)) >= 0"
      }.mkString(" AND ")
      s"""WITH p AS (
            SELECT CAST(c_nationkey AS BIGINT) AS nk,
                   (c_custkey * 16807) % 1000 AS x,
                   (c_custkey * 69621) % 1000 AS y
            FROM customer)
          SELECT nk, COUNT(*)::BIGINT AS n_total,
                 SUM(CASE WHEN $tests THEN 1 ELSE 0 END)::BIGINT AS n_inside
          FROM p GROUP BY 1 ORDER BY 1"""
    })

  /** Multi-resolution tile pyramid ([[graft.operators.Geo.tilePyramid]] —
    * the map-tile zoom stack in ONE data-wide shuffle: finest-level
    * Morton census, then each coarser level is `z div 4` over the census
    * below — dropping a Morton bit-pair merges 4 children into their
    * parent exactly; 100 TB cost = one scan, not one per level).
    * Customer blob points at 6..1 bits over the 1024-grid; per-level
    * census with a point-count invariant across every level. */
  val q328_tile_pyramid = Q(
    "q328_tile_pyramid",
    (s, dir) => {
      val pts = custBlobPoints(s, dir)
      graft.operators.Geo.tilePyramid(pts, "x", "y", bits = 6, coordBits = 10)
        .groupBy(col("level"))
        .agg(
          count(lit(1)).cast("long").as("n_cells"),
          sum(col("cnt")).cast("long").as("n_points"),
          max(col("cnt")).cast("long").as("max_cnt"),
          sum(col("z") * col("cnt")).cast("long").as("checksum"))
        .orderBy("level")
    },
    Some {
      val zterms = (0 until 6)
        .map(b => s"((xs >> $b) & 1) * ${1L << (2 * b)} + ((ys >> $b) & 1) * ${1L << (2 * b + 1)}")
        .mkString(" + ")
      val levels = (5 to 1 by -1).map { lvl =>
        val child = s"l${lvl + 1}"
        s"""l$lvl AS (
              SELECT z // 4 AS z, SUM(cnt) AS cnt FROM $child GROUP BY 1)"""
      }.mkString(",\n            ")
      val union = (6 to 1 by -1)
        .map(lvl => s"SELECT $lvl AS level, z, cnt FROM l$lvl")
        .mkString("\n              UNION ALL ")
      s"""WITH cp AS ($custBlobSql),
            g AS (SELECT x >> 4 AS xs, y >> 4 AS ys FROM cp),
            l6 AS (
              SELECT CAST($zterms AS BIGINT) AS z, COUNT(*) AS cnt
              FROM g GROUP BY 1),
            $levels,
            pyr AS (
              $union)
            SELECT level::INT AS level, COUNT(*)::BIGINT AS n_cells,
                   SUM(cnt)::BIGINT AS n_points, MAX(cnt)::BIGINT AS max_cnt,
                   SUM(z * cnt)::BIGINT AS checksum
            FROM pyr GROUP BY 1 ORDER BY 1"""
    })

  /** Big-big rectangle overlap join ([[graft.operators.Geo
    * .bboxOverlapJoin]] — the 2-D face of the q313 interval bin join and
    * the bbox prefilter behind every real polygon join: both sides
    * explode to fixed-width tiles, candidates from a plain tile
    * equi-join, each intersecting pair emitted EXACTLY ONCE in the tile
    * holding the intersection's min corner — no distinct; degenerate
    * boxes drop, floor tiling survives negative coordinates). Even-vs-odd
    * order boxes from key arithmetic; census with an exact integer
    * overlap-area checksum. Oracle = the raw 4-inequality join. */
  val q341_bbox_overlap = Q(
    "q341_bbox_overlap",
    (s, dir) => {
      val o = t(s, dir, "orders")
      def side(parity: Int, idc: String, p: String) = o
        .filter(pmod(col("o_orderkey"), lit(2L)) === parity)
        .select(
          col("o_orderkey").as(idc),
          pmod(col("o_orderkey") * 48271L, lit(1000L)).as(s"${p}x1"),
          (pmod(col("o_orderkey") * 48271L, lit(1000L)) +
            pmod(col("o_orderkey"), lit(30L)) + 5L).as(s"${p}x2"),
          pmod(col("o_orderkey") * 16807L, lit(1000L)).as(s"${p}y1"),
          (pmod(col("o_orderkey") * 16807L, lit(1000L)) +
            pmod(col("o_orderkey"), lit(23L)) + 5L).as(s"${p}y2"))
      val l = side(0, "lid", "l")
      val r = side(1, "rid", "r")
      graft.operators.Geo
        .bboxOverlapJoin(l, r, "lx1", "lx2", "ly1", "ly2",
          "rx1", "rx2", "ry1", "ry2", tile = 32L)
        .agg(
          count(lit(1)).cast("long").as("n_pairs"),
          countDistinct(col("lid")).cast("long").as("n_left"),
          countDistinct(col("rid")).cast("long").as("n_right"),
          sum((least(col("lx2"), col("rx2")) - greatest(col("lx1"), col("rx1"))) *
            (least(col("ly2"), col("ry2")) - greatest(col("ly1"), col("ry1"))))
            .cast("long").as("sum_area"),
          sum(col("lid") + col("rid")).cast("long").as("checksum"))
    },
    Some("""WITH b AS (
              SELECT o_orderkey AS id, o_orderkey % 2 AS par,
                     (o_orderkey * 48271) % 1000 AS x1,
                     (o_orderkey * 48271) % 1000 + o_orderkey % 30 + 5 AS x2,
                     (o_orderkey * 16807) % 1000 AS y1,
                     (o_orderkey * 16807) % 1000 + o_orderkey % 23 + 5 AS y2
              FROM orders),
            pr AS (
              SELECT l.id AS lid, r.id AS rid,
                     (LEAST(l.x2, r.x2) - GREATEST(l.x1, r.x1)) *
                     (LEAST(l.y2, r.y2) - GREATEST(l.y1, r.y1)) AS area
              FROM (SELECT * FROM b WHERE par = 0) l
              JOIN (SELECT * FROM b WHERE par = 1) r
                ON l.x1 < r.x2 AND r.x1 < l.x2 AND l.y1 < r.y2 AND r.y1 < l.y2)
            SELECT COUNT(*)::BIGINT AS n_pairs,
                   COUNT(DISTINCT lid)::BIGINT AS n_left,
                   COUNT(DISTINCT rid)::BIGINT AS n_right,
                   SUM(area)::BIGINT AS sum_area,
                   SUM(lid + rid)::BIGINT AS checksum
            FROM pr"""))

  val all: Seq[Q] = Seq(
    q317_spatial_join, q318_geo_knn, q319_grid_dbscan, q320_point_in_polygon, q328_tile_pyramid,
    q341_bbox_overlap)
}
