package graft.queries

import graft.core.Tables
import graft.grid.{Contours, Gridding}
import graft.vector.RingMetrics
import org.apache.spark.sql.functions._

/**
 * Marching-squares contour queries (graft.grid.Contours) over the
 * 10-degree DSM grid the stencil pack uses. The dual rebuilds the
 * whole operator relationally: corner splat -> 4-present blocks ->
 * 16-case classification with the exact-integer saddle rule ->
 * one-IEEE-division edge interpolation; the polyline dual closes the
 * exact shared-edge adjacency with a recursive min-label CTE.
 */
object ContourQueries {

  import Grid10.{dsm10, spec}
  private val Levels = Seq(15000L, 30000L, 45000L)

  /** Shared dual prefix: blocks + per-level case classification +
    * tagged crossing points (struct per edge; a point is only consumed
    * by cases where its edge truly crosses, so the z-equal NULL
    * divisions are dead on both sides). */
  private val contourCtes = {
    val lvRows = Levels.zipWithIndex
      .map { case (t, i) =>
        s"(CAST($i AS BIGINT), CAST($t AS BIGINT))"
      }.mkString(", ")
    s"""${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |corner AS (SELECT gx - r.dx AS bx, gy - r.dy AS by,
       |    r.dx + 2 * r.dy AS role, v
       |  FROM dsm CROSS JOIN (VALUES (0,0),(1,0),(0,1),(1,1)) r(dx, dy)),
       |blocks AS (SELECT bx, by,
       |    max(CASE WHEN role = 0 THEN v END) AS z00,
       |    max(CASE WHEN role = 1 THEN v END) AS z10,
       |    max(CASE WHEN role = 2 THEN v END) AS z01,
       |    max(CASE WHEN role = 3 THEN v END) AS z11
       |  FROM corner GROUP BY bx, by HAVING count(*) = 4),
       |lv AS (SELECT * FROM (VALUES $lvRows) v(li, t)),
       |cs AS (SELECT bx, by, li, t, z00, z10, z01, z11,
       |    (CASE WHEN z00 >= t THEN 1 ELSE 0 END)
       |  + (CASE WHEN z10 >= t THEN 2 ELSE 0 END)
       |  + (CASE WHEN z11 >= t THEN 4 ELSE 0 END)
       |  + (CASE WHEN z01 >= t THEN 8 ELSE 0 END) AS idx,
       |    z00 + z10 + z01 + z11 >= 4 * t AS cin
       |  FROM blocks, lv),
       |ptd AS (SELECT *,
       |    {'x': bx + (t - z00) / (z10 - z00), 'y': CAST(by AS DOUBLE),
       |     'eo': 0, 'ex': bx, 'ey': by} AS pb,
       |    {'x': CAST(bx + 1 AS DOUBLE), 'y': by + (t - z10) / (z11 - z10),
       |     'eo': 1, 'ex': bx + 1, 'ey': by} AS pr,
       |    {'x': bx + (t - z01) / (z11 - z01), 'y': CAST(by + 1 AS DOUBLE),
       |     'eo': 0, 'ex': bx, 'ey': by + 1} AS pu,
       |    {'x': CAST(bx AS DOUBLE), 'y': by + (t - z00) / (z01 - z00),
       |     'eo': 1, 'ex': bx, 'ey': by} AS pl
       |  FROM cs WHERE idx NOT IN (0, 15)),
       |sl AS (SELECT bx, by, li, t, CASE
       |    WHEN idx IN (1, 14) THEN [{'g': 0, 'p1': pb, 'p2': pl}]
       |    WHEN idx IN (2, 13) THEN [{'g': 0, 'p1': pb, 'p2': pr}]
       |    WHEN idx IN (3, 12) THEN [{'g': 0, 'p1': pr, 'p2': pl}]
       |    WHEN idx IN (4, 11) THEN [{'g': 0, 'p1': pr, 'p2': pu}]
       |    WHEN idx IN (6, 9)  THEN [{'g': 0, 'p1': pb, 'p2': pu}]
       |    WHEN idx IN (7, 8)  THEN [{'g': 0, 'p1': pu, 'p2': pl}]
       |    WHEN (idx = 5 AND cin) OR (idx = 10 AND NOT cin)
       |      THEN [{'g': 0, 'p1': pb, 'p2': pr}, {'g': 1, 'p1': pu, 'p2': pl}]
       |    ELSE [{'g': 0, 'p1': pb, 'p2': pl}, {'g': 1, 'p1': pr, 'p2': pu}]
       |  END AS ss FROM ptd),
       |segd AS (SELECT li, t, bx, by, u.g AS g, u.p1 AS p1, u.p2 AS p2
       |  FROM (SELECT bx, by, li, t, unnest(ss) AS u FROM sl))""".stripMargin
  }

  /** Contour segments at three levels over the DSM. */
  val q_contours: QueryDef = QueryDef.sqlChecked(
    "q_contours",
    s"""WITH $contourCtes
       |SELECT t AS level, bx, by, CAST(g AS INT) AS seg,
       |  p1.x AS x1, p1.y AS y1, p2.x AS x2, p2.y AS y2,
       |  CAST(p1.eo AS INT) AS e1o, p1.ex AS e1x, p1.ey AS e1y,
       |  CAST(p2.eo AS INT) AS e2o, p2.ex AS e2x, p2.ey AS e2y
       |FROM segd ORDER BY level, bx, by, seg""".stripMargin) { (s, dir) =>
    Contours.segments(dsm10(s, dir), Levels)
      .orderBy(col("level"), col("bx"), col("by"), col("seg"))
  }

  /** Polyline dissolve: every segment labeled with the min segment id
    * reachable over exact shared-edge connectivity. */
  val q_contour_lines: QueryDef = QueryDef.sqlChecked(
    "q_contour_lines",
    s"""WITH RECURSIVE $contourCtes,
       |nodes AS MATERIALIZED (SELECT li, t, bx, by, g,
       |    ((li * 268435456 + bx) * 268435456 + by) * 2 + g AS sid,
       |    p1, p2 FROM segd),
       |ends AS (
       |  SELECT t, p1.eo AS eo, p1.ex AS ex, p1.ey AS ey, sid FROM nodes
       |  UNION ALL
       |  SELECT t, p2.eo, p2.ex, p2.ey, sid FROM nodes),
       |pairs AS (SELECT a.sid AS sa, b.sid AS sb
       |  FROM ends a JOIN ends b
       |    ON a.t = b.t AND a.eo = b.eo AND a.ex = b.ex AND a.ey = b.ey
       |  WHERE a.sid < b.sid),
       |e AS (SELECT sa, sb FROM pairs UNION SELECT sb, sa FROM pairs),
       |reach(n, l) AS (
       |  SELECT sid, sid FROM nodes
       |  UNION
       |  SELECT e.sb, r.l FROM reach r JOIN e ON e.sa = r.n
       |  WHERE r.l < e.sb),
       |lbl AS MATERIALIZED (SELECT n AS sid, min(l) AS line_id FROM reach GROUP BY n)
       |SELECT t AS level, bx, by, CAST(g AS INT) AS seg, line_id
       |FROM nodes JOIN lbl USING (sid)
       |ORDER BY level, bx, by, seg""".stripMargin) { (s, dir) =>
    Contours.polylines(Contours.segments(dsm10(s, dir), Levels), Levels)
      .orderBy(col("level"), col("bx"), col("by"), col("seg"))
  }

  /** Ordered polyline vertices: the engine list-ranks arcs with
    * pointer doubling (no sequential walk); the dual IS the sequential
    * walk — a recursive CTE stepping one arc per iteration from the
    * canonical head chosen by the same (enter-edge key, arc id) rule. */
  val q_contour_walk: QueryDef = QueryDef.sqlChecked(
    "q_contour_walk",
    s"""WITH RECURSIVE $contourCtes,
       |nodes AS MATERIALIZED (SELECT li, t, bx, by, g,
       |    ((li * 268435456 + bx) * 268435456 + by) * 2 + g AS sid,
       |    p1, p2 FROM segd),
       |ends AS (
       |  SELECT t, p1.eo AS eo, p1.ex AS ex, p1.ey AS ey, sid FROM nodes
       |  UNION ALL
       |  SELECT t, p2.eo, p2.ex, p2.ey, sid FROM nodes),
       |pairs AS (SELECT a.sid AS sa, b.sid AS sb
       |  FROM ends a JOIN ends b
       |    ON a.t = b.t AND a.eo = b.eo AND a.ex = b.ex AND a.ey = b.ey
       |  WHERE a.sid < b.sid),
       |e AS (SELECT sa, sb FROM pairs UNION SELECT sb, sa FROM pairs),
       |reach(n, l) AS (
       |  SELECT sid, sid FROM nodes
       |  UNION
       |  SELECT e.sb, r.l FROM reach r JOIN e ON e.sa = r.n
       |  WHERE r.l < e.sb),
       |lbl AS MATERIALIZED (SELECT n AS sid, min(l) AS line_id FROM reach GROUP BY n),
       |arcs AS (
       |  SELECT t, sid * 2 AS aid, sid,
       |    (p1.eo * 268435456 + p1.ex) * 268435456 + p1.ey AS inkey,
       |    (p2.eo * 268435456 + p2.ex) * 268435456 + p2.ey AS outkey,
       |    p1.x AS ix, p1.y AS iy, p2.x AS ox, p2.y AS oy FROM nodes
       |  UNION ALL
       |  SELECT t, sid * 2 + 1, sid,
       |    (p2.eo * 268435456 + p2.ex) * 268435456 + p2.ey,
       |    (p1.eo * 268435456 + p1.ex) * 268435456 + p1.ey,
       |    p2.x, p2.y, p1.x, p1.y FROM nodes),
       |succ0 AS MATERIALIZED (SELECT a.aid, a.sid, b.aid AS naid
       |  FROM arcs a LEFT JOIN arcs b
       |    ON a.t = b.t AND a.outkey = b.inkey AND a.sid <> b.sid),
       |openlines AS (SELECT DISTINCT l.line_id
       |  FROM succ0 s JOIN lbl l USING (sid) WHERE s.naid IS NULL),
       |cuts AS (SELECT unnest([msid * 2, msid * 2 + 1]) AS cutaid
       |  FROM (SELECT min(sid) AS msid FROM lbl
       |        WHERE line_id NOT IN (SELECT line_id FROM openlines)
       |        GROUP BY line_id)),
       |succ AS MATERIALIZED (SELECT s.aid,
       |    CASE WHEN c.cutaid IS NOT NULL THEN NULL ELSE s.naid END AS naid
       |  FROM succ0 s LEFT JOIN cuts c ON s.naid = c.cutaid),
       |heads AS (SELECT l.line_id, a.inkey, a.aid
       |  FROM arcs a JOIN lbl l USING (sid)
       |  WHERE a.aid NOT IN (SELECT naid FROM succ WHERE naid IS NOT NULL)),
       |chosen AS MATERIALIZED (SELECT line_id, aid,
       |    line_id NOT IN (SELECT line_id FROM openlines) AS closed
       |  FROM (SELECT line_id, inkey, aid,
       |          row_number() OVER (PARTITION BY line_id
       |                             ORDER BY inkey, aid) AS rn
       |        FROM heads) WHERE rn = 1),
       |walk(line_id, aid, pos, closed) AS (
       |  SELECT line_id, aid, CAST(0 AS BIGINT), closed FROM chosen
       |  UNION ALL
       |  SELECT w.line_id, s.naid, w.pos + 1, w.closed
       |  FROM walk w JOIN succ s ON s.aid = w.aid
       |  WHERE s.naid IS NOT NULL),
       |tailpos AS MATERIALIZED (SELECT line_id, max(pos) AS mpos FROM walk
       |  GROUP BY line_id),
       |verts AS (
       |  SELECT a.t AS level, w.line_id, w.pos, a.ix AS x, a.iy AS y,
       |    w.closed
       |  FROM walk w JOIN arcs a USING (aid)
       |  UNION ALL
       |  SELECT a.t, w.line_id, CAST(w.pos + 1 AS BIGINT), a.ox, a.oy,
       |    w.closed
       |  FROM walk w JOIN arcs a USING (aid)
       |    JOIN tailpos tp ON tp.line_id = w.line_id AND tp.mpos = w.pos)
       |SELECT level, line_id, CAST(pos AS BIGINT) AS pos, x, y, closed
       |FROM verts ORDER BY level, line_id, pos""".stripMargin) { (s, dir) =>
    Contours.orderedVertices(
      Contours.segments(dsm10(s, dir), Levels), Levels)
      .orderBy(col("level"), col("line_id"), col("pos"))
  }

  /** WKT LINESTRING product per contour polyline — rows-only by the
    * same contract as the building-outline WKT products (Java 17
    * Double.toString vs DuckDB's shortest-roundtrip float printing can
    * diverge on specific doubles, so the strings are pinned by the
    * ContourSpec scalar-WKT golden instead; the vertex GEOMETRY itself
    * is the all-green q_contour_walk). */
  val q_contour_wkt: QueryDef = QueryDef.rowsOnly("q_contour_wkt") { (s, dir) =>
    Contours.toWktLines(Contours.orderedVertices(
      Contours.segments(dsm10(s, dir), Levels), Levels))
      .orderBy(col("level"), col("line_id"))
  }

  /** Exact shoelace ring metrics ([[graft.vector.RingMetrics]]) over
    * two vertex sources at a shared 10^-4-degree integer scale: the six
    * fixture AOI polygons (concave L, triangle, hole ring — the oracle
    * inlines their vertices as VALUES from the SAME parser) and a
    * data-driven ring per language (the bbox of its geocoded documents,
    * pure integer arithmetic both engines). area2/perimeter are exact
    * BIGINTs, centroid numerators exact DECIMAL(38,0)/HUGEINT, centroid
    * itself one IEEE division — bit-identical across engines. A
    * one-document language degenerates to a 'flat' ring with NULL
    * centroid on both sides. */
  val q_ring_metrics: QueryDef = {
    val aoiRows = graft.join.Aoi.defs.flatMap { a =>
      RingMetrics.wktRings(a.wkt, 1e4).map { case (ri, pos, x, y) =>
        (s"aoi:${a.aoiId}", ri, pos, x, y)
      }
    }
    val aoiValues = aoiRows.map { case (p, ri, pos, x, y) =>
      s"('$p', $ri, $pos, $x, $y)"
    }.mkString(", ")
    val sql =
      s"""WITH b AS (SELECT lang,
         |    min((doc_id*16807 % 360000)*10 - 1800000) AS x0,
         |    max((doc_id*16807 % 360000)*10 - 1800000) AS x1,
         |    min((doc_id*48271 % 170000)*10 - 850000) AS y0,
         |    max((doc_id*48271 % 170000)*10 - 850000) AS y1
         |  FROM documents GROUP BY lang),
         |dv AS (SELECT 'doc:' || lang AS poly, 0 AS ring, p.pos,
         |    CASE p.pos WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1
         |      ELSE x0 END AS x,
         |    CASE p.pos WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1
         |      ELSE y1 END AS y
         |  FROM b, (VALUES (0),(1),(2),(3)) p(pos)),
         |av(poly, ring, pos, x, y) AS (VALUES $aoiValues),
         |v AS (SELECT poly, ring, pos, CAST(x AS BIGINT) AS x,
         |    CAST(y AS BIGINT) AS y FROM dv
         |  UNION ALL SELECT poly, ring, pos, CAST(x AS BIGINT),
         |    CAST(y AS BIGINT) FROM av),
         |e AS (SELECT poly, ring, x, y,
         |    coalesce(lead(x) OVER w, first_value(x) OVER w) AS nx,
         |    coalesce(lead(y) OVER w, first_value(y) OVER w) AS ny
         |  FROM v WINDOW w AS (PARTITION BY poly, ring ORDER BY pos)),
         |g AS (SELECT poly, ring, CAST(count(*) AS BIGINT) AS n_pts,
         |    CAST(sum(x*ny - nx*y) AS BIGINT) AS area2,
         |    sum(CAST(x + nx AS HUGEINT) * (x*ny - nx*y)) AS cxn,
         |    sum(CAST(y + ny AS HUGEINT) * (x*ny - nx*y)) AS cyn,
         |    CAST(sum(abs(x - nx) + abs(y - ny)) AS BIGINT) AS per_l1
         |  FROM e GROUP BY poly, ring)
         |SELECT poly, ring, n_pts, area2,
         |  CASE WHEN area2 > 0 THEN 'ccw' WHEN area2 < 0 THEN 'cw'
         |    ELSE 'flat' END AS orient,
         |  CASE WHEN area2 <> 0
         |    THEN CAST(cxn AS DOUBLE) / CAST(area2 * 3 AS DOUBLE) END AS cx,
         |  CASE WHEN area2 <> 0
         |    THEN CAST(cyn AS DOUBLE) / CAST(area2 * 3 AS DOUBLE) END AS cy,
         |  per_l1
         |FROM g ORDER BY poly, ring""".stripMargin
    QueryDef.sqlChecked("q_ring_metrics", sql) { (s, dir) =>
      import s.implicits._
      val aoiVerts = aoiRows.toDF("poly", "ring", "pos", "x", "y")
      val b = Tables.documents(s, dir)
        .select(col("lang"),
          ((col("doc_id") * 16807 % 360000) * 10 - 1800000).as("xi"),
          ((col("doc_id") * 48271 % 170000) * 10 - 850000).as("yi"))
        .groupBy("lang")
        .agg(min("xi").as("x0"), max("xi").as("x1"),
          min("yi").as("y0"), max("yi").as("y1"))
      val docVerts = b.select(concat(lit("doc:"), col("lang")).as("poly"),
        inline(array(
          struct(lit(0).as("ring"), lit(0).as("pos"),
            col("x0").as("x"), col("y0").as("y")),
          struct(lit(0).as("ring"), lit(1).as("pos"),
            col("x1").as("x"), col("y0").as("y")),
          struct(lit(0).as("ring"), lit(2).as("pos"),
            col("x1").as("x"), col("y1").as("y")),
          struct(lit(0).as("ring"), lit(3).as("pos"),
            col("x0").as("x"), col("y1").as("y")))))
      RingMetrics.metrics(docVerts.unionByName(aoiVerts))
        .orderBy(col("poly"), col("ring"))
    }
  }

  /** Douglas-Peucker simplification ([[graft.vector.DouglasPeucker]])
    * of per-language document trails (doc_id order, integer milli-
    * degree coords, doc_id < 300 to keep the oracle recursion small):
    * exact sqrt-free max-deviation splits at ε = 100 degrees. The dual
    * replays the SAME recursion as a recursive CTE — segment frontier,
    * anti-join (dev desc, pos asc) argmax, HUGEINT squared compare —
    * so the kept set is pinned vertex-for-vertex, ties included. */
  val q_douglas_peucker: QueryDef = {
    val eps2 = 100000L * 100000L
    def branch(childI: String, childJ: String): String =
      s"""SELECT seg.line, $childI, $childJ FROM segs seg
         |    JOIN pts a ON a.line = seg.line AND a.i = seg.i
         |    JOIN pts b ON b.line = seg.line AND b.i = seg.j
         |    JOIN pts m ON m.line = seg.line AND m.i > seg.i AND m.i < seg.j
         |    WHERE NOT EXISTS (SELECT 1 FROM pts k
         |      WHERE k.line = seg.line AND k.i > seg.i AND k.i < seg.j AND (
         |        abs((b.x-a.x)*(k.y-a.y) - (b.y-a.y)*(k.x-a.x)) >
         |        abs((b.x-a.x)*(m.y-a.y) - (b.y-a.y)*(m.x-a.x))
         |        OR (abs((b.x-a.x)*(k.y-a.y) - (b.y-a.y)*(k.x-a.x)) =
         |            abs((b.x-a.x)*(m.y-a.y) - (b.y-a.y)*(m.x-a.x))
         |            AND k.i < m.i)))
         |    AND CAST(abs((b.x-a.x)*(m.y-a.y) - (b.y-a.y)*(m.x-a.x))
         |          AS HUGEINT) *
         |        abs((b.x-a.x)*(m.y-a.y) - (b.y-a.y)*(m.x-a.x)) >
         |        CAST($eps2 AS HUGEINT) *
         |        ((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y))""".stripMargin
    QueryDef.sqlChecked(
      "q_douglas_peucker",
      s"""WITH RECURSIVE
         |d AS (SELECT lang, doc_id,
         |    (doc_id*16807 % 360000) - 180000 AS x,
         |    (doc_id*48271 % 170000) - 85000 AS y
         |  FROM documents WHERE doc_id < 300),
         |pts AS (SELECT lang AS line,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1 AS i,
         |    x, y FROM d),
         |ends AS (SELECT line, CAST(0 AS BIGINT) AS i, max(i) AS j
         |  FROM pts GROUP BY line),
         |segs(line, i, j) AS (
         |  SELECT line, i, j FROM ends WHERE j > 0
         |  UNION ALL
         |  SELECT s.* FROM (
         |    ${branch("seg.i AS i", "m.i AS j")}
         |    UNION ALL
         |    ${branch("m.i AS i", "seg.j AS j")}
         |  ) s
         |)
         |SELECT p.line, p.i AS pos, p.x, p.y
         |FROM pts p JOIN (SELECT DISTINCT line, i FROM
         |  (SELECT line, i FROM segs UNION ALL SELECT line, j FROM segs
         |   UNION ALL SELECT line, i FROM ends WHERE j = 0))
         |  k ON k.line = p.line AND k.i = p.i
         |ORDER BY p.line, pos""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).filter(col("doc_id") < 300)
        .select(col("lang"), col("doc_id"),
          ((col("doc_id") * 16807) % 360000 - 180000).as("x"),
          ((col("doc_id") * 48271) % 170000 - 85000).as("y"))
      val w = Window.partitionBy("lang").orderBy("doc_id")
      val pts = d.select(col("lang").as("line"),
        (row_number().over(w) - 1).cast("long").as("pos"),
        col("x"), col("y"))
      graft.vector.DouglasPeucker.simplify(pts, 100000L)
        .orderBy(col("line"), col("pos"))
    }
  }

  /** Per-language convex hull ([[graft.vector.ConvexHull]], strict-turn
    * monotone chain, exact integer crosses) of the same milli-degree
    * point trails. The dual never runs a chain: it applies the
    * DEFINITION — a point is a hull vertex iff it is not inside any
    * non-degenerate triangle of other points (Carathéodory) and not
    * interior to any collinear pair's segment — so the two
    * formulations meet only at the semantics. */
  val q_convex_hull: QueryDef = QueryDef.sqlChecked(
    "q_convex_hull",
    s"""WITH d AS (SELECT DISTINCT lang AS key,
       |    (doc_id*16807 % 360000) - 180000 AS x,
       |    (doc_id*48271 % 170000) - 85000 AS y
       |  FROM documents WHERE doc_id < 300),
       |tri AS (SELECT DISTINCT p.key, p.x, p.y FROM d p
       |  JOIN d a ON a.key = p.key AND (a.x <> p.x OR a.y <> p.y)
       |  JOIN d b ON b.key = p.key AND (b.x <> p.x OR b.y <> p.y)
       |    AND (a.x, a.y) < (b.x, b.y)
       |  JOIN d c ON c.key = p.key AND (c.x <> p.x OR c.y <> p.y)
       |    AND (b.x, b.y) < (c.x, c.y)
       |  WHERE (b.x-a.x)*(c.y-a.y) - (b.y-a.y)*(c.x-a.x) <> 0
       |    AND ((((b.x-a.x)*(p.y-a.y) - (b.y-a.y)*(p.x-a.x)) >= 0
       |      AND ((c.x-b.x)*(p.y-b.y) - (c.y-b.y)*(p.x-b.x)) >= 0
       |      AND ((a.x-c.x)*(p.y-c.y) - (a.y-c.y)*(p.x-c.x)) >= 0)
       |     OR (((b.x-a.x)*(p.y-a.y) - (b.y-a.y)*(p.x-a.x)) <= 0
       |      AND ((c.x-b.x)*(p.y-b.y) - (c.y-b.y)*(p.x-b.x)) <= 0
       |      AND ((a.x-c.x)*(p.y-c.y) - (a.y-c.y)*(p.x-c.x)) <= 0))),
       |seg AS (SELECT DISTINCT p.key, p.x, p.y FROM d p
       |  JOIN d a ON a.key = p.key AND (a.x <> p.x OR a.y <> p.y)
       |  JOIN d b ON b.key = p.key AND (b.x <> p.x OR b.y <> p.y)
       |    AND (a.x, a.y) < (b.x, b.y)
       |  WHERE (b.x-a.x)*(p.y-a.y) - (b.y-a.y)*(p.x-a.x) = 0
       |    AND p.x >= least(a.x, b.x) AND p.x <= greatest(a.x, b.x)
       |    AND p.y >= least(a.y, b.y) AND p.y <= greatest(a.y, b.y))
       |SELECT d.key, d.x, d.y FROM d
       |LEFT JOIN tri ON tri.key = d.key AND tri.x = d.x AND tri.y = d.y
       |LEFT JOIN seg ON seg.key = d.key AND seg.x = d.x AND seg.y = d.y
       |WHERE tri.key IS NULL AND seg.key IS NULL
       |ORDER BY d.key, d.x, d.y""".stripMargin) { (s, dir) =>
    val pts = Tables.documents(s, dir).filter(col("doc_id") < 300)
      .select(col("lang").as("key"),
        ((col("doc_id") * 16807) % 360000 - 180000).as("x"),
        ((col("doc_id") * 48271) % 170000 - 85000).as("y"))
    graft.vector.ConvexHull.hull(pts)
      .orderBy(col("key"), col("x"), col("y"))
  }

  val all: Seq[QueryDef] =
    Seq(q_contours, q_contour_lines, q_contour_walk, q_contour_wkt,
      q_ring_metrics, q_douglas_peucker, q_convex_hull)
}
