package graft.queries

import graft.core.{Geo, Tables}
import graft.grid.Gridding
import graft.stencil.{Kernels, TileStencil}
import org.apache.spark.sql.functions._

/** The gsd-10 DSM fixture the stencil, morphology and contour packs
  * share: its grid, lattice bounds, engine DSM, and the 8-neighbor
  * offsets `o(dx, dy)` their duals join against. */
private[queries] object Grid10 {
  val spec = Gridding.GridSpec(gsd = 10.0)
  val (w, h) = Gridding.boundsFor(spec) // (38, 19)
  val bounds = TileStencil.Bounds(w, h)

  def dsm10(s: org.apache.spark.sql.SparkSession, dir: String) =
    Gridding.dsm(Gridding.points(Geo.withGeo(Tables.documents(s, dir)), spec))

  val offsets8 =
    "(VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,1), (1,-1), (1,0), (1,1)) o(dx, dy)"
}

/**
 * SQL-checked stencil queries (SURVEY.md §2.5). Run on a coarse
 * 10-degree grid where the doc scatter is dense enough for neighborhoods
 * to be non-trivial. Engine side uses the halo-exchange tile operator
 * with a deliberately small tile size so multiple tiles + halos are
 * exercised even at smoke SF; the DuckDB dual is an explicit neighbor
 * self-join — structurally different machinery, same semantics.
 */
object StencilQueries {

  import Grid10.{bounds, dsm10, h, offsets8, spec, w}
  private val EdgeDz = 40000
  private val offsets9 =
    "(VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,0), (0,1), (1,-1), (1,0), (1,1)) o(dx, dy)"

  /** W6 edgeFilter: void any cell with a neighbor (absent = 0) differing
    * by more than dz. */
  val q_edge_filter: QueryDef = QueryDef.sqlChecked(
    "q_edge_filter",
    s"""WITH ${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |nb AS (SELECT d.gx, d.gy, d.v, coalesce(n.v, 0) AS nv
       |  FROM dsm d CROSS JOIN $offsets8
       |  LEFT JOIN dsm n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
       |  WHERE d.gx + o.dx BETWEEN 0 AND ${w - 1}
       |    AND d.gy + o.dy BETWEEN 0 AND ${h - 1})
       |SELECT gx, gy, CAST(v AS INT) AS v FROM nb GROUP BY gx, gy, v
       |HAVING max(abs(nv - v)) <= $EdgeDz ORDER BY gx, gy""".stripMargin) { (s, dir) =>
    TileStencil(dsm10(s, dir), Kernels.EdgeFilter(EdgeDz), bounds, tileSize = 8)
      .orderBy(col("gx"), col("gy"))
  }

  /** Horn 3x3 slope (L1 gradient magnitude) over the DSM — integer
    * weights so both engines stay in exact arithmetic. The dual's inner
    * join + count(*) = 8 enforces the kernel's full-support rule (all 8
    * neighbors occupied and in-bounds; dsm cells are in-bounds by
    * construction), and flat cells are filtered on both sides because 0
    * is the sparse table's void encoding. */
  val q_slope_horn: QueryDef = QueryDef.sqlChecked(
    "q_slope_horn",
    s"""WITH ${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |nb AS (SELECT d.gx, d.gy,
       |  sum((CASE WHEN o.dx = 1 THEN 1 WHEN o.dx = -1 THEN -1 ELSE 0 END)
       |      * (CASE WHEN o.dy = 0 THEN 2 ELSE 1 END) * n.v) AS gxs,
       |  sum((CASE WHEN o.dy = 1 THEN 1 WHEN o.dy = -1 THEN -1 ELSE 0 END)
       |      * (CASE WHEN o.dx = 0 THEN 2 ELSE 1 END) * n.v) AS gys,
       |  count(*) AS nn
       |  FROM dsm d CROSS JOIN $offsets8
       |  JOIN dsm n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
       |  GROUP BY d.gx, d.gy)
       |SELECT gx, gy, CAST(abs(gxs) + abs(gys) AS INT) AS v FROM nb
       |WHERE nn = 8 AND abs(gxs) + abs(gys) <> 0
       |ORDER BY gx, gy""".stripMargin) { (s, dir) =>
    TileStencil(dsm10(s, dir), Kernels.HornGradient, bounds, tileSize = 8)
      .orderBy(col("gx"), col("gy"))
  }

  /** D8 aspect / flow direction: index of the strictly-lowest neighbor
    * (ties to the smallest index), full support required, local
    * minima/flats void. The dual reproduces the argmin + tie-break as
    * min(idx) over the rows attaining the group min. */
  val q_aspect_d8: QueryDef = QueryDef.sqlChecked(
    "q_aspect_d8",
    s"""WITH ${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |nb AS (SELECT d.gx, d.gy, d.v, n.v AS nv, o.idx
       |  FROM dsm d CROSS JOIN (VALUES (-1,-1,1), (-1,0,2), (-1,1,3),
       |    (0,-1,4), (0,1,5), (1,-1,6), (1,0,7), (1,1,8)) o(dx, dy, idx)
       |  JOIN dsm n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy),
       |ag AS (SELECT gx, gy, count(*) AS nn, min(nv) AS mn, any_value(v) AS v
       |  FROM nb GROUP BY gx, gy)
       |SELECT a.gx, a.gy, CAST(min(b.idx) AS INT) AS v
       |FROM ag a JOIN nb b ON b.gx = a.gx AND b.gy = a.gy AND b.nv = a.mn
       |WHERE a.nn = 8 AND a.mn < a.v
       |GROUP BY a.gx, a.gy ORDER BY a.gx, a.gy""".stripMargin) { (s, dir) =>
    TileStencil(dsm10(s, dir), Kernels.AspectD8, bounds, tileSize = 8)
      .orderBy(col("gx"), col("gy"))
  }

  /** D8 drainage basins ([[graft.grid.FlowBasins]]): every cell labeled
    * with the sink its steepest-descent path reaches — the NON-local
    * raster derivative (a flow path can cross the whole grid), computed
    * by pointer DOUBLING over the packed-id next-pointer table in
    * O(log path) join rounds. The dual recomputes the same next-pointer
    * (the q_aspect_d8 argmin with sinks self-looped) and closes it with
    * a recursive-CTE walk — a sequential independently-written second
    * semantics for the whole doubling loop. */
  /** Shared dual prefix for the D8 flow-graph family: rebuilds the
    * next-pointer table `nxt` (the q_aspect_d8 argmin with sinks
    * self-looped) from the splat. */
  private val flowCtes =
    s"""${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |o8 AS (SELECT * FROM (VALUES (-1,-1,1), (-1,0,2), (-1,1,3),
       |  (0,-1,4), (0,1,5), (1,-1,6), (1,0,7), (1,1,8)) t(dx, dy, idx)),
       |nb AS (SELECT d.gx, d.gy, d.v, n.v AS nv, o.idx
       |  FROM dsm d CROSS JOIN o8 o
       |  JOIN dsm n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy),
       |ag AS (SELECT gx, gy, count(*) AS nn, min(nv) AS mn, any_value(v) AS v
       |  FROM nb GROUP BY gx, gy),
       |ch AS (SELECT a.gx, a.gy, min(b.idx) AS idx
       |  FROM ag a JOIN nb b ON b.gx = a.gx AND b.gy = a.gy AND b.nv = a.mn
       |  WHERE a.nn = 8 AND a.mn < a.v GROUP BY a.gx, a.gy),
       |nxt AS (SELECT d.gx, d.gy, d.gx + coalesce(o.dx, 0) AS nx,
       |  d.gy + coalesce(o.dy, 0) AS ny
       |  FROM dsm d LEFT JOIN ch ON ch.gx = d.gx AND ch.gy = d.gy
       |  LEFT JOIN o8 o ON o.idx = ch.idx)""".stripMargin

  val q_flow_basin: QueryDef = QueryDef.sqlChecked(
    "q_flow_basin",
    s"""WITH RECURSIVE $flowCtes,
       |reach(gx, gy, cx, cy) AS (
       |  SELECT gx, gy, nx, ny FROM nxt
       |  UNION
       |  SELECT r.gx, r.gy, n.nx, n.ny FROM reach r
       |  JOIN nxt n ON n.gx = r.cx AND n.gy = r.cy),
       |sinks AS (SELECT gx, gy FROM nxt WHERE nx = gx AND ny = gy)
       |SELECT r.gx, r.gy, CAST(r.cx AS BIGINT) AS sink_x,
       |  CAST(r.cy AS BIGINT) AS sink_y
       |FROM reach r JOIN sinks s ON s.gx = r.cx AND s.gy = r.cy
       |ORDER BY r.gx, r.gy""".stripMargin) { (s, dir) =>
    graft.grid.FlowBasins.basins(dsm10(s, dir), bounds, tileSize = 8)
      .orderBy(col("gx"), col("gy"))
  }

  /** D8 flow-path LENGTH ([[graft.grid.FlowBasins.paths]]): hops from
    * each cell to its sink, carried as the additive weight of the same
    * pointer-doubling loop that labels basins (Wyllie list ranking). The
    * dual walks each path sequentially with a step counter, stopping at
    * the self-loop. */
  val q_flow_length: QueryDef = QueryDef.sqlChecked(
    "q_flow_length",
    s"""WITH RECURSIVE $flowCtes,
       |walk(gx, gy, cx, cy, d) AS (
       |  SELECT gx, gy, gx, gy, 0 FROM nxt
       |  UNION
       |  SELECT w.gx, w.gy, n.nx, n.ny, w.d + 1 FROM walk w
       |  JOIN nxt n ON n.gx = w.cx AND n.gy = w.cy
       |    AND NOT (n.nx = w.cx AND n.ny = w.cy))
       |SELECT gx, gy, CAST(max(d) AS BIGINT) AS dist FROM walk
       |GROUP BY gx, gy ORDER BY gx, gy""".stripMargin) { (s, dir) =>
    graft.grid.FlowBasins.paths(dsm10(s, dir), bounds, tileSize = 8)
      .select(col("gx"), col("gy"), col("dist"))
      .orderBy(col("gx"), col("gy"))
  }

  /** D8 flow ACCUMULATION ([[graft.grid.FlowAccum]]): upstream
    * contributing-cell count per cell (itself included) — subtree sizes
    * of the D8 pointer forest via Euler tour + list ranking, O(log path)
    * join rounds instead of the naive one-hop-per-round delta push. The
    * dual materializes every (cell, cell-on-its-path) pair with a
    * recursive CTE and counts — quadratic-ish and fine at test SF,
    * impossible at scale, which is exactly why the engine side exists. */
  val q_flow_accum: QueryDef = QueryDef.sqlChecked(
    "q_flow_accum",
    s"""WITH RECURSIVE $flowCtes,
       |reach(gx, gy, cx, cy) AS (
       |  SELECT gx, gy, gx, gy FROM nxt
       |  UNION
       |  SELECT r.gx, r.gy, n.nx, n.ny FROM reach r
       |  JOIN nxt n ON n.gx = r.cx AND n.gy = r.cy)
       |SELECT CAST(cx AS BIGINT) AS gx, CAST(cy AS BIGINT) AS gy,
       |  CAST(count(*) AS BIGINT) AS acc
       |FROM reach GROUP BY cx, cy ORDER BY gx, gy""".stripMargin) { (s, dir) =>
    graft.grid.FlowAccum.accumulation(dsm10(s, dir), bounds, tileSize = 8)
      .orderBy(col("gx"), col("gy"))
  }

  /** Watershed zonal statistics: per-basin cell count, elevation
    * aggregates, and longest flow path — the hydrology rollup composing
    * [[graft.grid.FlowBasins.paths]] (basin label + hop distance from
    * one doubling loop) with a plain keyed aggregation. The dual walks
    * every path sequentially and rolls up per sink. */
  val q_basin_stats: QueryDef = QueryDef.sqlChecked(
    "q_basin_stats",
    s"""WITH RECURSIVE $flowCtes,
       |walk(gx, gy, cx, cy, d) AS (
       |  SELECT gx, gy, gx, gy, 0 FROM nxt
       |  UNION
       |  SELECT w.gx, w.gy, n.nx, n.ny, w.d + 1 FROM walk w
       |  JOIN nxt n ON n.gx = w.cx AND n.gy = w.cy
       |    AND NOT (n.nx = w.cx AND n.ny = w.cy)),
       |fin AS (SELECT gx, gy, max(d) AS dist FROM walk GROUP BY gx, gy),
       |lab AS (SELECT w.gx, w.gy, w.cx AS sx, w.cy AS sy, f.dist
       |  FROM walk w JOIN fin f ON f.gx = w.gx AND f.gy = w.gy AND w.d = f.dist)
       |SELECT CAST(l.sx AS BIGINT) AS sink_x, CAST(l.sy AS BIGINT) AS sink_y,
       |  count(*) AS n_cells, CAST(max(l.dist) AS BIGINT) AS longest_path,
       |  CAST(sum(d2.v) AS BIGINT) AS sum_v, CAST(min(d2.v) AS INT) AS min_v,
       |  CAST(max(d2.v) AS INT) AS max_v
       |FROM lab l JOIN dsm d2 ON d2.gx = l.gx AND d2.gy = l.gy
       |GROUP BY l.sx, l.sy ORDER BY sink_x, sink_y""".stripMargin) { (s, dir) =>
    val dsm = dsm10(s, dir)
    graft.grid.FlowBasins.paths(dsm, bounds, tileSize = 8)
      .join(dsm.select(col("gx"), col("gy"), col("v").cast("int").as("v")),
        Seq("gx", "gy"))
      .groupBy(col("sink_x"), col("sink_y"))
      .agg(count(lit(1)).as("n_cells"), max(col("dist")).as("longest_path"),
        sum(col("v")).as("sum_v"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .orderBy(col("sink_x"), col("sink_y"))
  }

  /** 8-neighbor Laplacian curvature (signed; [[Kernels.Laplacian]]):
    * 8*center - sum(neighbors), full support, flats filtered both sides
    * (0 is the sparse void encoding). */
  val q_curvature: QueryDef = QueryDef.sqlChecked(
    "q_curvature",
    s"""WITH ${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |nb AS (SELECT d.gx, d.gy, d.v, sum(n.v) AS sv, count(*) AS nn
       |  FROM dsm d CROSS JOIN $offsets8
       |  JOIN dsm n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
       |  GROUP BY d.gx, d.gy, d.v)
       |SELECT gx, gy, CAST(8 * v - sv AS INT) AS v FROM nb
       |WHERE nn = 8 AND 8 * v - sv <> 0 ORDER BY gx, gy""".stripMargin) { (s, dir) =>
    TileStencil(dsm10(s, dir), Kernels.Laplacian, bounds, tileSize = 8)
      .orderBy(col("gx"), col("gy"))
  }

  /** Terrain Ruggedness Index ([[Kernels.Ruggedness]]): sum |center -
    * neighbor| over the 8-neighborhood, full support, smooth cells
    * filtered both sides. */
  val q_ruggedness: QueryDef = QueryDef.sqlChecked(
    "q_ruggedness",
    s"""WITH ${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |nb AS (SELECT d.gx, d.gy, sum(abs(d.v - n.v)) AS s, count(*) AS nn
       |  FROM dsm d CROSS JOIN $offsets8
       |  JOIN dsm n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
       |  GROUP BY d.gx, d.gy)
       |SELECT gx, gy, CAST(s AS INT) AS v FROM nb
       |WHERE nn = 8 AND s <> 0 ORDER BY gx, gy""".stripMargin) { (s, dir) =>
    TileStencil(dsm10(s, dir), Kernels.Ruggedness, bounds, tileSize = 8)
      .orderBy(col("gx"), col("gy"))
  }

  /** Morphological opening (W4 erosion then W5 dilation, r=1, dz=0) —
    * the DTM0 ground-surface primitive. */
  val q_morph_open: QueryDef = QueryDef.sqlChecked(
    "q_morph_open",
    s"""WITH ${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |erode AS (SELECT d.gx, d.gy, min(n.v) AS v
       |  FROM dsm d CROSS JOIN $offsets9
       |  JOIN dsm n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
       |  GROUP BY d.gx, d.gy),
       |dilate AS (SELECT d.gx, d.gy, max(n.v) AS v
       |  FROM erode d CROSS JOIN $offsets9
       |  JOIN erode n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
       |  GROUP BY d.gx, d.gy)
       |SELECT gx, gy, CAST(v AS INT) AS v FROM dilate ORDER BY gx, gy""".stripMargin) { (s, dir) =>
    val eroded = TileStencil(dsm10(s, dir), Kernels.MinFilter(1, 0), bounds, tileSize = 8)
    TileStencil(eroded, Kernels.MaxFilter(1, 0), bounds, tileSize = 8)
      .orderBy(col("gx"), col("gy"))
  }

  /** W15 label erode+dilate (pubgeo `shr3d.cpp:1091-1139`): mask
    * morphology on a 0/1 label mask — erosion keeps a cell iff every
    * in-bounds 3x3 neighbor is labeled; a cell survives the pass iff
    * any in-bounds 3x3 cell (incl. itself) survived erosion. Removes
    * narrow/1-px objects, keeps bodies >= 3 wide with their rims. */
  val q_mask_open: QueryDef = QueryDef.sqlChecked(
    "q_mask_open",
    s"""WITH ${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |mask AS (SELECT gx, gy FROM dsm WHERE v > 40000),
       |er AS (SELECT m.gx, m.gy FROM mask m JOIN mask n
       |    ON abs(m.gx - n.gx) <= 1 AND abs(m.gy - n.gy) <= 1
       |  GROUP BY m.gx, m.gy
       |  HAVING count(*) = (least(m.gx + 1, ${w - 1}) - greatest(m.gx - 1, 0) + 1)
       |                  * (least(m.gy + 1, ${h - 1}) - greatest(m.gy - 1, 0) + 1)),
       |keep AS (SELECT DISTINCT m.gx, m.gy FROM mask m JOIN er e
       |    ON abs(m.gx - e.gx) <= 1 AND abs(m.gy - e.gy) <= 1)
       |SELECT gx, gy, 1 AS v FROM keep ORDER BY gx, gy""".stripMargin) { (s, dir) =>
    val mask = dsm10(s, dir).filter(col("v") > 40000)
      .select(col("gx"), col("gy"), lit(1).as("v"))
    val packed = TileStencil(mask, Kernels.MaskErodePack(), bounds, tileSize = 8)
    TileStencil(packed, Kernels.MaskOpenResolve(), bounds, tileSize = 8)
      .select(col("gx"), col("gy"), col("v").cast("int").as("v"))
      .orderBy(col("gx"), col("gy"))
  }

  /** M1 fillVoidsPyramid, single level, noSmoothing: every lattice hole
    * takes its parent's mean value. The SQL dual reproduces the
    * fine->coarse splat and the parent lookup explicitly. */
  val q_fill_voids: QueryDef = {
    val (cw, ch) = (w / 2, h / 2)
    QueryDef.sqlChecked(
      "q_fill_voids",
      s"""WITH ${Gridding.splatCte(spec)},
         |dsm AS (SELECT gx, gy, CAST(max(qz) AS INT) AS v FROM splat GROUP BY gx, gy),
         |cand AS (
         |  SELECT gx, gy, v, (gx - 1) // 2 AS j, (gy - 1) // 2 AS i FROM dsm
         |  UNION SELECT gx, gy, v, (gx - 1) // 2, gy // 2 FROM dsm
         |  UNION SELECT gx, gy, v, gx // 2, (gy - 1) // 2 FROM dsm
         |  UNION SELECT gx, gy, v, gx // 2, gy // 2 FROM dsm),
         |coarse AS (SELECT j, i, CAST(floor(sum(v) / count(*)) AS INT) AS pv
         |  FROM cand WHERE j >= 0 AND j < $cw AND i >= 0 AND i < $ch
         |  GROUP BY j, i),
         |lattice AS (SELECT x.range AS gx, y.range AS gy FROM range(0, $w) x, range(0, $h) y),
         |filled AS (SELECT l.gx, l.gy,
         |    coalesce(d.v, c.pv) AS v
         |  FROM lattice l LEFT JOIN dsm d ON d.gx = l.gx AND d.gy = l.gy
         |  LEFT JOIN coarse c ON c.j = l.gx // 2 AND c.i = l.gy // 2 AND d.v IS NULL)
         |SELECT gx, gy, v FROM filled WHERE v IS NOT NULL ORDER BY gx, gy""".stripMargin) { (s, dir) =>
      graft.pyramid.FillVoids(dsm10(s, dir), bounds, noSmoothing = true, maxLevel = 1)
        .orderBy(col("gx"), col("gy"))
    }
  }

  /** Full smoothing pyramid with a bit-exact DuckDB dual: the 38x19
    * grid's pyramid has a FIXED level chain (19x9 -> 9x4 -> 4x2 -> 2x1),
    * so the up/down phases unroll into a static CTE chain. Building a
    * coarse level the engine would have skipped (no voids below) is
    * harmless — with no holes at the finer level nothing reads it. */
  val q_fill_pyramid: QueryDef = {
    // (w, h) per level, level 0 = the base grid
    val dims = Seq((w, h), (w / 2, h / 2), (w / 4, h / 4), (w / 8, h / 8),
      (w / 16, h / 16))
    // coarsen src -> level k grid (the engine's 4-way parent-cover trick)
    def coarsenCte(src: String, out: String, k: Int): String = {
      val (cw, ch) = dims(k)
      // UNION (distinct) carries (gx, gy) so a fine cell feeding the
      // same coarse cell via two formulas is counted once, like the
      // engine's Set-based parent cover
      s"""$out AS (SELECT j AS gx, i AS gy,
         |  CAST(floor(sum(v) / count(*)) AS INT) AS v FROM (
         |    SELECT gx, gy, v, (gx - 1) // 2 AS j, (gy - 1) // 2 AS i FROM $src
         |    UNION SELECT gx, gy, v, (gx - 1) // 2, gy // 2 FROM $src
         |    UNION SELECT gx, gy, v, gx // 2, (gy - 1) // 2 FROM $src
         |    UNION SELECT gx, gy, v, gx // 2, gy // 2 FROM $src)
         |  WHERE j >= 0 AND j < $cw AND i >= 0 AND i < $ch
         |  GROUP BY j, i)""".stripMargin
    }
    // fill level k holes from the FILLED parent (9-weight smoothing)
    def fillCte(src: String, parent: String, out: String, k: Int): String = {
      val (lw, lh) = dims(k)
      s"""$out AS (
         |  SELECT gx, gy, v FROM $src
         |  UNION ALL
         |  SELECT l.gx, l.gy,
         |    CAST(floor(sum(o.wt * p.v) / sum(o.wt)) AS INT) AS v
         |  FROM (SELECT x.range AS gx, y.range AS gy
         |        FROM range(0, $lw) x, range(0, $lh) y) l
         |  LEFT JOIN $src s ON s.gx = l.gx AND s.gy = l.gy
         |  CROSS JOIN (VALUES (-1,-1,1),(0,-1,2),(1,-1,1),(-1,0,2),(0,0,4),
         |    (1,0,2),(-1,1,1),(0,1,2),(1,1,1)) o(dx, dy, wt)
         |  JOIN $parent p ON p.gx = l.gx // 2 + o.dx AND p.gy = l.gy // 2 + o.dy
         |  WHERE s.v IS NULL
         |  GROUP BY l.gx, l.gy)""".stripMargin
    }
    val sql =
      s"""WITH ${Gridding.splatCte(spec)},
         |g0 AS (SELECT gx, gy, CAST(max(qz) AS INT) AS v FROM splat GROUP BY gx, gy),
         |${coarsenCte("g0", "g1", 1)},
         |${coarsenCte("g1", "g2", 2)},
         |${coarsenCte("g2", "g3", 3)},
         |${coarsenCte("g3", "g4", 4)},
         |${fillCte("g3", "g4", "f3", 3)},
         |${fillCte("g2", "f3", "f2", 2)},
         |${fillCte("g1", "f2", "f1", 1)},
         |${fillCte("g0", "f1", "f0", 0)}
         |SELECT gx, gy, v FROM f0 ORDER BY gx, gy""".stripMargin
    QueryDef.sqlChecked("q_fill_pyramid", sql) { (s, dir) =>
      graft.pyramid.FillVoids(dsm10(s, dir), bounds).orderBy(col("gx"), col("gy"))
    }
  }

  /** W7 well filter (pubgeo `shr3d.cpp:296-316` via `Shr3d.dsm`): void a
    * cell when >= 4 of its non-void 3x3 neighbors rise more than `rise`
    * above it (a low outlier in a pit). */
  val q_well_filter: QueryDef = {
    val rise = 10000
    QueryDef.sqlChecked(
      "q_well_filter",
      s"""WITH ${Gridding.splatCte(spec)},
         |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
         |cnt AS (SELECT d.gx, d.gy, d.v, count(n.gx) AS c
         |  FROM dsm d CROSS JOIN $offsets8
         |  LEFT JOIN dsm n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
         |    AND n.v > d.v + $rise
         |  GROUP BY d.gx, d.gy, d.v)
         |SELECT gx, gy, CAST(v AS INT) AS v FROM cnt WHERE c < 4
         |ORDER BY gx, gy""".stripMargin) { (s, dir) =>
      TileStencil(dsm10(s, dir), Kernels.WellFilter(rise), bounds, tileSize = 8)
        .orderBy(col("gx"), col("gy"))
    }
  }

  /** W12 spike removal (pubgeo `shr3d.cpp:975-994`): void a cell that
    * pokes more than dz/2 above ALL its non-void neighbors; border
    * cells never spike (the reference's clamped neighborhood aliases
    * them to themselves). Runs on the splat-count DENSITY raster — a
    * max-splat surface cannot spike by construction (a doc's own 2x2
    * block always contributes a zero-difference neighbor), while the
    * density surface has genuine lone peaks. */
  val q_spike_filter: QueryDef = {
    val dz = 2
    QueryDef.sqlChecked(
      "q_spike_filter",
      s"""WITH ${Gridding.splatCte(spec)},
         |cnt AS (SELECT gx, gy, count(*) AS v FROM splat GROUP BY gx, gy),
         |mn AS (SELECT d.gx, d.gy, d.v,
         |    min(greatest(0, d.v - n.v)) AS m, count(n.gx) AS c
         |  FROM cnt d CROSS JOIN $offsets8
         |  LEFT JOIN cnt n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
         |  GROUP BY d.gx, d.gy, d.v)
         |SELECT gx, gy, CAST(v AS INT) AS v FROM mn
         |WHERE gx = 0 OR gy = 0 OR gx = ${w - 1} OR gy = ${h - 1}
         |   OR c = 0 OR m <= ${dz / 2}
         |ORDER BY gx, gy""".stripMargin) { (s, dir) =>
      val cnt = Gridding.splat2x2(Gridding.points(
          Geo.withGeo(Tables.documents(s, dir)), spec))
        .groupBy("gx", "gy").agg(count(lit(1)).cast("int").as("v"))
      TileStencil(cnt, Kernels.SpikeFilter(dz), bounds, tileSize = 8)
        .orderBy(col("gx"), col("gy"))
    }
  }

  /** W8 tree/DSM2 filter (pubgeo `shr3d.cpp:140-164` via `Shr3d.dsm2`):
    * over var = clamp0(DSM - MIN) (J1), keep a cell above maxTree
    * outright; otherwise keep it only if some in-bounds 3x3 position is
    * void or has var <= dz (canopy detector). */
  val q_tree_filter: QueryDef = {
    val maxTree = 40000
    val dz = 8000
    QueryDef.sqlChecked(
      "q_tree_filter",
      s"""WITH ${Gridding.splatCte(spec)},
         |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
         |mn AS (SELECT gx, gy, min(qz) AS v FROM splat GROUP BY gx, gy),
         |var AS (SELECT d.gx, d.gy, greatest(0, d.v - m.v) AS v
         |  FROM dsm d JOIN mn m ON m.gx = d.gx AND m.gy = d.gy)
         |SELECT t.gx, t.gy, CAST(t.v AS INT) AS v FROM var t
         |WHERE t.v != 0 AND (t.v > $maxTree OR EXISTS (
         |  SELECT 1 FROM $offsets8
         |  WHERE t.gx + o.dx BETWEEN 0 AND ${w - 1}
         |    AND t.gy + o.dy BETWEEN 0 AND ${h - 1}
         |    AND coalesce((SELECT n.v FROM var n
         |      WHERE n.gx = t.gx + o.dx AND n.gy = t.gy + o.dy), 0) <= $dz))
         |ORDER BY t.gx, t.gy""".stripMargin) { (s, dir) =>
      val pts = Gridding.points(Geo.withGeo(Tables.documents(s, dir)), spec)
      val dsm = Gridding.dsm(pts)
      val mn = Gridding.minGrid(pts)
      val varGrid = Gridding.zipSubClamp(dsm, mn)
        .select(col("gx"), col("gy"), col("v").cast("int").as("v"))
      TileStencil(varGrid, Kernels.TreeFilter(maxTree, dz), bounds, tileSize = 8)
        .orderBy(col("gx"), col("gy"))
    }
  }

  /** Exact single-observer viewshed from the lowest cell + 1 m: every
    * cell tagged visible/hidden by the integer-exact line-of-sight rule
    * ([[graft.grid.Viewshed]]). The dual rebuilds the ray with
    * generate_series + the same sign-safe floor division and decides
    * blocking with the same cross-multiplied squares — both engines stay
    * in exact integer arithmetic end to end. */
  val q_viewshed: QueryDef = {
    val hObs = 30000L // ~10 m in quant units
    QueryDef.sqlChecked(
      "q_viewshed",
      s"""WITH ${Gridding.splatCte(spec)},
         |dsm AS MATERIALIZED (SELECT gx, gy, max(qz) AS v
         |  FROM splat GROUP BY gx, gy),
         |obs AS (SELECT gx AS ox, gy AS oy, v + $hObs AS vo
         |  FROM dsm ORDER BY v, gx, gy LIMIT 1),
         |tk AS (SELECT d.gx, d.gy, d.v, o.ox, o.oy, o.vo,
         |    greatest(abs(d.gx - o.ox), abs(d.gy - o.oy)) AS n
         |  FROM dsm d CROSS JOIN obs o),
         |probes AS (SELECT t.*, s.k,
         |    ox + (2*s.k*(gx-ox) + n
         |          - ((((2*s.k*(gx-ox) + n) % (2*n)) + 2*n) % (2*n)))
         |         // (2*n) AS px,
         |    oy + (2*s.k*(gy-oy) + n
         |          - ((((2*s.k*(gy-oy) + n) % (2*n)) + 2*n) % (2*n)))
         |         // (2*n) AS py
         |  FROM tk t LEFT JOIN LATERAL
         |    (SELECT unnest(generate_series(1, t.n - 1)) AS k) s ON true)
         |SELECT p.gx, p.gy, p.v,
         |  sum(CASE
         |    WHEN p.k IS NULL OR b.v IS NULL THEN 0
         |    WHEN b.v - p.vo >= 0 AND p.v - p.vo < 0 THEN 1
         |    WHEN b.v - p.vo < 0 AND p.v - p.vo >= 0 THEN 0
         |    WHEN b.v - p.vo >= 0 THEN CASE WHEN
         |      (b.v-p.vo)*(b.v-p.vo)*((p.gx-p.ox)*(p.gx-p.ox)+(p.gy-p.oy)*(p.gy-p.oy))
         |      >= (p.v-p.vo)*(p.v-p.vo)*((p.px-p.ox)*(p.px-p.ox)+(p.py-p.oy)*(p.py-p.oy))
         |      THEN 1 ELSE 0 END
         |    ELSE CASE WHEN
         |      (b.v-p.vo)*(b.v-p.vo)*((p.gx-p.ox)*(p.gx-p.ox)+(p.gy-p.oy)*(p.gy-p.oy))
         |      <= (p.v-p.vo)*(p.v-p.vo)*((p.px-p.ox)*(p.px-p.ox)+(p.py-p.oy)*(p.py-p.oy))
         |      THEN 1 ELSE 0 END END) = 0 AS visible
         |FROM probes p LEFT JOIN dsm b ON b.gx = p.px AND b.gy = p.py
         |GROUP BY p.gx, p.gy, p.v
         |ORDER BY p.gx, p.gy""".stripMargin) { (s, dir) =>
      graft.grid.Viewshed.fromLowest(dsm10(s, dir), hObs)
        .orderBy(col("gx"), col("gy"))
    }
  }

  /** Bounded-radius chamfer-10/14 distance to the nearest high peak
    * ([[graft.grid.DistanceTransform]]): every occupied cell within
    * chamfer 60 of a v >= 60000 cell gets its exact integer distance;
    * void cells are obstacles. The engine is active-frontier
    * Bellman-Ford (O(frontier) work per round, <= radius/10 rounds);
    * the dual enumerates every <= radius chamfer path with a bounded
    * recursive CTE and takes the per-cell min — terminating by the
    * same radius contract. */
  val q_chamfer_dist: QueryDef = {
    val srcV = 60000L
    val radius = 60L
    QueryDef.sqlChecked(
      "q_chamfer_dist",
      s"""WITH RECURSIVE ${Gridding.splatCte(spec)},
         |dsm AS MATERIALIZED (SELECT gx, gy, max(qz) AS v
         |  FROM splat GROUP BY gx, gy),
         |src AS (SELECT gx, gy FROM dsm WHERE v >= $srcV),
         |ow AS (SELECT * FROM (VALUES (-1,-1,14), (-1,0,10), (-1,1,14),
         |  (0,-1,10), (0,1,10), (1,-1,14), (1,0,10), (1,1,14)) t(dx, dy, w)),
         |walk(gx, gy, d) AS (
         |  SELECT gx, gy, CAST(0 AS BIGINT) FROM src
         |  UNION
         |  SELECT n.gx, n.gy, w.d + o.w FROM walk w CROSS JOIN ow o
         |  JOIN dsm n ON n.gx = w.gx + o.dx AND n.gy = w.gy + o.dy
         |  WHERE w.d + o.w <= $radius)
         |SELECT gx, gy, min(d) AS d FROM walk
         |GROUP BY gx, gy ORDER BY gx, gy""".stripMargin) { (s, dir) =>
      val dsm = dsm10(s, dir)
      graft.grid.DistanceTransform.chamferWithin(
        dsm, dsm.filter(col("v") >= srcV), radius)
        .orderBy(col("gx"), col("gy"))
    }
  }

  val all: Seq[QueryDef] =
    Seq(q_edge_filter, q_slope_horn, q_aspect_d8, q_flow_basin,
      q_flow_length, q_flow_accum, q_basin_stats, q_curvature,
      q_ruggedness, q_morph_open,
      q_mask_open, q_fill_voids, q_fill_pyramid, q_well_filter,
      q_spike_filter, q_tree_filter, q_viewshed, q_chamfer_dist,
      q_idw_fill)

  /** IDW void interpolation ([[graft.grid.IdwFill]]): every in-bounds
    * empty cell within Chebyshev radius 3 of data takes the fixed-point
    * 1/d²-weighted mean of its occupied neighbors — num, den, and the
    * `num div den` value all exact BIGINTs because the weights are the
    * shared integer quantization `2^20 div d²`. The engine splats
    * contributions outward from data (48× occupied cells, one hash
    * agg, anti-join to find voids); the dual gathers inward per target
    * with the identical VALUES weight table. */
  lazy val q_idw_fill: QueryDef = QueryDef.sqlChecked(
    "q_idw_fill",
    s"""WITH ${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |offs(dx, dy, w) AS (VALUES ${graft.grid.IdwFill.offsetsSql(3)}),
       |sp AS (SELECT d.gx + o.dx AS gx, d.gy + o.dy AS gy,
       |    d.v * o.w AS vw, o.w AS w
       |  FROM dsm d CROSS JOIN offs o
       |  WHERE d.gx + o.dx BETWEEN 0 AND ${w - 1}
       |    AND d.gy + o.dy BETWEEN 0 AND ${h - 1}),
       |agg AS (SELECT gx, gy, CAST(sum(vw) AS BIGINT) AS num,
       |    CAST(sum(w) AS BIGINT) AS den, CAST(count(*) AS BIGINT) AS n_src
       |  FROM sp GROUP BY 1, 2)
       |SELECT a.gx, a.gy, num // den AS v, n_src
       |FROM agg a LEFT JOIN dsm d ON d.gx = a.gx AND d.gy = a.gy
       |WHERE d.gx IS NULL ORDER BY a.gx, a.gy""".stripMargin) { (s, dir) =>
    graft.grid.IdwFill.fill(dsm10(s, dir), bounds, radius = 3)
      .orderBy(col("gx"), col("gy"))
  }
}
