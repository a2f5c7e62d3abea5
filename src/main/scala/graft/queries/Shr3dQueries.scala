package graft.queries

import graft.api.Shr3d
import graft.core.{Geo, Tables}
import graft.grid.Gridding
import org.apache.spark.sql.functions._

/** The full SHR3D product pipeline over the geocoded doc cloud on the
  * coarse grid (rows-only: the composed semantics are covered by
  * Shr3dSpec + the per-operator SQL oracles upstream). */
object Shr3dQueries {

  private def products(s: org.apache.spark.sql.SparkSession, dir: String) =
    Shr3d.run(s,
      Geo.withGeo(Tables.documents(s, dir)).select("lon", "lat", "z"),
      Shr3d.Config(spec = Gridding.GridSpec(gsd = 10.0), tileSize = 16,
        aglMeters = 6.0, minRegionCells = 2,
        // the doc cloud's building cells are scatter, not solid masks —
        // W15 opening would (correctly) erase them all
        openLabels = false))

  /** Fixed side-table root for the staged-input oracle below. */
  final val SideRoot = SideTables.root("shr3d_side")

  /** W16/J3 per-cell classification, bit-exact over STAGED inputs: the
    * facade's dsm/dtm/dsm2 products are dumped to parquet side-tables
    * (the DTM itself is the iterative loop pinned by DtmSpec's dense
    * oracle + golden parquet — no SQL dual exists for it), and the
    * DuckDB dual replays the cross-grid when/otherwise classification
    * over the same bytes. */
  val q_shr3d_class: QueryDef = {
    // aglRaw at the query's config: aglMeters 6.0 at the standard fit
    val aglRaw = math.max(1,
      math.floor(6.0 / graft.core.Quant.Scale).toInt)
    QueryDef.sqlChecked(
      "q_shr3d_class",
      s"""WITH dsm AS (SELECT * FROM '$SideRoot/dsm/*.parquet'),
         |dtm AS (SELECT * FROM '$SideRoot/dtm/*.parquet'),
         |var2 AS (SELECT * FROM '$SideRoot/dsm2/*.parquet')
         |SELECT d.gx, d.gy,
         |  CASE WHEN (d.v - COALESCE(t.v, d.v)) > $aglRaw AND v2.v IS NOT NULL THEN 6
         |       WHEN (d.v - COALESCE(t.v, d.v)) > $aglRaw THEN 5
         |       ELSE 2 END AS cls
         |FROM dsm d
         |LEFT JOIN dtm t ON t.gx = d.gx AND t.gy = d.gy
         |LEFT JOIN var2 v2 ON v2.gx = d.gx AND v2.gy = d.gy
         |ORDER BY d.gx, d.gy""".stripMargin) { (s, dir) =>
      val p = products(s, dir)
      SideTables.stage(p.dsm, s"$SideRoot/dsm")
      SideTables.stage(p.dtm, s"$SideRoot/dtm")
      SideTables.stage(p.dsm2, s"$SideRoot/dsm2")
      p.classification.orderBy(col("gx"), col("gy"))
    }
  }

  val q_shr3d_outlines: QueryDef = QueryDef.rowsOnly("q_shr3d_outlines") { (s, dir) =>
    products(s, dir).outlines.orderBy(col("label"))
  }

  /** V1 cover oracle for the engine's edge-trace outlines: a structured
    * multi-component mask (gsd-5 DSM > 30000: ~29 irregular components
    * up to ~70 cells at sf0.01) is CCL-labeled (itself oracle-checked
    * by q_cc_labels) and staged to parquet; the engine traces every
    * label's outline and burns it BACK onto the lattice
    * (Rasterize∘Vectorize), and the per-label covered-cell counts must
    * equal DuckDB counting the staged labels directly — i.e. each
    * traced polygon (shell minus holes) covers exactly its component's
    * cells, bit-exactly, label by label. The WKT itself stays on the
    * driver surface via ☆ q_shr3d_outlines / ★ q_outlines_ref. */
  val q_outlines_cover: QueryDef = QueryDef.sqlChecked(
    "q_outlines_cover",
    s"""WITH lbl AS (SELECT * FROM '$SideRoot/covlabels/*.parquet')
       |SELECT label, count(*) AS n_cells FROM lbl
       |GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
    import graft.cc.ConnectedComponents
    import graft.stencil.TileStencil.Bounds
    val spec5 = Gridding.GridSpec(gsd = 5.0)
    val (w, h) = Gridding.boundsFor(spec5)
    val dsm = Gridding.dsm(Gridding.points(
      Geo.withGeo(Tables.documents(s, dir)), spec5))
    val mask = dsm.filter(col("v") > 30000)
      .select(col("gx"), col("gy"), lit(1).as("v"))
    val staged = SideTables.stage(
      ConnectedComponents.label(mask, Bounds(w, h), 16).select("gx", "gy", "label"),
      s"$SideRoot/covlabels")
    // keep every ring (minArea 0) so cover equality is exact
    val polys = graft.vector.Vectorize.outlines(staged, minArea = 0.0)
      .filter(col("wkt").isNotNull)
      .select("label", "wkt").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    graft.vector.Rasterize(s, polys)
      .groupBy(col("id").as("label")).agg(count(lit(1)).as("n_cells"))
      .orderBy(col("label"))
  }

  /** The reference DTM (5-iteration classifyGround loop + mirror/median
    * + final fill), STAGED-input bit-exact: the loop's raw output and
    * the small-void-filled MIN it mirrors (both pinned by DtmSpec's
    * dense oracle + the golden parquet — no SQL dual exists for the
    * iterative loop itself) are dumped to parquet side-tables, and the
    * DuckDB dual replays everything downstream over the same bytes:
    * void mirror (left-semi), the 3x3 dz-median (shr3d.cpp:282-293),
    * and createDTM's trailing noSmoothing fillVoidsPyramid(maxLevel=2)
    * (shr3d.cpp:316). */
  val q_shr3d_dtm: QueryDef = {
    val dzRaw = math.max(1, math.floor(0.5 / graft.core.Quant.Scale).toInt)
    // gsd=10 lattice (38, 19) and its two pyramid levels
    val dims = Seq((38, 19), (19, 9), (9, 4))
    def coarsenCte(src: String, out: String, k: Int): String = {
      val (cw, ch) = dims(k)
      s"""$out AS (SELECT j AS gx, i AS gy,
         |  CAST(floor(sum(v) / count(*)) AS INT) AS v FROM (
         |    SELECT gx, gy, v, (gx - 1) // 2 AS j, (gy - 1) // 2 AS i FROM $src
         |    UNION SELECT gx, gy, v, (gx - 1) // 2, gy // 2 FROM $src
         |    UNION SELECT gx, gy, v, gx // 2, (gy - 1) // 2 FROM $src
         |    UNION SELECT gx, gy, v, gx // 2, gy // 2 FROM $src)
         |  WHERE j >= 0 AND j < $cw AND i >= 0 AND i < $ch
         |  GROUP BY j, i)""".stripMargin
    }
    def fillCte(src: String, parent: String, out: String, k: Int): String = {
      val (lw, lh) = dims(k)
      s"""$out AS (
         |  SELECT gx, gy, v FROM $src
         |  UNION ALL
         |  SELECT l.gx, l.gy, p.v
         |  FROM (SELECT x.range AS gx, y.range AS gy
         |        FROM range(0, $lw) x, range(0, $lh) y) l
         |  LEFT JOIN $src s ON s.gx = l.gx AND s.gy = l.gy
         |  JOIN $parent p ON p.gx = l.gx // 2 AND p.gy = l.gy // 2
         |  WHERE s.v IS NULL)""".stripMargin
    }
    QueryDef.sqlChecked(
      "q_shr3d_dtm",
      s"""WITH loopdtm AS (SELECT * FROM '$SideRoot/loopdtm/*.parquet'),
         |min2 AS (SELECT * FROM '$SideRoot/min2/*.parquet'),
         |mirrored AS (SELECT l.gx, l.gy, l.v
         |  FROM loopdtm l JOIN min2 m ON l.gx = m.gx AND l.gy = m.gy),
         |nb AS (SELECT a.gx, a.gy, a.v, b.v AS nv
         |  FROM mirrored a JOIN mirrored b
         |  ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1),
         |agg AS (SELECT gx, gy, v,
         |  list_sort(list(nv))[CAST(count(*) // 2 AS INT) + 1] AS qv
         |  FROM nb GROUP BY gx, gy, v),
         |med AS (SELECT gx, gy,
         |  CAST(CASE WHEN abs(qv - v) > $dzRaw THEN qv ELSE v END AS INT) AS v
         |  FROM agg),
         |${coarsenCte("med", "c1", 1)},
         |${coarsenCte("c1", "c2", 2)},
         |${fillCte("c1", "c2", "f1", 1)},
         |${fillCte("med", "f1", "f0", 0)}
         |SELECT gx, gy, CAST(v AS BIGINT) AS v FROM f0
         |ORDER BY gx, gy""".stripMargin) { (s, dir) =>
      val p = products(s, dir)
      SideTables.stage(p.min2, s"$SideRoot/min2")
      SideTables.stage(p.classifyGroundResult.dtm, s"$SideRoot/loopdtm")
      p.dtm.orderBy(col("gx"), col("gy"))
    }
  }

  /** V3 buildingSimplify outlines (findCorners -> addMissingPoints ->
    * improvePoints least-squares refit -> vwReduce) over the opened
    * high-cell mask. Rows-only: the pipeline's exact geometry is pinned
    * by VectorStressSpec's rectilinear exact-WKT fixpoint tests. */
  val q_outlines_v3: QueryDef = QueryDef.rowsOnly("q_outlines_v3") { (s, dir) =>
    import graft.cc.ConnectedComponents
    import graft.grid.Gridding
    import graft.stencil.{Kernels, TileStencil}
    val spec10 = Gridding.GridSpec(gsd = 10.0)
    val (w, h) = Gridding.boundsFor(spec10)
    val bounds = TileStencil.Bounds(w, h)
    val dsm = Gridding.dsm(Gridding.points(
      Geo.withGeo(Tables.documents(s, dir)), spec10))
    val mask = dsm.filter(col("v") > 40000)
      .select(col("gx"), col("gy"), org.apache.spark.sql.functions.lit(1).as("v"))
    val packed = TileStencil(mask, Kernels.MaskErodePack(), bounds, 8)
    val opened = TileStencil(packed, Kernels.MaskOpenResolve(), bounds, 8)
    val labeled = ConnectedComponents.label(opened, bounds, 16)
    graft.vector.Vectorize.outlinesSimplified(labeled, scale = 4)
      .orderBy(col("label"))
  }

  /** V1 reference-EXACT boundary trace (RefTrace): fg/bg CCL with the
    * reference's scan-order numbering, radial-sweep pixel walk, hole
    * attachment — all bit-exact against a DuckDB dual that unrolls the
    * same semantics (recursive-CTE min-label closure for both CCL
    * passes, a recursive walk state machine stepping every ring in
    * lockstep, and string-built WKT in the same serialization). */
  val q_outlines_ref: QueryDef = {
    import graft.grid.Gridding
    import graft.stencil.TileStencil.Bounds
    val spec10 = Gridding.GridSpec(gsd = 10.0)
    val (w, h) = Gridding.boundsFor(spec10) // (38, 19)
    val sql =
      s"""WITH RECURSIVE ${Gridding.splatCte(spec10)},
         |g AS (SELECT gx, gy FROM (
         |  SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy) WHERE v > 50000),
         |freach(gx, gy, l) AS (
         |  SELECT gx, gy, gy * $w + gx FROM g
         |  UNION
         |  SELECT n.gx, n.gy, r.l FROM freach r
         |  JOIN g n ON abs(n.gx - r.gx) <= 1 AND abs(n.gy - r.gy) <= 1
         |    AND r.l < n.gy * $w + n.gx),
         |flbl AS MATERIALIZED (SELECT gx, gy, min(l) AS lbl FROM freach GROUP BY gx, gy),
         |ffirst AS (SELECT lbl, min(gy * $w + gx) AS cid, count(*) AS n_fg
         |  FROM flbl GROUP BY lbl),
         |fref AS MATERIALIZED (SELECT lbl, row_number() OVER (ORDER BY cid) AS ref, n_fg FROM ffirst),
         |lattice AS (SELECT x.range AS gx, y.range AS gy
         |  FROM range(0, $w) x CROSS JOIN range(0, $h) y),
         |bg AS (SELECT gx, gy FROM lattice t WHERE NOT EXISTS (
         |  SELECT 1 FROM g WHERE g.gx = t.gx AND g.gy = t.gy)),
         |breach(gx, gy, l) AS (
         |  SELECT gx, gy, gy * $w + gx FROM bg
         |  UNION
         |  SELECT n.gx, n.gy, r.l FROM breach r
         |  JOIN bg n ON abs(n.gx - r.gx) + abs(n.gy - r.gy) = 1
         |    AND r.l < n.gy * $w + n.gx),
         |blbl AS MATERIALIZED (SELECT gx, gy, min(l) AS lbl FROM breach GROUP BY gx, gy),
         |hole AS MATERIALIZED (SELECT * FROM blbl t WHERE NOT EXISTS (
         |  SELECT 1 FROM blbl e WHERE e.lbl = t.lbl AND
         |    (e.gx = 0 OR e.gx = ${w - 1} OR e.gy = 0 OR e.gy = ${h - 1}))),
         |hfirst AS MATERIALIZED (SELECT lbl, min(gy * $w + gx) AS cid FROM hole GROUP BY lbl),
         |hrank AS MATERIALIZED (SELECT lbl, cid, row_number() OVER (ORDER BY cid) AS hrank FROM hfirst),
         |howner AS MATERIALIZED (SELECT hr.lbl AS hlbl, hr.hrank, fr.ref
         |  FROM hrank hr
         |  JOIN flbl f ON f.gx = hr.cid % $w AND f.gy = (hr.cid // $w) - 1
         |  JOIN fref fr ON fr.lbl = f.lbl),
         |cells AS MATERIALIZED (
         |  SELECT fr.ref, 0 AS ring, f.gx, f.gy
         |  FROM flbl f JOIN fref fr ON fr.lbl = f.lbl
         |  UNION ALL
         |  SELECT o.ref, o.hrank AS ring, hl.gx, hl.gy
         |  FROM hole hl JOIN howner o ON o.hlbl = hl.lbl),
         |starts AS MATERIALIZED (SELECT ref, ring,
         |  CASE WHEN ring = 0 THEN 1 ELSE 2 END AS stride,
         |  min(gy * $w + gx) // $w AS sr, min(gy * $w + gx) % $w AS sc
         |  FROM cells GROUP BY ref, ring),
         |dirs(d, dj, di) AS (VALUES (0, 1, 0), (1, 1, -1), (2, 0, -1), (3, -1, -1),
         |  (4, -1, 0), (5, -1, 1), (6, 0, 1), (7, 1, 1)),
         |cand AS (SELECT c.ref, c.ring, c.gy AS m, c.gx AS n, ld.range AS last_dir,
         |    k.range AS k, (ld.range + 6 + st.stride * k.range) % 8 AS d
         |  FROM cells c JOIN starts st USING (ref, ring)
         |  CROSS JOIN range(0, 8) ld CROSS JOIN range(0, 6) k
         |  WHERE k.range < CASE WHEN st.stride = 1 THEN 6 ELSE 3 END),
         |hits AS (SELECT ca.ref, ca.ring, ca.m, ca.n, ca.last_dir, ca.k, ca.d
         |  FROM cand ca JOIN dirs dd ON dd.d = ca.d
         |  JOIN cells c2 ON c2.ref = ca.ref AND c2.ring = ca.ring
         |    AND c2.gy = ca.m + dd.dj AND c2.gx = ca.n + dd.di),
         |trans AS MATERIALIZED (SELECT s.ref, s.ring, s.m, s.n, s.last_dir,
         |    COALESCE(arg_min(h.d, h.k), (s.last_dir + 4) % 8) AS nd
         |  FROM (SELECT DISTINCT ref, ring, m, n, last_dir FROM cand) s
         |  LEFT JOIN hits h ON h.ref = s.ref AND h.ring = s.ring
         |    AND h.m = s.m AND h.n = s.n AND h.last_dir = s.last_dir
         |  GROUP BY s.ref, s.ring, s.m, s.n, s.last_dir),
         |walk(ref, ring, sr, sc, m, n, last_dir, first_dir, nd, seq) AS (
         |  SELECT s.ref, s.ring, s.sr, s.sc, s.sr, s.sc, 0, -1, t.nd, 0
         |  FROM starts s JOIN trans t ON t.ref = s.ref AND t.ring = s.ring
         |    AND t.m = s.sr AND t.n = s.sc AND t.last_dir = 0
         |  UNION ALL
         |  SELECT w.ref, w.ring, w.sr, w.sc,
         |    w.m + mv.dj, w.n + mv.di, w.nd,
         |    CASE WHEN w.first_dir = -1 THEN w.nd ELSE w.first_dir END,
         |    t.nd, w.seq + 1
         |  FROM walk w JOIN dirs mv ON mv.d = w.nd
         |  JOIN trans t ON t.ref = w.ref AND t.ring = w.ring
         |    AND t.m = w.m + mv.dj AND t.n = w.n + mv.di AND t.last_dir = w.nd
         |  WHERE NOT (w.nd = (w.last_dir + 4) % 8 AND w.seq = 0)
         |    AND NOT (w.m = w.sr AND w.n = w.sc AND w.nd = w.first_dir AND w.seq > 0)),
         |verts AS (SELECT ref, ring, seq, n AS x, m AS y FROM walk
         |  WHERE NOT (m = sr AND n = sc AND nd = first_dir AND seq > 0)),
         |ringstr AS (SELECT ref, ring,
         |  '(' || string_agg(x || ' ' || y, ', ' ORDER BY seq) || ', ' ||
         |    arg_min(x, seq) || ' ' || arg_min(y, seq) || ')' AS rs
         |  FROM verts GROUP BY ref, ring),
         |polys AS (SELECT ref,
         |  'POLYGON (' || string_agg(rs, ', '
         |    ORDER BY CASE WHEN ring = 0 THEN 0 ELSE 1 END, ring DESC) || ')' AS wkt
         |  FROM ringstr GROUP BY ref)
         |SELECT p.ref AS label, fr.n_fg AS n_cells, p.wkt
         |FROM polys p JOIN fref fr ON fr.ref = p.ref
         |ORDER BY label""".stripMargin
    QueryDef.sqlChecked("q_outlines_ref", sql) { (s, dir) =>
      import graft.stencil.TileStencil.Bounds
      val dsm = Gridding.dsm(Gridding.points(
        Geo.withGeo(Tables.documents(s, dir)), spec10))
      val mask = dsm.filter(col("v") > 50000).select("gx", "gy")
      graft.vector.RefTrace.refOutlines(mask, Bounds(w, h), tileSize = 16)
        .orderBy(col("label"))
    }
  }

  val all: Seq[QueryDef] =
    Seq(q_shr3d_class, q_shr3d_outlines, q_outlines_cover, q_outlines_v3,
      q_outlines_ref, q_shr3d_dtm)
}
