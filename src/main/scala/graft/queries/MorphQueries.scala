package graft.queries

import graft.cc.FillEnclosed
import graft.core.{Geo, Tables}
import graft.grid.Gridding
import graft.stencil.{Kernels, TileStencil}
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.functions._

/** Classification-morphology pack: W10 majority filter, W13 boundary
  * gradient, G3 enclosed-region fill — each vs a structurally different
  * DuckDB oracle. */
object MorphQueries {

  import Grid10.{bounds, dsm10, h, offsets8, spec, w}
  private val BldgT = 35000L

  /** W10: ground cells with a building majority in their in-bounds
    * neighborhood flip to building. */
  val q_majority_filter: QueryDef = QueryDef.sqlChecked(
    "q_majority_filter",
    s"""WITH ${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |cls AS (SELECT gx, gy, CASE WHEN v > $BldgT THEN 6 ELSE 2 END AS c FROM dsm),
       |nb AS (SELECT d.gx, d.gy, d.c,
       |  (least(d.gx + 1, ${w - 1}) - greatest(d.gx - 1, 0) + 1)
       |    * (least(d.gy + 1, ${h - 1}) - greatest(d.gy - 1, 0) + 1) - 1 AS positions,
       |  count(n.gx) FILTER (WHERE n.c = 6) AS nbldg
       |  FROM cls d CROSS JOIN $offsets8
       |  LEFT JOIN cls n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
       |  GROUP BY d.gx, d.gy, d.c)
       |SELECT gx, gy,
       |  CASE WHEN c = 2 AND 2 * nbldg >= positions THEN 6 ELSE c END AS v
       |FROM nb ORDER BY gx, gy""".stripMargin) { (s, dir) =>
    val cls = dsm10(s, dir)
      .select(col("gx"), col("gy"),
        when(col("v") > BldgT, lit(6)).otherwise(lit(2)).as("v"))
    TileStencil(cls, Kernels.MajorityFilter(6), bounds, tileSize = 8)
      .orderBy(col("gx"), col("gy"))
  }

  /** W13: slope-corrected boundary steps at strides 1 and 2. */
  val q_boundary_gradient: QueryDef = QueryDef.sqlChecked(
    "q_boundary_gradient",
    s"""WITH ${Gridding.splatCte(spec)},
       |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy)
       |SELECT d.gx, d.gy, 1 AS v FROM dsm d WHERE EXISTS (
       |  SELECT 1 FROM $offsets8
       |  JOIN dsm n1 ON n1.gx = d.gx + o.dx AND n1.gy = d.gy + o.dy
       |  JOIN dsm n2 ON n2.gx = d.gx + 2 * o.dx AND n2.gy = d.gy + 2 * o.dy
       |  WHERE d.gx + 2 * o.dx BETWEEN 0 AND ${w - 1}
       |    AND d.gy + 2 * o.dy BETWEEN 0 AND ${h - 1}
       |    AND (d.v - n1.v) - (n1.v - n2.v) > 3000)
       |ORDER BY gx, gy""".stripMargin) { (s, dir) =>
    TileStencil(dsm10(s, dir), Kernels.BoundaryGradient(3000, 1), bounds, tileSize = 8)
      .orderBy(col("gx"), col("gy"))
  }

  /** G3: ground components fully enclosed by building cells flip. Runs
    * on the fine world grid restricted to doc_id < 150 so the recursive
    * CTE oracle stays small; the engine side runs the full distributed
    * CCL + joins. */
  val q_fill_enclosed: QueryDef = {
    val (fw, _) = Gridding.boundsFor(Gridding.WorldGrid)
    QueryDef.sqlChecked(
      "q_fill_enclosed",
      s"""WITH RECURSIVE ${Gridding.splatCte},
         |g AS (SELECT gx, gy, max(qz) AS v FROM
         |  (SELECT * FROM splat WHERE doc_id < 150) s GROUP BY gx, gy),
         |cls AS (SELECT gx, gy, CASE WHEN v > 30000 THEN 6 ELSE 2 END AS c FROM g),
         |t AS (SELECT gx, gy FROM cls WHERE c = 2),
         |reach(gx, gy, l) AS (
         |  SELECT gx, gy, gy * $fw + gx FROM t
         |  UNION
         |  SELECT n.gx, n.gy, r.l FROM reach r
         |  JOIN t n ON abs(n.gx - r.gx) <= 1 AND abs(n.gy - r.gy) <= 1
         |    AND r.l < n.gy * $fw + n.gx),
         |lbl AS (SELECT gx, gy, min(l) AS label FROM reach GROUP BY gx, gy),
         |ext AS (SELECT l.label,
         |    CASE WHEN c2.c = 2 THEN NULL WHEN c2.c = 6 THEN 1 ELSE 0 END AS ok
         |  FROM lbl l CROSS JOIN $offsets8
         |  LEFT JOIN cls c2 ON c2.gx = l.gx + o.dx AND c2.gy = l.gy + o.dy),
         |encl AS (SELECT label FROM ext GROUP BY label HAVING min(ok) = 1)
         |SELECT c.gx, c.gy,
         |  CASE WHEN e.label IS NOT NULL THEN 6 ELSE c.c END AS cls
         |FROM cls c LEFT JOIN lbl ON lbl.gx = c.gx AND lbl.gy = c.gy
         |LEFT JOIN encl e ON e.label = lbl.label
         |ORDER BY c.gx, c.gy""".stripMargin) { (s, dir) =>
      val dsm = Gridding.dsm(Gridding.points(
        Geo.withGeo(Tables.documents(s, dir).filter(col("doc_id") < 150))))
      val cls = dsm.select(col("gx"), col("gy"),
        when(col("v") > 30000L, lit(6)).otherwise(lit(2)).as("cls"))
      FillEnclosed(cls, target = 2, fill = 6,
          Bounds(Gridding.boundsFor(Gridding.WorldGrid)._1,
            Gridding.boundsFor(Gridding.WorldGrid)._2), tileSize = 16)
        .orderBy(col("gx"), col("gy"))
    }
  }

  /** W9 class-edge fill, 5 iterations: tree cells adjacent to a
    * building at similar height flip to building; the flip can cascade
    * one ring per iteration. Engine runs the packed-value kernel; the
    * oracle chains five explicit self-join rounds. */
  val q_class_edge_fill: QueryDef = {
    val dz = 8000
    def roundSql(k: Int): String =
      s"""c$k AS (SELECT gx, gy, v,
         |  CASE WHEN cls = 5 AND nb > 0 THEN 6 ELSE cls END AS cls FROM (
         |  SELECT d.gx, d.gy, d.v, d.cls,
         |    count(n.gx) FILTER (WHERE n.cls = 6 AND abs(n.v - d.v) <= $dz) AS nb
         |  FROM c${k - 1} d CROSS JOIN $offsets8
         |  LEFT JOIN c${k - 1} n ON n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
         |  GROUP BY d.gx, d.gy, d.v, d.cls) t$k)""".stripMargin
    QueryDef.sqlChecked(
      "q_class_edge_fill",
      s"""WITH ${Gridding.splatCte(spec)},
         |dsm AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
         |c0 AS (SELECT gx, gy, v,
         |  CASE WHEN v > 45000 THEN 6 WHEN v > 20000 THEN 5 ELSE 2 END AS cls FROM dsm),
         |${(1 to 5).map(roundSql).mkString(",\n")}
         |SELECT gx, gy, cls FROM c5 ORDER BY gx, gy""".stripMargin) { (s, dir) =>
      val packed = dsm10(s, dir).select(col("gx"), col("gy"),
        (when(col("v") > 45000L, lit(6)).when(col("v") > 20000L, lit(5))
          .otherwise(lit(2)) * lit(131072) + col("v")).cast("int").as("v"))
      val out = (1 to 5).foldLeft(packed) { (df, _) =>
        TileStencil(df, Kernels.ClassEdgeFill(dz, 1, tree = 5, bldg = 6),
          bounds, tileSize = 8)
      }
      out.select(col("gx"), col("gy"),
        shiftrightunsigned(col("v").cast("long"), 17).cast("int").as("cls"))
        .orderBy(col("gx"), col("gy"))
    }
  }

  /** Composed classifyGround object detection, end-to-end bit-exact:
    * W13 boundary-gradient seeds -> 3 rounds of W14 mark/resolve
    * relaxation -> G2 dz-constrained canonical components (the 40000-cell
    * cap never binds at oracle SF, so the chunk crop is a no-op on both
    * sides) -> min-size filter -> G5 row∩column scanline fill. The dual
    * chains the EXISTS-stencil, per-round CASE, recursive-CTE CCL, and
    * span-fill patterns proven by the piecewise oracles upstream. */
  val q_ground_objects: QueryDef = {
    val dz = 3000
    def markSql(src: String, out: String): String =
      s"""$out AS MATERIALIZED (SELECT e.gx, e.gy, e.v,
         |  CASE WHEN e.lbl = 0 AND EXISTS (
         |    SELECT 1 FROM $offsets8
         |    JOIN $src n ON n.gx = e.gx + o.dx AND n.gy = e.gy + o.dy
         |    WHERE n.lbl = 1 AND abs(n.v - e.v) <= $dz) THEN 2 ELSE e.lbl END AS lbl
         |  FROM $src e)""".stripMargin
    def resolveSql(src: String, out: String): String =
      s"""$out AS MATERIALIZED (SELECT m.gx, m.gy, m.v,
         |  CASE WHEN m.lbl = 2 THEN (CASE WHEN EXISTS (
         |      SELECT 1 FROM $offsets8
         |      JOIN $src n ON n.gx = m.gx + o.dx AND n.gy = m.gy + o.dy
         |      WHERE m.v > n.v) THEN 1 ELSE 0 END)
         |    ELSE m.lbl END AS lbl
         |  FROM $src m)""".stripMargin
    QueryDef.sqlChecked(
      "q_ground_objects",
      s"""WITH RECURSIVE ${Gridding.splatCte(spec)},
         |dsm AS MATERIALIZED (SELECT gx, gy, CAST(max(qz) AS INT) AS v FROM splat GROUP BY gx, gy),
         |e0 AS MATERIALIZED (SELECT d.gx, d.gy, d.v,
         |  CASE WHEN EXISTS (
         |    SELECT 1 FROM $offsets8
         |    JOIN dsm n1 ON n1.gx = d.gx + o.dx AND n1.gy = d.gy + o.dy
         |    JOIN dsm n2 ON n2.gx = d.gx + 2 * o.dx AND n2.gy = d.gy + 2 * o.dy
         |    WHERE d.gx + 2 * o.dx BETWEEN 0 AND ${w - 1}
         |      AND d.gy + 2 * o.dy BETWEEN 0 AND ${h - 1}
         |      AND (d.v - n1.v) - (n1.v - n2.v) > $dz) THEN 1 ELSE 0 END AS lbl
         |  FROM dsm d),
         |${markSql("e0", "m1")}, ${resolveSql("m1", "e1")},
         |${markSql("e1", "m2")}, ${resolveSql("m2", "e2")},
         |${markSql("e2", "m3")}, ${resolveSql("m3", "e3")},
         |t AS MATERIALIZED (SELECT gx, gy, v FROM e3 WHERE lbl = 1),
         |reach(gx, gy, l) AS (
         |  SELECT gx, gy, gy * $w + gx FROM t
         |  UNION
         |  SELECT n.gx, n.gy, r.l FROM reach r
         |  JOIN t c ON c.gx = r.gx AND c.gy = r.gy
         |  JOIN t n ON abs(n.gx - r.gx) <= 1 AND abs(n.gy - r.gy) <= 1
         |    AND abs(n.v - c.v) <= $dz
         |    AND r.l < n.gy * $w + n.gx),
         |lbl AS (SELECT gx, gy, min(l) AS label FROM reach GROUP BY gx, gy),
         |sized AS (SELECT label FROM lbl GROUP BY label HAVING count(*) >= 2),
         |kept AS MATERIALIZED (SELECT l.gx, l.gy, l.label FROM lbl l JOIN sized s USING (label)),
         |rowspan AS (SELECT label, gy, min(gx) AS lo, max(gx) AS hi
         |  FROM kept GROUP BY label, gy),
         |rowground AS (SELECT r.label, r.gy, min(d.v) AS g
         |  FROM rowspan r
         |  JOIN dsm d ON d.gy = r.gy AND (d.gx = r.lo - 1 OR d.gx = r.hi + 1)
         |  LEFT JOIN kept k ON k.gx = d.gx AND k.gy = d.gy AND k.label = r.label
         |  WHERE k.label IS NULL GROUP BY r.label, r.gy),
         |rowacc AS (SELECT r.label, d.gx, d.gy
         |  FROM rowspan r
         |  JOIN rowground rg ON rg.label = r.label AND rg.gy = r.gy
         |  JOIN dsm d ON d.gy = r.gy AND d.gx > r.lo AND d.gx < r.hi
         |  LEFT JOIN kept k ON k.gx = d.gx AND k.gy = d.gy AND k.label = r.label
         |  WHERE k.label IS NULL AND d.v > rg.g + $dz),
         |colspan AS (SELECT label, gx, min(gy) AS lo, max(gy) AS hi
         |  FROM kept GROUP BY label, gx),
         |colground AS (SELECT c.label, c.gx, min(d.v) AS g
         |  FROM colspan c
         |  JOIN dsm d ON d.gx = c.gx AND (d.gy = c.lo - 1 OR d.gy = c.hi + 1)
         |  LEFT JOIN kept k ON k.gx = d.gx AND k.gy = d.gy AND k.label = c.label
         |  WHERE k.label IS NULL GROUP BY c.label, c.gx),
         |colacc AS (SELECT c.label, d.gx, d.gy
         |  FROM colspan c
         |  JOIN colground cg ON cg.label = c.label AND cg.gx = c.gx
         |  JOIN dsm d ON d.gx = c.gx AND d.gy > c.lo AND d.gy < c.hi
         |  LEFT JOIN kept k ON k.gx = d.gx AND k.gy = d.gy AND k.label = c.label
         |  WHERE k.label IS NULL AND d.v > cg.g + $dz),
         |filled AS (SELECT r.label, r.gx, r.gy FROM rowacc r
         |  JOIN colacc c ON c.label = r.label AND c.gx = r.gx AND c.gy = r.gy)
         |SELECT gx, gy, label FROM kept
         |UNION ALL SELECT gx, gy, label FROM filled
         |ORDER BY gx, gy""".stripMargin) { (s, dir) =>
      graft.api.GroundObjects.detect(dsm10(s, dir), bounds,
          graft.api.GroundObjects.Config(tileSize = 8))
        .orderBy(col("gx"), col("gy"))
    }
  }

  val all: Seq[QueryDef] = Seq(q_majority_filter, q_boundary_gradient,
    q_fill_enclosed, q_class_edge_fill, q_ground_objects)
}
