package graft

import graft.core.Quant
import graft.grid.Gridding
import graft.stencil.DenseGrid
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[DenseGrid.accumulate]] against the aggregates it replaces below the
  * dense gate: `Gridding.dsm` / `minGrid` with the 2x2 splat, and the
  * per-cell max of `Align3d.prepGrid` without it; and the gate's session
  * setting. */
class DenseGridSpec extends SparkSpec {

  private val spec = Gridding.GridSpec(lon0 = 0.0, lat0 = 0.0, gsd = 1.0)
  private val bounds = Bounds(24, 20)

  /** Points on [0, 22) x [0, 18) in 7 pinned partitions: ~7 per base cell, 400
    * more in base cell (5, 7), one return at the bottom of the
    * quantization range (its cells hold `v = 0` in the MIN grid) and
    * null-z rows, some of them in the crowded cell. */
  private lazy val pts: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    def z = Option(0.2 + rnd.nextDouble() * 15)
    val scatter = Seq.fill(3000)((rnd.nextDouble() * 22, rnd.nextDouble() * 18, z))
    val crowded = Seq.fill(400)((5 + rnd.nextDouble(), 7 + rnd.nextDouble(), z))
    val nulls = Seq.fill(40)((rnd.nextDouble() * 22, rnd.nextDouble() * 18, Option.empty[Double])) ++
      Seq.fill(10)((5 + rnd.nextDouble(), 7 + rnd.nextDouble(), Option.empty[Double]))
    (scatter ++ crowded ++ Seq((20.5, 1.5, Some(Quant.Offset))) ++ nulls)
      .toDF("lon", "lat", "z").repartition(7).localCheckpoint()
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("gx", "gy", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq

  test("accumulate with the splat == Gridding.dsm and Gridding.minGrid, row for row") {
    assert(pts.rdd.getNumPartitions == 7)
    val gridded = Gridding.points(pts, spec)
    assert(gridded.filter(col("qz").isNull).count() == 50)
    for ((pick, name, want) <- Seq[((Long, Long) => Long, String, DataFrame)](
           (math.max, "dsm", Gridding.dsm(gridded)), (math.min, "minGrid", Gridding.minGrid(gridded)))) {
      val got = DenseGrid.accumulate(gridded, bounds, pick, splat = true)
      // a cell whose every point has a null z gets a null aggregate;
      // accumulate leaves it absent
      assert(rows(got) == rows(want.filter(col("v").isNotNull)), name)
      assert(!got.queryExecution.executedPlan.toString.contains("Exchange"), s"$name shuffles")
    }
    val min = rows(DenseGrid.accumulate(gridded, bounds, math.min, splat = true))
    assert(min.count(_._3 == 0L) == 4, "the zero return splats to four present v = 0 cells")
  }

  test("accumulate without the splat == the per-cell max aggregate of prepGrid") {
    val base = Gridding.points(pts, spec)
      .filter(col("bx") >= 0 && col("bx") < bounds.w && col("by") >= 0 && col("by") < bounds.h)
    val want = base.groupBy(col("bx").as("gx"), col("by").as("gy")).agg(max("qz").as("v"))
      .filter(col("v").isNotNull)
    val got = rows(DenseGrid.accumulate(base, bounds, math.max, splat = false))
    assert(got.nonEmpty && got == rows(want))
  }

  test("a splatted cell outside the lattice raises the dense task's error") {
    import spark.implicits._
    // base cell (23, 4) splats into column 24 of a 24-wide lattice
    val edge = Gridding.points(Seq((23.5, 4.5, 3.0), (2.5, 2.5, 1.0)).toDF("lon", "lat", "z"), spec)
    val e = intercept[Exception](DenseGrid.accumulate(edge, bounds, math.max, splat = true).collect())
    assert(e.getMessage.contains("cell (24, 4) outside the 24x20 raster"), e.getMessage)
    // without the splat the same point stays inside
    assert(rows(DenseGrid.accumulate(edge, bounds, math.max, splat = false)).size == 2)
  }

  test("a dense gate setting that is not a non-negative integer is refused, naming its key") {
    import spark.implicits._
    val key = "spark.graft.denseThreshold"
    val cells = Seq((0L, 0L, 5)).toDF("gx", "gy", "v")
    for (bad <- Seq("many", "-1", "1.5", "")) withConf(key, bad) {
      val e = intercept[IllegalArgumentException](graft.pyramid.FillVoids(cells, Bounds(2, 2)))
      assert(e.getMessage.contains(key), e.getMessage)
    }
  }
}
