package graft.pyramid

import graft.stencil.DenseGrid
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * fillVoidsPyramid (SURVEY.md §2.7 M1; pubgeo
 * `src/common/orthoimage.h:447-543`): build a coarsening pyramid while
 * voids remain, then fill voids top-down from the coarser levels.
 *
 * Re-specification over the sparse int cell table (this engine's frozen
 * spec, mirrored by the dense oracle in tests):
 *  - Coarse level k+1 has size (floor(w/2), floor(h/2)). Coarse cell
 *    (j, i) averages the non-void fine cells in the 3x3 block centered
 *    at (2j+1, 2i+1), clamped in-bounds; mean = floor(sum / count).
 *  - Fill-down for a void fine cell (x, y):
 *      noSmoothing: the single parent (x/2, y/2) value;
 *      smoothing: floor(sum(w*v) / sum(w)) over the non-void 3x3 parent
 *      block centered at (x/2, y/2) with weights center=4, cross=2,
 *      diagonal=1.
 *  - Cells whose entire parent block is void stay void (possible only
 *    when maxLevel stops the pyramid early).
 *
 * Spark shape: the up-phase is an A1-style splat (each fine cell feeds
 * <=4 coarse cells) + hash aggregate; the down-phase joins the level
 * lattice against its (tiny, broadcastable) parent level. Each level is
 * localCheckpoint'ed — the loop would otherwise stack ~log2(maxdim)
 * plan copies (SURVEY.md §7.4 risk 6).
 *
 * Strategy gate (like Spark's broadcast threshold): lattices within
 * `DenseGrid.fits` run the whole pyramid as ONE executor task
 * (`DenseGrid.fill`, the same spec over one in-memory raster) — one job
 * over a pinned input instead of ~3·log2(maxdim); bigger lattices take
 * the distributed path. The two are asserted equal in PyramidSpec.
 */
object FillVoids {

  final case class Cell(gx: Long, gy: Long, v: Int)

  private def asCells(df: DataFrame): Dataset[Cell] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("gx").cast("long"), col("gy").cast("long"),
      col("v").cast("int")).as[Cell]
  }

  /** One coarsening step: fine cells -> coarse means. */
  def coarsen(cells: Dataset[Cell], fine: Bounds): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val cw = fine.w / 2; val ch = fine.h / 2
    cells.flatMap { c =>
      // coarse j with |gx - (2j+1)| <= 1  <=>  j in {floor((gx-1)/2), floor(gx/2)}
      val js = Set(Math.floorDiv(c.gx - 1, 2), Math.floorDiv(c.gx, 2))
        .filter(j => j >= 0 && j < cw)
      val is = Set(Math.floorDiv(c.gy - 1, 2), Math.floorDiv(c.gy, 2))
        .filter(i => i >= 0 && i < ch)
      for (j <- js; i <- is) yield (j, i, c.v)
    }.toDF("gx", "gy", "v")
      .groupBy("gx", "gy")
      .agg(floor(sum("v") / count(lit(1))).cast("int").as("v"))
  }

  /** Full pyramid fill. Returns the level-0 grid with voids filled
    * (columns gx, gy, v). */
  def apply(cells: DataFrame, bounds: Bounds, noSmoothing: Boolean = false,
            maxLevel: Int = 32): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._

    if (DenseGrid.fits(spark, bounds))
      return DenseGrid.grid(Seq(cells), bounds)(_(0).fill(noSmoothing, maxLevel))

    // ---- up phase ----
    var levels = List((asCells(cells).toDF("gx", "gy", "v").localCheckpoint(), bounds))
    var k = 0
    while (k < maxLevel && levels.head._2.w / 2 >= 1 && levels.head._2.h / 2 >= 1 && {
      val (df, b) = levels.head
      df.count() < b.w.toLong * b.h.toLong // voids remain
    }) {
      val (df, b) = levels.head
      val coarse = coarsen(asCells(df), b).localCheckpoint()
      levels ::= (coarse, Bounds(b.w / 2, b.h / 2))
      k += 1
    }

    // ---- down phase ----
    // levels.head is the coarsest; fill each finer level in turn.
    var filled = levels.head._1
    for (((df, b), idx) <- levels.tail.zipWithIndex) {
      val parent = filled
      val lattice = spark.range(b.w.toLong * b.h.toLong)
        .select((col("id") % b.w).as("gx"), (col("id") / b.w).cast("long").as("gy"))
      val known = lattice.join(df, Seq("gx", "gy"), "left")
      val holes = known.filter(col("v").isNull).select("gx", "gy")
      val fills =
        if (noSmoothing) {
          holes
            .withColumn("pgx", (col("gx") / 2).cast("long"))
            .withColumn("pgy", (col("gy") / 2).cast("long"))
            .join(parent.select(col("gx").as("pgx"), col("gy").as("pgy"),
              col("v").as("pv")), Seq("pgx", "pgy"))
            .select(col("gx"), col("gy"), col("pv").cast("int").as("v"))
        } else {
          val offs = Seq(
            (-1, -1, 1), (0, -1, 2), (1, -1, 1),
            (-1, 0, 2), (0, 0, 4), (1, 0, 2),
            (-1, 1, 1), (0, 1, 2), (1, 1, 1))
          val offDf = offs.toDF("dx", "dy", "wgt")
          holes
            .crossJoin(broadcast(offDf))
            .withColumn("pgx", (col("gx") / 2).cast("long") + col("dx"))
            .withColumn("pgy", (col("gy") / 2).cast("long") + col("dy"))
            .join(parent.select(col("gx").as("pgx"), col("gy").as("pgy"),
              col("v").as("pv")), Seq("pgx", "pgy"))
            .groupBy("gx", "gy")
            .agg(floor(sum(col("wgt") * col("pv")) / sum(col("wgt"))).cast("int").as("v"))
        }
      filled = df.select(col("gx"), col("gy"), col("v").cast("int"))
        .unionByName(fills)
        .localCheckpoint()
      val _ = idx
    }
    filled
  }
}
