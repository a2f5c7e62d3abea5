package graft.stencil

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Distributed 2-D stencil execution: the Spark re-expression of the
 * reference's threaded raster filters (pubgeo `src/common/Image.h:113-177`
 * — row-striped std::thread loops; SURVEY.md §2.5 W1-W16).
 *
 * Design (tile-with-halo): the sparse cell table `(gx, gy, v)` is keyed
 * by tile `(gx / T, gy / T)`. Each cell is replicated to every
 * neighboring tile whose core lies within the kernel radius
 * (`flatMap`-style halo exchange via explode), then one
 * `groupByKey(tile).flatMapGroups` runs the dense kernel over the tile's
 * core. Exactly one shuffle per stencil pass; replication overhead is
 * ~4rT/T² = 4r/T of the cells (r=2, T=128 → 6%). Absent cells are void
 * (0) per the reference convention (`orthoimage.h:430-431`).
 *
 * Determinism: output depends only on the cell values, never on
 * partitioning or arrival order — verified by the oracle spec at
 * multiple parallelisms.
 *
 * This is the path above the 2^20-cell dense gate. Below it, callers
 * that chain stencils (the SHR3D products, ALIGN3D's grids, the
 * classifyGround loop) run one task per product instead: the same
 * kernels through `DenseGrid.stencil`, which keeps this operator's
 * contract (present cells evaluated, `nv == 0` drops the cell).
 */
object TileStencil {

  /** A stencil kernel: computes the new value of a present core cell
    * (void cells are never evaluated, so they stay void).
    * `get(x, y)` returns the value at global coords (0 = void/absent;
    * out-of-bounds coordinates must not be queried — the kernel sees the
    * grid bounds and must clamp its neighborhood like the reference
    * does, `Image.h:144-153`). Return 0 to void the cell. */
  trait Kernel extends Serializable {
    def radius: Int
    def apply(get: (Int, Int) => Int, x: Int, y: Int, w: Int, h: Int): Int
  }

  final case class Bounds(w: Int, h: Int)

  final case class Cell(gx: Long, gy: Long, v: Int)

  /** Halo replication: the tile keys `(tx << 32 | ty)` a cell at
    * `(gx, gy)` serves — its own tile plus every neighboring tile whose
    * core lies within `r` cells of it (`r < t`, so only the 3x3 tile
    * neighborhood qualifies), never leaving the tile lattice
    * `[0, maxTx] x [0, maxTy]`. */
  def haloTiles(gx: Long, gy: Long, r: Int, t: Int,
                maxTx: Long, maxTy: Long): Seq[Long] = {
    val tx = gx / t; val ty = gy / t
    val ox = gx % t; val oy = gy % t
    val dxs = Seq(0) ++ (if (ox < r) Seq(-1) else Nil) ++ (if (ox >= t - r) Seq(1) else Nil)
    val dys = Seq(0) ++ (if (oy < r) Seq(-1) else Nil) ++ (if (oy >= t - r) Seq(1) else Nil)
    for {
      dx <- dxs if tx + dx >= 0 && tx + dx <= maxTx
      dy <- dys if ty + dy >= 0 && ty + dy <= maxTy
    } yield ((tx + dx) << 32) | (ty + dy)
  }

  /** Apply a kernel to a sparse cell table. Input/output columns:
    * (gx: long, gy: long, v: int-compatible). */
  def apply(cells: DataFrame, kernel: Kernel, bounds: Bounds,
            tileSize: Int = 128): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val r = kernel.radius
    val t = tileSize
    require(r < t, "radius must be smaller than tile size")

    val ds = cells.select(col("gx").cast("long"), col("gy").cast("long"),
      col("v").cast("int")).as[Cell]

    val maxTx = (bounds.w - 1) / t
    val maxTy = (bounds.h - 1) / t
    val replicated: Dataset[(Long, Cell)] = ds.flatMap { c =>
      haloTiles(c.gx, c.gy, r, t, maxTx, maxTy).map(k => (k, c))
    }

    // keys are (tx << 32 | ty) and (gx << 32 | gy): collision-free for
    // any grid up to 2^31 cells per side (coords are non-negative)
    replicated.groupByKey(_._1).flatMapGroups { (key, it) =>
      val cellsIn = it.map(_._2).toArray
      if (cellsIn.isEmpty) Iterator.empty
      else {
        // tile coords back from the key of any core cell: recompute from key
        val tx = key >>> 32
        val ty = key & 0xFFFFFFFFL
        val local = new java.util.HashMap[java.lang.Long, java.lang.Integer](cellsIn.length * 2)
        cellsIn.foreach(c => local.put((c.gx << 32) | c.gy, c.v))
        val zero: java.lang.Integer = 0
        def get(x: Int, y: Int): Int =
          local.getOrDefault((x.toLong << 32) | y.toLong, zero).intValue()
        val out = Array.newBuilder[Cell]
        cellsIn.foreach { c =>
          // only core cells (not halo copies) are evaluated
          if (c.gx / t == tx && c.gy / t == ty) {
            val nv = kernel(get, c.gx.toInt, c.gy.toInt, bounds.w, bounds.h)
            if (nv != 0) out += Cell(c.gx, c.gy, nv)
          }
        }
        out.result().iterator
      }
    }.toDF("gx", "gy", "v")
  }
}
