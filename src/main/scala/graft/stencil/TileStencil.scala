package graft.stencil

import org.apache.spark.sql.DataFrame

/**
 * Distributed 2-D stencil execution: the Spark re-expression of the
 * reference's threaded raster filters (pubgeo `src/common/Image.h:113-177`
 * — row-striped std::thread loops; SURVEY.md §2.5 W1-W16).
 *
 * One kernel pass is the one-kernel case of [[DenseGrid.tiles]]
 * (tile-with-halo): each cell is replicated to every tile whose core lies
 * within the kernel radius ([[haloTiles]]), one `groupByKey(tile)` fills
 * a `DenseGrid` window of the tile core plus the radius, and the kernel
 * runs over the core through `DenseGrid.stencil`. Replication overhead
 * is ~4r/T of the cells (r=2, T=128 → 6%). Absent cells are void (0)
 * per the reference convention (`orthoimage.h:430-431`).
 *
 * Determinism: output depends only on the cell values, never on
 * partitioning or arrival order — verified by the oracle spec at
 * multiple parallelisms.
 *
 * This operator always tiles. Callers that chain kernels write the
 * chain once as a `DenseGrid` closure and run it with
 * `DenseGrid.chain`: one task within the dense gate, one shuffle per
 * chain above it.
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

  /** Halo replication: the tile keys `(tx << 32 | ty)` a cell at
    * `(gx, gy)` serves — every tile whose core lies within `r` cells of
    * it, i.e. tiles `floorDiv(g - r, t) .. (g + r) / t` on each axis, at
    * any `r`, never leaving the tile lattice `[0, maxTx] x [0, maxTy]`. */
  def haloTiles(gx: Long, gy: Long, r: Int, t: Int,
                maxTx: Long, maxTy: Long): Seq[Long] =
    for {
      tx <- math.max(0L, Math.floorDiv(gx - r, t.toLong)) to math.min(maxTx, (gx + r) / t)
      ty <- math.max(0L, Math.floorDiv(gy - r, t.toLong)) to math.min(maxTy, (gy + r) / t)
    } yield (tx << 32) | ty

  /** Apply a kernel to a sparse cell table. Input/output columns:
    * (gx: long, gy: long, v: int-compatible). */
  def apply(cells: DataFrame, kernel: Kernel, bounds: Bounds,
            tileSize: Int = 128): DataFrame =
    DenseGrid.tiles(Seq(cells), bounds, tileSize, kernel.radius)(_(0).stencil(kernel))
}
