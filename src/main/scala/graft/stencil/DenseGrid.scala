package graft.stencil

import graft.stencil.TileStencil.{Bounds, Kernel}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/**
 * One in-memory raster: the evaluator of every raster kernel (point
 * accumulation, stencils, the void-fill pyramid, CC labels, the G4
 * accept test), evaluated the way the reference evaluates its memoized
 * `getX()` products — one pass over one image (`shr3d.h:153-172`)
 * instead of one Spark job per operator.
 *
 * The grid is a `w x h` window at `(x0, y0)` of the `frameW x frameH`
 * lattice of a sparse `(gx, gy, v)` cell table; `new DenseGrid(w, h)` is
 * the whole lattice. Occupancy is kept apart from the value, so a
 * present `v = 0` cell is still present (it fills and labels like any
 * other cell), exactly as the sparse table has it; an absent cell, and
 * any cell outside the window, reads as 0 (void). Lattice indices `i`
 * are window-local; kernels and [[cells]] see global coordinates.
 *
 * [[DenseGrid.task]] runs a function of several such grids as ONE task:
 * the input tables are tag-unioned and entered with `coalesce(1)`, so a
 * chain over pinned products or aggregate outputs adds no exchange of
 * its own. [[DenseGrid.accumulate]] folds raw points into such a table
 * in one task of the same kind, so a chain that starts from points
 * (the SHR3D DSM and MIN grids, the ALIGN3D DSMs) is one task too.
 * Above [[DenseGrid.threshold]] cells, [[DenseGrid.tiles]] runs the SAME
 * chain closure once per tile over a window of the tile core plus the
 * chain's radius (the ghost-zone rule), in one shuffle; [[DenseGrid.chain]]
 * picks between the two.
 */
final class DenseGrid private (val x0: Int, val y0: Int, val w: Int, val h: Int,
                               val frameW: Int, val frameH: Int) {
  require(w >= 0 && h >= 0 && w.toLong * h <= Int.MaxValue, s"raster ${w}x$h too large")
  require(x0 >= 0 && y0 >= 0 && x0.toLong + w <= frameW && y0.toLong + h <= frameH,
    s"window ${w}x$h at ($x0, $y0) outside the ${frameW}x$frameH raster")
  private val vals = new Array[Int](w * h)
  private val occ = new java.util.BitSet(w * h)

  /** The whole `w x h` lattice. */
  def this(w: Int, h: Int) = this(0, 0, w, h, w, h)

  /** Whether the window is the whole lattice (what [[fill]] and
    * [[labels]], the global operations, need). */
  private def whole: Boolean = x0 == 0 && y0 == 0 && w == frameW && h == frameH

  /** An empty grid on the same window. */
  private def like(): DenseGrid = new DenseGrid(x0, y0, w, h, frameW, frameH)

  private def sameWindow(other: DenseGrid): Unit =
    require(other.x0 == x0 && other.y0 == y0 && other.w == w && other.h == h &&
      other.frameW == frameW && other.frameH == frameH, "grids on different windows")

  /** The window-local index of window coordinates `(x, y)`. */
  @inline def index(x: Int, y: Int): Int = y * w + x
  @inline def has(i: Int): Boolean = occ.get(i)
  /** The value at lattice index `i` (0 when absent). */
  @inline def apply(i: Int): Int = vals(i)

  def set(i: Int, v: Int): Unit = { vals(i) = v; occ.set(i) }
  def remove(i: Int): Unit = { vals(i) = 0; occ.clear(i) }

  def size: Int = occ.cardinality()
  def isEmpty: Boolean = occ.isEmpty

  /** Visits the present cells in lattice (cell id) order. */
  def foreach(f: (Int, Int) => Unit): Unit = {
    var i = occ.nextSetBit(0)
    while (i >= 0) { f(i, vals(i)); i = occ.nextSetBit(i + 1) }
  }

  def copy(): DenseGrid = {
    val out = like()
    foreach(out.set)
    out
  }

  /** Every present cell with a new value (cells stay present, even at 0). */
  def mapCells(f: (Int, Int) => Int): DenseGrid = {
    val out = like()
    foreach((i, v) => out.set(i, f(i, v)))
    out
  }

  /** The cells for which `p(i, v)` holds. */
  def filter(p: (Int, Int) => Boolean): DenseGrid = {
    val out = like()
    foreach((i, v) => if (p(i, v)) out.set(i, v))
    out
  }

  /** The cells also present in `other` (a semi-join). */
  def keepWhere(other: DenseGrid): DenseGrid = {
    sameWindow(other)
    val out = like()
    foreach((i, v) => if (other.has(i)) out.set(i, v))
    out
  }

  /** The cells not in `mask` (an anti-join). */
  def without(mask: java.util.BitSet): DenseGrid = {
    val out = copy()
    var i = mask.nextSetBit(0)
    while (i >= 0) { if (i < vals.length) out.remove(i); i = mask.nextSetBit(i + 1) }
    out
  }

  /** `f(a, b)` on the cells present in both grids (the J1 zip). */
  def zip(other: DenseGrid)(f: (Int, Int) => Int): DenseGrid = {
    sameWindow(other)
    val out = like()
    foreach((i, v) => if (other.has(i)) out.set(i, f(v, other(i))))
    out
  }

  /** One kernel pass, the [[TileStencil]] contract: present cells are
    * evaluated, `nv == 0` drops the cell, absent neighbors read as 0.
    * The kernel sees global coordinates and the frame's size, so its
    * border tests keep their meaning in a window; a read outside the
    * window is void. */
  def stencil(k: Kernel): DenseGrid = {
    val out = like()
    val get = (x: Int, y: Int) => {
      val lx = x - x0; val ly = y - y0
      if (lx >= 0 && lx < w && ly >= 0 && ly < h) vals(ly * w + lx) else 0
    }
    foreach { (i, _) =>
      val nv = k(get, x0 + i % w, y0 + i / w, frameW, frameH)
      if (nv != 0) out.set(i, nv)
    }
    out
  }

  /** The fillVoidsPyramid spec of [[graft.pyramid.FillVoids]] (the
    * distributed path's exact dense twin): coarsen while voids remain and
    * `maxLevel` allows, then fill every void top-down from the parent
    * level. Returns a new grid. */
  def fill(noSmoothing: Boolean, maxLevel: Int = 32): DenseGrid = {
    require(whole, "fill needs the whole raster")
    var levels = List(this)
    var k = 0
    while (k < maxLevel && levels.head.w / 2 >= 1 && levels.head.h / 2 >= 1 &&
      levels.head.size < levels.head.vals.length) {
      levels ::= levels.head.coarsen()
      k += 1
    }
    var filled = levels.head
    for (g <- levels.tail) {
      val out = g.copy()
      val p = filled
      var i = g.occ.nextClearBit(0)
      while (i < g.vals.length) {
        val px = (i % g.w) / 2; val py = (i / g.w) / 2
        if (noSmoothing) {
          if (px < p.w && py < p.h && p.has(p.index(px, py))) out.set(i, p(p.index(px, py)))
        } else {
          var sw = 0L; var swv = 0L
          var oi = 0
          while (oi < 9) {
            val qx = px + DenseGrid.SmoothDx(oi); val qy = py + DenseGrid.SmoothDy(oi)
            if (qx >= 0 && qx < p.w && qy >= 0 && qy < p.h && p.has(p.index(qx, qy))) {
              val wt = DenseGrid.SmoothW(oi)
              sw += wt; swv += wt.toLong * p(p.index(qx, qy))
            }
            oi += 1
          }
          if (sw > 0) out.set(i, Math.floorDiv(swv, sw).toInt)
        }
        i = g.occ.nextClearBit(i + 1)
      }
      filled = out
    }
    if (filled eq this) copy() else filled
  }

  /** One pyramid level up: coarse cell (j, i) is the floored mean of the
    * present cells in the in-bounds 3x3 block centered at (2j+1, 2i+1). */
  private def coarsen(): DenseGrid = {
    val out = new DenseGrid(w / 2, h / 2)
    var i = 0
    while (i < out.h) {
      var j = 0
      while (j < out.w) {
        var sum = 0L; var cnt = 0
        var y = 2 * i
        while (y <= 2 * i + 2) {
          var x = 2 * j
          while (x <= 2 * j + 2) {
            if (x < w && y < h && has(index(x, y))) { sum += vals(index(x, y)); cnt += 1 }
            x += 1
          }
          y += 1
        }
        if (cnt > 0) out.set(out.index(j, i), Math.floorDiv(sum, cnt).toInt)
        j += 1
      }
      i += 1
    }
    out
  }

  /** Canonical connected-component labels, per lattice index (-1 where
    * absent): 8-connected (4 without `diag`), neighbors joined only when
    * their values differ by at most `maxDz`; a component is labeled by its
    * minimum cell id `gy * w + gx`, and with `maxCount` it is cut, in cell
    * id order, into chunks of at most `maxCount` cells, each labeled by
    * its own minimum id — [[graft.cc.ConnectedComponents]]'s contract. */
  def labels(maxDz: Option[Int] = None, maxCount: Option[Long] = None,
             diag: Boolean = true): Array[Int] = {
    require(whole, "labels need the whole raster")
    val parent = Array.fill(vals.length)(-1)
    foreach((i, _) => parent(i) = i)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val dzOn = maxDz.isDefined; val dz = maxDz.getOrElse(0)
    val (dxs, dys) =
      if (diag) (Array(1, 1, 1, 0), Array(-1, 0, 1, 1)) else (Array(1, 0), Array(0, 1))
    foreach { (i, v) =>
      val x = i % w; val y = i / w
      var o = 0
      while (o < dxs.length) {
        val nx = x + dxs(o); val ny = y + dys(o)
        if (nx < w && ny >= 0 && ny < h) {
          val j = index(nx, ny)
          if (has(j) && (!dzOn || math.abs(v - vals(j)) <= dz)) {
            // union by minimum index: a root is its component's minimum id
            val ra = find(i); val rb = find(j)
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
        }
        o += 1
      }
    }
    val out = Array.fill(vals.length)(-1)
    maxCount match {
      case None => foreach((i, _) => out(i) = find(i))
      case Some(c) =>
        val cap = math.min(c, Int.MaxValue).toInt
        val seen = new Array[Int](vals.length)
        val chunk = new Array[Int](vals.length)
        foreach { (i, _) =>
          val r = find(i)
          if (seen(r) % cap == 0) chunk(r) = i
          seen(r) += 1
          out(i) = chunk(r)
        }
    }
    out
  }

  /** The present cells as global `(gx, gy, v)` rows, in lattice order. */
  def cells: Iterator[DenseGrid.Cell] = {
    val b = Array.newBuilder[DenseGrid.Cell]
    foreach((i, v) => b += DenseGrid.Cell((x0 + i % w).toLong, (y0 + i / w).toLong, v))
    b.result().iterator
  }
}

object DenseGrid {

  /** The one strategy gate, the session setting [[ThresholdKey]]:
    * rasters up to this many lattice cells run as one task; larger ones
    * take the tiled distributed paths. The row-counted gates
    * (DistanceTransform's occupied cells, FlowBasins' pointer rows,
    * DupClusters' edge rows) compare against the same size. Unset, it is
    * 2^20; 0 forces every distributed path. SparkConf loads `spark.*` JVM
    * system properties, so a `-D<key>=0` option forces them for a whole
    * run. Operators read it when they build their DataFrame, not when it
    * runs. */
  def threshold(spark: SparkSession): Long =
    spark.conf.getOption(ThresholdKey).fold(1L << 20) { s =>
      s.trim.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
        s"$ThresholdKey must be a non-negative integer, got '$s'"))
    }

  final val ThresholdKey = "spark.graft.denseThreshold"

  def fits(spark: SparkSession, bounds: Bounds): Boolean =
    bounds.w.toLong * bounds.h <= threshold(spark)

  final case class Cell(gx: Long, gy: Long, v: Int)
  final case class Tagged(t: Int, gx: Long, gy: Long, v: Int)
  /** A quantized point on its base cell, the input of [[accumulate]]. */
  final case class Point(bx: Long, by: Long, qz: Long)

  // smoothing fill-down weights: center 4, cross 2, diagonal 1
  private val SmoothDx = Array(-1, 0, 1, -1, 0, 1, -1, 0, 1)
  private val SmoothDy = Array(-1, -1, -1, 0, 0, 0, 1, 1, 1)
  private val SmoothW = Array(1, 2, 1, 2, 4, 2, 1, 2, 1)

  /** Runs `f` over the `(gx, gy, v)` tables `inputs` — grid `k` holds
    * input `k` — as ONE executor task: a tag-union entered with
    * `coalesce(1)`, so only the inputs' own lineage is planned. A cell
    * outside the `bounds` lattice is an error. */
  def task[T](inputs: Seq[DataFrame], bounds: Bounds)
             (f: IndexedSeq[DenseGrid] => Iterator[T])(implicit enc: Encoder[T]): Dataset[T] = {
    val w = bounds.w; val h = bounds.h; val n = inputs.size
    tagged(inputs)
      .coalesce(1)
      .mapPartitions { it =>
        val grids = IndexedSeq.fill(n)(new DenseGrid(w, h))
        it.foreach { c =>
          inRaster(c, bounds)
          grids(c.t).set(c.gy.toInt * w + c.gx.toInt, c.v)
        }
        f(grids)
      }
  }

  /** The inputs as one `(t, gx, gy, v)` table, `t` the input's position. */
  private def tagged(inputs: Seq[DataFrame]): Dataset[Tagged] =
    inputs.zipWithIndex
      .map { case (df, t) =>
        df.select(lit(t).as("t"), col("gx").cast("long"), col("gy").cast("long"),
          col("v").cast("int"))
      }
      .reduce(_ unionByName _)
      .as(Encoders.product[Tagged])

  private def inRaster(c: Tagged, b: Bounds): Unit =
    require(c.gx >= 0 && c.gx < b.w && c.gy >= 0 && c.gy < b.h,
      s"cell (${c.gx}, ${c.gy}) outside the ${b.w}x${b.h} raster")

  /** A local chain of total kernel radius `radius` at its strategy: one
    * [[grid]] task within the gate ([[fits]]), else [[tiles]]. `f` may
    * use only the per-cell operations and [[DenseGrid.stencil]], not the
    * global [[DenseGrid.fill]] or [[DenseGrid.labels]]. */
  def chain(inputs: Seq[DataFrame], bounds: Bounds, tileSize: Int, radius: Int)
           (f: IndexedSeq[DenseGrid] => DenseGrid): DataFrame =
    if (fits(inputs.head.sparkSession, bounds)) grid(inputs, bounds)(f)
    else tiles(inputs, bounds, tileSize, radius)(f)

  /** [[grid]]'s chain `f`, of total kernel radius `radius`, once per
    * `tileSize` tile (the ghost-zone rule): every cell is replicated to
    * each tile whose core lies within `radius` of it
    * ([[TileStencil.haloTiles]]), one `groupByKey(tile)` fills one window
    * per input — the tile core plus `radius` cells on every side,
    * clipped to `bounds` — and the task emits the present core cells of
    * `f`'s result. A kernel pass of radius r leaves the window correct r
    * cells further in, so after the chain the core is exactly what the
    * whole-grid closure gives it. One shuffle for the whole chain; the
    * halo costs ~4 * radius / tileSize of the cells. A cell outside the
    * `bounds` lattice is the error [[task]] raises. */
  def tiles(inputs: Seq[DataFrame], bounds: Bounds, tileSize: Int, radius: Int)
           (f: IndexedSeq[DenseGrid] => DenseGrid): DataFrame = {
    val spark = inputs.head.sparkSession
    import spark.implicits._
    require(tileSize > 0 && radius >= 0, s"tile $tileSize, radius $radius")
    val (w, h, t, r, n) = (bounds.w, bounds.h, tileSize, radius, inputs.size)
    val maxTx = (w - 1L) / t; val maxTy = (h - 1L) / t
    tagged(inputs)
      .flatMap { c =>
        inRaster(c, bounds)
        TileStencil.haloTiles(c.gx, c.gy, r, t, maxTx, maxTy).map(k => (k, c))
      }
      // keys are (tx << 32 | ty): collision-free for any lattice side below 2^31
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val tx = key >>> 32; val ty = key & 0xFFFFFFFFL
        val x0 = math.max(0L, tx * t - r).toInt; val x1 = math.min(w.toLong, (tx + 1) * t + r).toInt
        val y0 = math.max(0L, ty * t - r).toInt; val y1 = math.min(h.toLong, (ty + 1) * t + r).toInt
        val grids = IndexedSeq.fill(n)(new DenseGrid(x0, y0, x1 - x0, y1 - y0, w, h))
        it.foreach { case (_, c) =>
          grids(c.t).set((c.gy.toInt - y0) * (x1 - x0) + (c.gx.toInt - x0), c.v)
        }
        f(grids).cells.filter(c => c.gx / t == tx && c.gy / t == ty)
      }.toDF()
  }

  /** Folds quantized points `(bx, by, qz)` into a `(gx, gy, v)` table on
    * the `bounds` lattice, the reference's fold of points into a dense
    * image (`orthoimage.h:372-420`, A1): per cell, `pick` (`math.max`
    * for a DSM, `math.min` for a MIN grid) over the `qz` of every point
    * that lands on it. With `splat` a point lands on the 2x2 block
    * `[bx..bx+1] x [by..by+1]`, else on its base cell. The rows equal
    * [[graft.grid.Gridding.dsm]]'s (`minGrid`'s), or the per-cell
    * aggregate without the splat: null `qz` rows are skipped as
    * `max`/`min` skip them, `v` stays the long the consumer casts, and a
    * landed cell outside the lattice is the error [[task]] raises.
    *
    * One task entered with `coalesce(1)`: it streams its input and holds
    * only the lattice (`w * h` longs plus the occupancy), and its output
    * is a narrow input of [[task]], so a product chain over the fold is
    * one task and one job with no exchange. */
  def accumulate(points: DataFrame, bounds: Bounds, pick: (Long, Long) => Long,
                 splat: Boolean): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val w = bounds.w; val h = bounds.h
    val reach = if (splat) 2 else 1
    points.filter(col("qz").isNotNull)
      .select(col("bx").cast("long"), col("by").cast("long"), col("qz").cast("long"))
      .as(Encoders.product[Point])
      .coalesce(1)
      .mapPartitions { it =>
        val acc = new Array[Long](w * h)
        val occ = new java.util.BitSet(w * h)
        it.foreach { p =>
          var gy = p.by
          while (gy < p.by + reach) {
            var gx = p.bx
            while (gx < p.bx + reach) {
              require(gx >= 0 && gx < w && gy >= 0 && gy < h,
                s"cell ($gx, $gy) outside the ${w}x$h raster")
              val i = gy.toInt * w + gx.toInt
              if (occ.get(i)) acc(i) = pick(acc(i), p.qz) else { acc(i) = p.qz; occ.set(i) }
              gx += 1
            }
            gy += 1
          }
        }
        Iterator.iterate(occ.nextSetBit(0))(i => occ.nextSetBit(i + 1)).takeWhile(_ >= 0)
          .map(i => ((i % w).toLong, (i / w).toLong, acc(i)))
      }.toDF("gx", "gy", "v")
  }

  /** [[task]] producing one grid: a `(gx, gy, v)` table. */
  def grid(inputs: Seq[DataFrame], bounds: Bounds)
          (f: IndexedSeq[DenseGrid] => DenseGrid): DataFrame =
    task(inputs, bounds)(g => f(g).cells)(Encoders.product[Cell]).toDF()

  /** [[task]] producing several grids: a `(t, gx, gy, v)` table, `t` the
    * position of the grid in `f`'s result. */
  def grids(inputs: Seq[DataFrame], bounds: Bounds)
           (f: IndexedSeq[DenseGrid] => Seq[DenseGrid]): DataFrame =
    task(inputs, bounds) { g =>
      f(g).iterator.zipWithIndex.flatMap { case (out, t) =>
        out.cells.map(c => Tagged(t, c.gx, c.gy, c.v))
      }
    }(Encoders.product[Tagged]).toDF()

  /** G4 object accept/reject, the dense twin of
    * [[graft.api.GroundObjects.acceptByGradient]]: per label, the mean of
    * `dsm(object cell) - dsm(neighbor)` over the 8-neighbors that carry a
    * DSM value and no label; a label with no such neighbor, or with
    * 0 < mean < dz/2, is rejected. Returns `labels` with the rejected
    * labels set to -1. */
  def acceptByGradient(labels: Array[Int], dsm: DenseGrid, dzRaw: Int): Array[Int] = {
    val w = dsm.w; val h = dsm.h
    val sum = new Array[Long](labels.length)
    val cnt = new Array[Int](labels.length)
    var i = 0
    while (i < labels.length) {
      val l = labels(i)
      if (l >= 0 && dsm.has(i)) {
        val x = i % w; val y = i / w
        var dy = -1
        while (dy <= 1) {
          var dx = -1
          while (dx <= 1) {
            val nx = x + dx; val ny = y + dy
            if ((dx != 0 || dy != 0) && nx >= 0 && nx < w && ny >= 0 && ny < h) {
              val j = ny * w + nx
              if (dsm.has(j) && labels(j) < 0) { sum(l) += dsm(i) - dsm(j); cnt(l) += 1 }
            }
            dx += 1
          }
          dy += 1
        }
      }
      i += 1
    }
    labels.map { l =>
      if (l < 0 || cnt(l) == 0) -1
      else {
        val mean = sum(l).toDouble / cnt(l)
        if (mean > 0.0 && mean < dzRaw / 2.0) -1 else l
      }
    }
  }
}
