package graft

import graft.stencil.{DenseGrid, Kernels, TileStencil}
import graft.stencil.TileStencil.{Bounds, Kernel}
import org.apache.spark.sql.DataFrame

/** The tile/halo machinery must be execution-equivalent to a trivial
  * dense single-threaded evaluation of the same kernel — across tile
  * sizes, densities, and partitionings. */
class StencilSpec extends SparkSpec {

  private def randomCells(seed: Int, w: Int, h: Int, density: Double): Seq[(Long, Long, Int)] = {
    val r = new scala.util.Random(seed)
    (for {
      y <- 0 until h; x <- 0 until w
      if r.nextDouble() < density
    } yield (x.toLong, y.toLong, 1 + r.nextInt(65535))).toSeq
  }

  /** Direct dense evaluation: kernel applied cell-by-cell, no tiling. */
  private def dense(cells: Seq[(Long, Long, Int)], k: Kernel,
                    b: Bounds): Seq[(Long, Long, Int)] = {
    val m = cells.map(c => (c._1, c._2) -> c._3).toMap
    def get(x: Int, y: Int): Int = m.getOrElse((x.toLong, y.toLong), 0)
    cells.flatMap { case (x, y, _) =>
      val v = k(get, x.toInt, y.toInt, b.w, b.h)
      if (v != 0) Some((x, y, v)) else None
    }
  }

  private val kernels: Seq[(String, Kernel)] = Seq(
    "quantile(1,0.4)" -> Kernels.QuantileFilter(1, 0.4, 300),
    "median(2)" -> Kernels.medianFilter(2, 500),
    "min(2)" -> Kernels.MinFilter(2, 100),
    "max(1)" -> Kernels.MaxFilter(1, 100),
    "edge" -> Kernels.EdgeFilter(5000),
    "well" -> Kernels.WellFilter(1000),
    "spike" -> Kernels.SpikeFilter(1000),
    "tree" -> Kernels.TreeFilter(30000, 1500),
    "horn" -> Kernels.HornGradient,
    "aspect_d8" -> Kernels.AspectD8,
    "laplacian" -> Kernels.Laplacian,
    "ruggedness" -> Kernels.Ruggedness)

  // tiles 1 and 2 sit at or below the kernel radius: the halo reaches
  // past the neighbouring tile
  for ((name, k) <- kernels; density <- Seq(0.25, 0.9); tile <- Seq(1, 2, 7, 16, 128)) {
    test(s"$name == dense (density=$density, tile=$tile)") {
      import spark.implicits._
      val b = Bounds(48, 37)
      val cells = randomCells(42 + name.hashCode % 97, b.w, b.h, density)
      val df = cells.toDF("gx", "gy", "v").repartition(5)
      val got = TileStencil(df, k, b, tileSize = tile)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      val want = dense(cells, k, b).sorted
      assert(got == want, s"${got.size} vs ${want.size} cells")
    }
  }

  // W13/W14 reference-exact kernels get the same dense-equivalence sweep
  for ((name, k) <- Seq[(String, Kernel)](
    "refBoundaryGradient" -> Kernels.RefBoundaryGradient(5000, 1),
    "refBoundaryGradient(dh=2)" -> Kernels.RefBoundaryGradient(5000, 2));
       density <- Seq(0.3, 1.0); tile <- Seq(7, 32)) {
    test(s"$name == dense (density=$density, tile=$tile)") {
      import spark.implicits._
      val b = Bounds(41, 33)
      val cells = randomCells(7 + name.length, b.w, b.h, density)
      val df = cells.toDF("gx", "gy", "v").repartition(5)
      val got = TileStencil(df, k, b, tileSize = tile)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      assert(got == dense(cells, k, b).sorted)
    }
  }

  test("W15 mask erode+dilate == dense oracle, removes narrow keeps wide") {
    import spark.implicits._
    val b = Bounds(24, 16)
    // a 5x4 block, a 1-wide line, an L of width 1, a 3x3 block
    val block = for (y <- 2L to 5L; x <- 2L to 6L) yield (x, y)
    val line = for (x <- 10L to 18L) yield (x, 3L)
    val ell = (for (y <- 8L to 13L) yield (2L, y)) ++ (for (x <- 3L to 7L) yield (x, 13L))
    val small = for (y <- 9L to 11L; x <- 12L to 14L) yield (x, y)
    val mask = (block ++ line ++ ell ++ small).distinct
    val df = mask.map { case (x, y) => (x, y, 1) }.toDF("gx", "gy", "v")
      .repartition(3)
    val packed = TileStencil(df, Kernels.MaskErodePack(), b, tileSize = 8)
    val got = TileStencil(packed, Kernels.MaskOpenResolve(), b, tileSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // dense oracle straight from shr3d.cpp:1091-1139 semantics
    val m = mask.toSet
    def inb(x: Long, y: Long) = x >= 0 && x < b.w && y >= 0 && y < b.h
    val eroded = m.filter { case (x, y) =>
      (for (dx <- -1 to 1; dy <- -1 to 1; if dx != 0 || dy != 0)
        yield (x + dx, y + dy)).forall(p => !inb(p._1, p._2) || m(p))
    }
    val want = m.filter { case (x, y) =>
      (for (dx <- -1 to 1; dy <- -1 to 1)
        yield (x + dx, y + dy)).exists(p => inb(p._1, p._2) && eroded(p))
    }
    assert(got == want)
    // the 5x4 and 3x3 blocks survive whole; the 1-wide line and L vanish
    assert(block.toSet.subsetOf(got) && small.toSet.subsetOf(got))
    assert(line.forall(!got.contains(_)) && ell.forall(!got.contains(_)))
  }

  test("edge filter at image border clamps like the reference") {
    import spark.implicits._
    val b = Bounds(4, 4)
    // uniform values: no kill anywhere, including corners (out-of-bounds
    // neighbors are omitted, not treated as void)
    val cells = (for (y <- 0 until 4; x <- 0 until 4) yield (x.toLong, y.toLong, 100)).toSeq
    val out = TileStencil(cells.toDF("gx", "gy", "v"), Kernels.EdgeFilter(10), b, 2)
      .collect()
    assert(out.length == 16)
  }

  // ---- DenseGrid.tiles: a whole chain per tile-with-halo -------------------

  /** The closure over whole grids, evaluated in the driver. */
  private def local(cells: Seq[Seq[(Long, Long, Int)]], b: Bounds,
                    f: IndexedSeq[DenseGrid] => DenseGrid): Seq[(Long, Long, Int)] = {
    val grids = cells.map { cs =>
      val g = new DenseGrid(b.w, b.h)
      cs.foreach { case (x, y, v) => g.set(g.index(x.toInt, y.toInt), v) }
      g
    }.toIndexedSeq
    f(grids).cells.map(c => (c.gx, c.gy, c.v)).toSeq
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

  private val chainBounds = Bounds(29, 23)

  private lazy val chainInputs: Seq[Seq[(Long, Long, Int)]] = {
    val r = new scala.util.Random(5)
    val a = (for (y <- 0 until chainBounds.h; x <- 0 until chainBounds.w if r.nextDouble() < 0.9)
      yield (x.toLong, y.toLong,
        if (x >= 9 && x <= 17 && y >= 6 && y <= 14) 30000 + r.nextInt(400)
        else 1000 + r.nextInt(400))).toSeq
    val b = randomCells(9, chainBounds.w, chainBounds.h, 0.9)
      .map { case (x, y, v) => (x, y, if ((x + y) % 5 == 0) 0 else v) }
    Seq(a, b)
  }

  for ((name, f, radius, n) <- Seq[(String, IndexedSeq[DenseGrid] => DenseGrid, Int, Int)](
         ("seed -> mark -> resolve", StencilSpec.relaxChain, 4, 1),
         ("two inputs: keepWhere, spike, horn, zip", StencilSpec.twoInputChain, 2, 2));
       tile <- Seq(1, radius, radius + 1, 32)) {
    test(s"tiles == the whole-grid closure: $name (tile=$tile)") {
      import spark.implicits._
      val inputs = chainInputs.take(n)
      val want = local(inputs, chainBounds, f).sorted
      assert(want.nonEmpty)
      if (n == 2) assert(want.exists(_._3 == 0), "no present v = 0 cell reaches the output")
      val dfs = inputs.map(_.toDF("gx", "gy", "v").repartition(3))
      assert(rows(DenseGrid.tiles(dfs, chainBounds, tile, radius)(f)) == want)
      assert(rows(DenseGrid.grid(dfs, chainBounds)(f)) == want)
    }
  }

  test("tiles: a cell outside the bounds raises the dense task's error") {
    import spark.implicits._
    val cells = Seq((3L, 4L, 7), (29L, 2L, 9)).toDF("gx", "gy", "v")
    val e = intercept[Exception](
      DenseGrid.tiles(Seq(cells), chainBounds, 8, 1)(_(0).stencil(Kernels.SpikeFilter(10))).collect())
    assert(e.getMessage.contains("cell (29, 2) outside the 29x23 raster"), e.getMessage)
  }
}

/** The chain closures of the `tiles` specs: serializable functions, apart
  * from the suite. */
object StencilSpec {

  /** The W13 seed -> pack -> mark/resolve -> unpack chain of the
    * classifyGround loop (radius 4), with the border-sensitive
    * reference kernels. */
  private def relaxChain(g: IndexedSeq[DenseGrid]): DenseGrid = {
    val seeds = g(0).stencil(Kernels.RefBoundaryGradient(5000, 1))
    g(0).mapCells((i, v) => (if (seeds.has(i)) 131072 else 0) + v)
      .stencil(Kernels.RefExtendMark(5000)).stencil(Kernels.RefExtendResolve(5000))
      .filter((_, v) => (v >>> 17) == 1).mapCells((_, v) => v & 0x1FFFF)
  }

  /** Two inputs with different cell sets (radius 2): a semi-join, spike
    * and Horn, then a zip that keeps the present `v = 0` cells of the
    * second input. */
  private def twoInputChain(g: IndexedSeq[DenseGrid]): DenseGrid =
    g(0).keepWhere(g(1)).stencil(Kernels.SpikeFilter(20000)).stencil(Kernels.HornGradient)
      .zip(g(1))((a, b) => if (b == 0) 0 else a + b / 8)
}
