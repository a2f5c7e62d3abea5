package graft

import graft.grid.{FlowAccum, FlowBasins, Resample}
import graft.stencil.Kernels
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.functions._

/** [[FlowBasins]] (D8 pointer-doubling) vs a sequential path walker, and
  * [[Resample]] bilinear upsample vs its dense 4-tap oracle. */
class FlowSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-random sparse DSM: ~density of cells occupied,
    * values in [1, 9000]. */
  private def synthDsm(w: Int, h: Int, density: Double, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (for (x <- 0 until w; y <- 0 until h; if rnd.nextDouble() < density)
      yield (x.toLong, y.toLong, 1 + rnd.nextInt(9000))).toSeq
  }

  /** Sequential oracle: AspectD8 semantics per cell, then walk each
    * cell's next-chain to its sink. */
  private def walkOracle(cells: Seq[(Long, Long, Int)], w: Int, h: Int)
  : Map[(Long, Long), (Long, Long)] = {
    val g = cells.map(c => (c._1, c._2) -> c._3).toMap
    val offs = Kernels.AspectD8.Offsets
    def next(x: Long, y: Long): (Long, Long) = {
      val me = g((x, y))
      if (x - 1 < 0 || x + 1 >= w || y - 1 < 0 || y + 1 >= h) return (x, y)
      var bestIdx = -1; var bestV = me
      var i = 0
      while (i < 8) {
        val (dx, dy) = offs(i)
        g.get((x + dx, y + dy)) match {
          case None => return (x, y) // missing neighbor: no full support
          case Some(v) => if (v < bestV) { bestV = v; bestIdx = i }
        }
        i += 1
      }
      if (bestIdx < 0) (x, y)
      else (x + offs(bestIdx)._1, y + offs(bestIdx)._2)
    }
    g.keys.map { k =>
      var cur = k
      var n = next(cur._1, cur._2)
      while (n != cur) { cur = n; n = next(cur._1, cur._2) }
      k -> cur
    }.toMap
  }

  private def run(cells: Seq[(Long, Long, Int)], w: Int, h: Int, tile: Int) =
    FlowBasins.basins(cells.toDF("gx", "gy", "v"), Bounds(w, h), tile)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

  test("basins == sequential walker (dense-ish grid)") {
    val (w, h) = (24, 18)
    val cells = synthDsm(w, h, 0.9, seed = 7)
    val got = run(cells, w, h, tile = 8)
    assert(got == walkOracle(cells, w, h))
  }

  test("basins == sequential walker (sparse grid, voids force sinks)") {
    val (w, h) = (30, 20)
    val cells = synthDsm(w, h, 0.5, seed = 13)
    val got = run(cells, w, h, tile = 8)
    assert(got == walkOracle(cells, w, h))
  }

  test("basins invariant across tile sizes and partitionings") {
    val (w, h) = (24, 18)
    val cells = synthDsm(w, h, 0.85, seed = 3)
    val a = run(cells, w, h, tile = 4)
    val b = run(cells, w, h, tile = 16)
    val c = FlowBasins.basins(
      cells.toDF("gx", "gy", "v").repartition(13), Bounds(w, h), 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(a == b)
    assert(a == c)
  }

  test("every label is a sink and sinks label themselves") {
    val (w, h) = (24, 18)
    val cells = synthDsm(w, h, 0.9, seed = 21)
    val got = run(cells, w, h, tile = 8)
    val sinks = got.filter { case (k, v) => k == v }.keySet
    assert(sinks.nonEmpty)
    assert(got.values.toSet.subsetOf(sinks))
  }

  test("monotone descent: a long staircase converges (doubling depth)") {
    // single descending ramp: longest possible path for its size, so the
    // round count is the log2 worst case for this cell count
    val n = 40
    val cells = (0 until n).map(i => (i.toLong + 1, 2L, n - i)) ++
      (for (x <- 0 to n + 1; y <- Seq(1L, 3L)) yield (x.toLong, y, 9000)) ++
      Seq((0L, 2L, 9000), (n + 1L, 2L, 9000))
    val (w, h) = (n + 2, 5)
    val got = run(cells, w, h, tile = 8)
    assert(got == walkOracle(cells, w, h))
    // the ramp bottom is interior (full support) yet has no lower
    // neighbor: it is the basin of every ramp cell above it
    assert(got((1L, 2L)) == got((n.toLong - 1, 2L)))
  }

  // ---- FlowBasins.paths (flow length) / FlowAccum ----

  /** Sequential path walker returning (sink, hop count) per cell. */
  private def pathOracle(cells: Seq[(Long, Long, Int)], w: Int, h: Int)
  : Map[(Long, Long), (Long, Long, Long)] = {
    val g = cells.map(c => (c._1, c._2) -> c._3).toMap
    val offs = Kernels.AspectD8.Offsets
    def next(x: Long, y: Long): (Long, Long) = {
      val me = g((x, y))
      if (x - 1 < 0 || x + 1 >= w || y - 1 < 0 || y + 1 >= h) return (x, y)
      var bestIdx = -1; var bestV = me
      var i = 0
      while (i < 8) {
        val (dx, dy) = offs(i)
        g.get((x + dx, y + dy)) match {
          case None => return (x, y)
          case Some(v) => if (v < bestV) { bestV = v; bestIdx = i }
        }
        i += 1
      }
      if (bestIdx < 0) (x, y)
      else (x + offs(bestIdx)._1, y + offs(bestIdx)._2)
    }
    g.keys.map { k =>
      var cur = k; var d = 0L
      var n = next(cur._1, cur._2)
      while (n != cur) { cur = n; d += 1; n = next(cur._1, cur._2) }
      k -> (cur._1, cur._2, d)
    }.toMap
  }

  /** Sequential accumulation counter: +1 to every cell on each cell's
    * path, itself included. */
  private def accumOracle(cells: Seq[(Long, Long, Int)], w: Int, h: Int)
  : Map[(Long, Long), Long] = {
    val g = cells.map(c => (c._1, c._2) -> c._3).toMap
    val offs = Kernels.AspectD8.Offsets
    def next(x: Long, y: Long): (Long, Long) = {
      val me = g((x, y))
      if (x - 1 < 0 || x + 1 >= w || y - 1 < 0 || y + 1 >= h) return (x, y)
      var bestIdx = -1; var bestV = me
      var i = 0
      while (i < 8) {
        val (dx, dy) = offs(i)
        g.get((x + dx, y + dy)) match {
          case None => return (x, y)
          case Some(v) => if (v < bestV) { bestV = v; bestIdx = i }
        }
        i += 1
      }
      if (bestIdx < 0) (x, y)
      else (x + offs(bestIdx)._1, y + offs(bestIdx)._2)
    }
    val acc = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    g.keys.foreach { k =>
      var cur = k
      acc(cur) += 1
      var n = next(cur._1, cur._2)
      while (n != cur) { cur = n; acc(cur) += 1; n = next(cur._1, cur._2) }
    }
    acc.toMap
  }

  private def runPaths(cells: Seq[(Long, Long, Int)], w: Int, h: Int, tile: Int) =
    FlowBasins.paths(cells.toDF("gx", "gy", "v"), Bounds(w, h), tile)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  private def runAccum(df: org.apache.spark.sql.DataFrame, w: Int, h: Int, tile: Int) =
    FlowAccum.accumulation(df, Bounds(w, h), tile)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap

  test("paths == sequential walker with hop counts (dense and sparse)") {
    for ((d, seed) <- Seq((0.9, 7), (0.5, 13))) {
      val (w, h) = (24, 18)
      val cells = synthDsm(w, h, d, seed)
      assert(runPaths(cells, w, h, tile = 8) == pathOracle(cells, w, h))
    }
  }

  test("staircase flow length: top of an n-ramp is n-1 hops from the sink") {
    val n = 40
    val cells = (0 until n).map(i => (i.toLong + 1, 2L, n - i)) ++
      (for (x <- 0 to n + 1; y <- Seq(1L, 3L)) yield (x.toLong, y, 9000)) ++
      Seq((0L, 2L, 9000), (n + 1L, 2L, 9000))
    val (w, h) = (n + 2, 5)
    val got = runPaths(cells, w, h, tile = 8)
    assert(got == pathOracle(cells, w, h))
    assert(got((1L, 2L))._3 == n - 1) // ramp top walks the whole ramp
    assert(got((n.toLong, 2L))._3 == 0) // ramp bottom is its own sink
  }

  test("accumulation == sequential counter (dense and sparse)") {
    for ((d, seed) <- Seq((0.9, 7), (0.55, 13))) {
      val (w, h) = (24, 18)
      val cells = synthDsm(w, h, d, seed)
      assert(runAccum(cells.toDF("gx", "gy", "v"), w, h, tile = 8) ==
        accumOracle(cells, w, h))
    }
  }

  test("accumulation invariant across tile sizes and partitionings") {
    val (w, h) = (30, 20)
    val cells = synthDsm(w, h, 0.85, seed = 3)
    val a = runAccum(cells.toDF("gx", "gy", "v"), w, h, tile = 4)
    val b = runAccum(cells.toDF("gx", "gy", "v"), w, h, tile = 16)
    val c = runAccum(cells.toDF("gx", "gy", "v").repartition(13), w, h, tile = 8)
    assert(a == b)
    assert(a == c)
  }

  test("accumulation invariants: sinks carry basin sizes, total = paths + cells") {
    val (w, h) = (24, 18)
    val cells = synthDsm(w, h, 0.9, seed = 21)
    val acc = runAccum(cells.toDF("gx", "gy", "v"), w, h, tile = 8)
    val paths = pathOracle(cells, w, h)
    // every cell contributes pathlen+1 units of accumulation in total
    assert(acc.values.sum == paths.values.map(_._3 + 1).sum)
    // a sink's accumulation is exactly its basin's cell count
    val basinSizes = paths.values.groupBy(p => (p._1, p._2))
      .map { case (s, vs) => s -> vs.size.toLong }
    basinSizes.foreach { case (s, n) => assert(acc(s) == n) }
  }

  // ---- Resample.upsample2xBilinear ----

  private def bilinearOracle(cells: Seq[(Long, Long, Int)])
  : Map[(Long, Long), Int] = {
    val g = cells.map(c => (c._1, c._2) -> c._3.toLong).toMap
    def axis(u: Long): Option[Seq[(Long, Long)]] = {
      val k = Math.floorDiv(u - 1, 2L)
      val (a, b) = (k, k + 1)
      val (wa, wb) = if (u % 2 == 0) (1L, 3L) else (3L, 1L)
      if (a < 0) None else Some(Seq((a, wa), (b, wb)))
    }
    val maxX = cells.map(_._1).max * 2 + 2
    val maxY = cells.map(_._2).max * 2 + 2
    (for {
      ux <- 0L to maxX; uy <- 0L to maxY
      xs <- axis(ux).toSeq; ys <- axis(uy).toSeq
      taps = for ((px, wx) <- xs; (py, wy) <- ys) yield
        g.get((px, py)).map(_ * wx * wy)
      if taps.forall(_.isDefined)
    } yield (ux, uy) -> (taps.flatten.sum >> 4).toInt).toMap
  }

  test("bilinear 2x upsample == dense 4-tap oracle") {
    val cells = synthDsm(12, 10, 0.8, seed = 5)
    val got = Resample.upsample2xBilinear(cells.toDF("gx", "gy", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == bilinearOracle(cells))
  }

  test("bilinear upsample of a constant grid is constant (weight sum 16)") {
    val cells = for (x <- 0L until 8; y <- 0L until 8) yield (x, y, 1234)
    val got = Resample.upsample2xBilinear(cells.toDF("gx", "gy", "v"))
      .select(countDistinct(col("v")).as("d"), min(col("v")).as("m"))
      .collect().head
    assert(got.getLong(0) == 1L && got.getInt(1) == 1234)
  }

  test("resolve: dense and distributed strategies agree (random forest)") {
    // random functional graph with self-loop sinks and weighted hops —
    // the resolve() contract; a 0 gate forces the doubling loop, the
    // default runs the single-task memoized walk
    val rnd = new scala.util.Random(23)
    val n = 300
    val rows = (0L until n).map { i =>
      if (i % 17 == 0) (i, i, 0L) // sink
      else (i, (i + 1 + rnd.nextInt(16)) % n match {
        // avoid accidental 2-cycles by routing via the nearest sink when
        // the draw would point at a non-smaller id in a cycle-prone way
        case j if j == i => (i / 17) * 17
        case j => if (j < i) j else (i / 17) * 17
      }, 1L + rnd.nextInt(3))
    }
    val df = rows.toDF("id", "nid", "w").repartition(7)
    val dense = FlowBasins.resolve(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dist = withDenseThreshold(0) {
      FlowBasins.resolve(df).collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(dense == dist)
    // sinks resolve to themselves with weight 0 on both paths
    assert((0L until n).filter(_ % 17 == 0).forall(s => dense(s) == (s, 0L)))
  }

  test("resolve: the dense strategy runs no shuffle exchange") {
    // the single task is entered with coalesce(1) over the pinned table
    val df = (0L until 50L).map(i => (i, i / 2, if (i < 2) 0L else 1L))
      .toDF("id", "nid", "w").repartition(7)
    val out = FlowBasins.resolve(df)
    assert(out.count() == 50L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"dense resolve shuffles:\n$plan")
  }
}
