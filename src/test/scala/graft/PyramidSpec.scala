package graft

import graft.pyramid.FillVoids
import graft.stencil.TileStencil.Bounds

class PyramidSpec extends SparkSpec {

  /** Independent dense implementation of the FillVoids spec. */
  private def oracle(cells: Map[(Long, Long), Int], w: Int, h: Int,
                     noSmoothing: Boolean, maxLevel: Int): Map[(Long, Long), Int] = {
    def coarsen(g: Map[(Long, Long), Int], w: Int, h: Int): Map[(Long, Long), Int] = {
      val cw = w / 2; val ch = h / 2
      (for (j <- 0L until cw; i <- 0L until ch) yield {
        val vs = for {
          dx <- -1 to 1; dy <- -1 to 1
          x = 2 * j + 1 + dx; y = 2 * i + 1 + dy
          if x >= 0 && x < w && y >= 0 && y < h
          v <- g.get((x, y))
        } yield v.toLong
        if (vs.isEmpty) None else Some((j, i) -> (vs.sum / vs.length).toInt)
      }).flatten.toMap
    }
    // up
    var levels = List((cells, w, h))
    var k = 0
    while (k < maxLevel && levels.head._2 / 2 >= 1 && levels.head._3 / 2 >= 1 &&
      levels.head._1.size < levels.head._2.toLong * levels.head._3) {
      val (g, lw, lh) = levels.head
      levels ::= ((coarsen(g, lw, lh), lw / 2, lh / 2))
      k += 1
    }
    // down
    var filled = levels.head._1
    for ((g, lw, lh) <- levels.tail) {
      val out = scala.collection.mutable.Map[(Long, Long), Int]() ++ g
      for (x <- 0L until lw; y <- 0L until lh; if !g.contains((x, y))) {
        if (noSmoothing) {
          filled.get((x / 2, y / 2)).foreach(v => out((x, y)) = v)
        } else {
          val wvs = for {
            (dx, dy, wt) <- Seq((-1, -1, 1), (0, -1, 2), (1, -1, 1), (-1, 0, 2),
              (0, 0, 4), (1, 0, 2), (-1, 1, 1), (0, 1, 2), (1, 1, 1))
            v <- filled.get((x / 2 + dx, y / 2 + dy))
          } yield (wt.toLong, wt.toLong * v)
          if (wvs.nonEmpty)
            out((x, y)) = (wvs.map(_._2).sum / wvs.map(_._1).sum).toInt
        }
      }
      filled = out.toMap
    }
    filled
  }

  private def runBoth(cells: Seq[(Long, Long, Int)], w: Int, h: Int,
                      noSmoothing: Boolean, maxLevel: Int): Unit = {
    import spark.implicits._
    val want = oracle(cells.map(c => (c._1, c._2) -> c._3).toMap, w, h,
      noSmoothing, maxLevel)
    // both strategies: 0 forces the distributed pyramid, MaxValue the
    // dense single-task one
    for (thresh <- Seq(0L, Long.MaxValue)) {
      val got = withDenseThreshold(thresh) {
        FillVoids(cells.toDF("gx", "gy", "v").repartition(5), Bounds(w, h), noSmoothing, maxLevel)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      }
      assert(got == want,
        s"thresh=$thresh: engine ${got.size} cells vs oracle ${want.size}")
    }
  }

  private def randomCells(seed: Int, w: Int, h: Int, density: Double) = {
    val r = new scala.util.Random(seed)
    (for { y <- 0L until h; x <- 0L until w; if r.nextDouble() < density }
      yield (x, y, 1 + r.nextInt(60000))).toSeq
  }

  test("random sparse grid, smoothing, full pyramid") {
    runBoth(randomCells(1, 33, 21, 0.3), 33, 21, noSmoothing = false, 32)
  }

  test("random sparse grid, noSmoothing, full pyramid") {
    runBoth(randomCells(2, 32, 32, 0.4), 32, 32, noSmoothing = true, 32)
  }

  test("maxLevel=1 leaves deep voids unfilled") {
    runBoth(randomCells(3, 40, 24, 0.15), 40, 24, noSmoothing = false, 1)
  }

  test("present v = 0 cells are known cells, not voids") {
    val cells = randomCells(6, 24, 17, 0.3).zipWithIndex
      .map { case ((x, y, v), i) => (x, y, if (i % 5 == 0) 0 else v) }
    runBoth(cells, 24, 17, noSmoothing = false, 32)
    runBoth(cells, 24, 17, noSmoothing = true, 2)
  }

  test("odd sizes") {
    runBoth(randomCells(4, 7, 5, 0.5), 7, 5, noSmoothing = false, 32)
    runBoth(randomCells(5, 9, 13, 0.35), 9, 13, noSmoothing = true, 32)
  }

  test("structured hole bigger than 2 levels gets filled") {
    val cells = for {
      y <- 0L until 32; x <- 0L until 32
      if !(x >= 8 && x < 24 && y >= 8 && y < 24) // 16x16 hole
    } yield (x, y, 1000 + (x + y).toInt)
    runBoth(cells.toSeq, 32, 32, noSmoothing = false, 32)
    // and: the hole must actually be filled
    import spark.implicits._
    val filled = FillVoids(cells.toSeq.toDF("gx", "gy", "v"), Bounds(32, 32))
    assert(filled.count() == 32 * 32)
  }

  test("no voids -> identity") {
    val cells = for (y <- 0L until 8; x <- 0L until 8) yield (x, y, (10 + x * y).toInt)
    runBoth(cells.toSeq, 8, 8, noSmoothing = false, 32)
  }

  test("rollup: overview levels match brute force for max, min, and sum") {
    import graft.grid.Pyramid
    import org.apache.spark.sql.functions.{min => fmin, sum => fsum}
    import spark.implicits._
    val r = new scala.util.Random(7)
    val cells = (for (y <- 0L until 23; x <- 0L until 37; if r.nextDouble() < 0.4)
      yield (x, y, 1 + r.nextInt(9999))).toSeq
    def brute(op: Seq[Long] => Long): Map[(Int, Long, Long), Long] = {
      var lvl = cells.map { case (x, y, v) => (x, y) -> v.toLong }.toMap
      var out = lvl.map { case ((x, y), v) => (0, x, y) -> v }
      for (k <- 1 to 3) {
        lvl = lvl.groupBy { case ((x, y), _) => (x / 2, y / 2) }
          .map { case (p, vs) => p -> op(vs.values.toSeq) }
        out ++= lvl.map { case ((x, y), v) => (k, x, y) -> v }
      }
      out
    }
    type Agg = org.apache.spark.sql.Column => org.apache.spark.sql.Column
    for ((aggCol, op) <- Seq[(Agg, Seq[Long] => Long)](
        (c => org.apache.spark.sql.functions.max(c), s => s.max),
        (c => fmin(c), s => s.min),
        (c => fsum(c), s => s.sum))) {
      val got = Pyramid.rollup(cells.toDF("gx", "gy", "v"), 3, aggCol)
        .collect()
        .map(r0 => (r0.getInt(0), r0.getLong(1), r0.getLong(2)) -> r0.getLong(3))
        .toMap
      assert(got == brute(op))
    }
  }

  test("rollup: sum combiner does not wrap Int at coarse levels") {
    import graft.grid.Pyramid
    import org.apache.spark.sql.functions.{sum => fsum}
    import spark.implicits._
    // 4 children of Int.MaxValue: a correct sum pyramid carries
    // 4 * 2^31 - 4 at level 1 and up — any int cast in the chain wraps
    val cells = for (y <- 0L until 2; x <- 0L until 2)
      yield (x, y, Int.MaxValue)
    val got = Pyramid.rollup(cells.toDF("gx", "gy", "v"), 2, c => fsum(c))
      .collect().map(r0 => r0.getInt(0) -> r0.getLong(3))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val total = 4L * Int.MaxValue
    assert(got == Map(0 -> total, 1 -> total, 2 -> total))
  }

  test("rollup: level 0 is the input verbatim and levels shrink geometrically") {
    import graft.grid.Pyramid
    import spark.implicits._
    val cells = for (y <- 0L until 16; x <- 0L until 16) yield (x, y, (1 + x + 16 * y).toInt)
    val got = Pyramid.rollup(cells.toDF("gx", "gy", "v"), 4)
    val byLevel = got.collect().groupBy(_.getInt(0)).view.mapValues(_.length).toMap
    assert(byLevel == Map(0 -> 256, 1 -> 64, 2 -> 16, 3 -> 4, 4 -> 1))
  }
}
