package graft

import graft.stencil.TileStencil.Bounds
import graft.vector.{RefTrace, Vectorize}
import org.apache.spark.sql.functions._

/** RefTrace (reference-exact V1 boundary trace) against the dense
  * single-threaded oracle: label numbering, vertex sequences, hole
  * attachment and ordering, across fixtures, random masks, and
  * tile-size / parallelism choices. */
class RefTraceSpec extends SparkSpec {

  private def maskOf(rows: Seq[String]): Array[Array[Boolean]] =
    rows.map(_.map(_ == '#').toArray).toArray

  private def expected(mask: Array[Array[Boolean]]): Map[Long, (Long, String)] = {
    val lab = RefTraceOracle.labelImage(mask)
    val sizes = lab.flatten.filter(_ > 0).groupBy(identity).map { case (k, v) => k -> v.length }
    RefTraceOracle.trace(lab).map { case (v, (outer, inners)) =>
      v.toLong -> (sizes(v).toLong, RefTraceOracle.wkt(outer, inners))
    }
  }

  private def run(mask: Array[Array[Boolean]], tile: Int): Map[Long, (Long, String)] = {
    val h = mask.length
    val w = mask(0).length
    val cells = for {
      y <- 0 until h; x <- 0 until w; if mask(y)(x)
    } yield (x.toLong, y.toLong)
    import spark.implicits._
    val df = cells.toDF("gx", "gy")
    RefTrace.refOutlines(df, Bounds(w, h), tileSize = tile)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
  }

  private def check(name: String, rows: Seq[String],
                    tiles: Seq[Int] = Seq(4, 128)): Unit = {
    val mask = maskOf(rows)
    val exp = expected(mask)
    for (tile <- tiles) test(s"$name (tile=$tile)") {
      assert(run(mask, tile) === exp)
    }
  }

  check("single pixel", Seq(
    ".....",
    "..#..",
    "....."))

  check("domino + diagonal-touch pair", Seq(
    "......",
    ".##...",
    "...#..",
    "....#.",
    "......"))

  check("square with a hole", Seq(
    ".......",
    ".#####.",
    ".#...#.",
    ".#.#.#.",
    ".#...#.",
    ".#####.",
    "......."))

  check("two holes in one object (attachment order)", Seq(
    "..........",
    ".########.",
    ".#..##..#.",
    ".#..##..#.",
    ".########.",
    ".........."))

  check("hole jointly enclosed by two 8-separate objects", Seq(
    // the U (label A) and the bar below (label B) only the pair encloses
    // the middle background cell; neither alone does
    ".......",
    ".#...#.",
    ".#...#.",
    ".##.##.",
    "..###..",
    "......."))

  check("1-px corridor (walk revisits pixels)", Seq(
    ".......",
    ".#####.",
    "...#...",
    ".#####.",
    "......."))

  check("mask touching the image edge", Seq(
    "##...",
    "#..#.",
    "...##",
    ".....",
    "#...#"))

  check("nested: object in a hole of another object", Seq(
    ".........",
    ".#######.",
    ".#.....#.",
    ".#.###.#.",
    ".#.#.#.#.",
    ".#.###.#.",
    ".#.....#.",
    ".#######.",
    "........."))

  for (seed <- Seq(1, 7); density <- Seq(0.35, 0.6, 0.85)) {
    val r = new scala.util.Random(seed)
    val (w, h) = (23, 17)
    val rows = Seq.tabulate(h)(_ =>
      String.valueOf(Array.fill(w)(if (r.nextDouble() < density) '#' else '.')))
    check(s"random mask seed=$seed density=$density", rows, tiles = Seq(5, 64))
  }

  test("maxCells refusal emits null wkt with the object's own size") {
    import spark.implicits._
    val mask = maskOf(Seq(
      ".....",
      ".###.",
      ".###.",
      ".....",
      "..#.."))
    val cells = for {
      y <- mask.indices; x <- mask(0).indices; if mask(y)(x)
    } yield (x.toLong, y.toLong)
    val out = RefTrace.refOutlines(cells.toDF("gx", "gy"), Bounds(5, 5),
      tileSize = 4, maxCells = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), Option(r.getString(2)))).toMap
    assert(out(1L)._1 === 6L) // 6-cell block refused
    assert(out(1L)._2.isEmpty)
    assert(out(2L)._2.nonEmpty) // single pixel traced
  }

  // ---- refOutlinesSimplified: the full createOutlines chain ---------

  private def upsampled(mask: Array[Array[Boolean]], f: Int): Array[Array[Boolean]] =
    Array.tabulate(mask.length * f, mask(0).length * f)((j, i) => mask(j / f)(i / f))

  private def expectedSimplified(mask: Array[Array[Boolean]], f: Int,
                                 scale: Int): Map[Long, (Long, String)] = {
    val up = upsampled(mask, f)
    val lab = RefTraceOracle.labelImage(up)
    val sizes = lab.flatten.filter(_ > 0).groupBy(identity).map { case (k, v) => k -> v.length }
    def d(r: Vector[(Long, Long)]) = r.map(p => (p._1.toDouble, p._2.toDouble))
    RefTraceOracle.trace(lab).flatMap { case (v, (outer, inners)) =>
      val so = Vectorize.buildingSimplify(d(outer), scale)
      if (so.isEmpty) None
      else Some(v.toLong -> (sizes(v).toLong, RefTrace.toWktD(so,
        inners.map(h => Vectorize.buildingSimplify(d(h), scale)).filter(_.nonEmpty))))
    }
  }

  private def runSimplified(mask: Array[Array[Boolean]], f: Int, scale: Int,
                            tile: Int): Map[Long, (Long, String)] = {
    val h = mask.length
    val w = mask(0).length
    val cells = for {
      y <- 0 until h; x <- 0 until w; if mask(y)(x)
    } yield (x.toLong, y.toLong)
    import spark.implicits._
    RefTrace.refOutlinesSimplified(cells.toDF("gx", "gy"), Bounds(w, h),
      scale = scale, factor = f, tileSize = tile)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
  }

  for (tile <- Seq(7, 64)) test(s"refOutlinesSimplified == dense chain, square with hole (tile=$tile)") {
    val mask = maskOf(Seq(
      ".......",
      ".#####.",
      ".#...#.",
      ".#.#.#.",
      ".#...#.",
      ".#####.",
      "......."))
    assert(runSimplified(mask, 3, 6, tile) === expectedSimplified(mask, 3, 6))
  }

  test("refOutlinesSimplified == dense chain, random mask") {
    val r = new scala.util.Random(3)
    val (w, h) = (19, 13)
    val mask = Array.tabulate(h, w)((_, _) => r.nextDouble() < 0.55)
    assert(runSimplified(mask, 3, 6, 16) === expectedSimplified(mask, 3, 6))
  }

  test("refOutlinesSimplified drops polygons whose simplified ring is empty") {
    // a single pixel upsamples to 3x3 — findCorners needs >= 5 ring
    // vertices at scale 6, so the polygon is dropped like the reference's
    val mask = maskOf(Seq(
      ".....",
      "..#..",
      "....."))
    assert(runSimplified(mask, 3, 6, 16) === expectedSimplified(mask, 3, 6))
    assert(runSimplified(mask, 3, 6, 16).isEmpty)
  }

  test("tiled CCL path (denseThreshold=0) matches the dense oracle") {
    import spark.implicits._
    // force BOTH label passes onto the distributed tile-merge machinery
    // (small grids otherwise take the single-task dense strategy, which
    // would leave the 4-connectivity cross-tile edges unexercised)
    val mask = maskOf(Seq(
      "...........",
      ".#########.",
      ".#...#...#.",
      ".#.#.#.#.#.",
      ".#...#...#.",
      ".#########.",
      "....#......",
      ".##.#.##.#.",
      "..........."))
    val exp = expected(mask)
    val h = mask.length
    val w = mask(0).length
    val cells = for {
      y <- 0 until h; x <- 0 until w; if mask(y)(x)
    } yield (x.toLong, y.toLong)
    val got = withDenseThreshold(0) {
      RefTrace.refOutlines(cells.toDF("gx", "gy"), Bounds(w, h), tileSize = 4)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    }
    assert(got === exp)
  }

  test("stress: structured 97x53 masks (rects + noise) match the dense oracle") {
    for (seed <- Seq(11, 23, 47)) {
      val r = new scala.util.Random(seed)
      val (w, h) = (97, 53)
      val mask = Array.fill(h, w)(false)
      // solid rectangles (bodies with necks where they overlap)
      for (_ <- 0 until 14) {
        val x0 = r.nextInt(w - 3); val y0 = r.nextInt(h - 3)
        val rw = 2 + r.nextInt(12); val rh = 2 + r.nextInt(8)
        for (y <- y0 until math.min(h, y0 + rh); x <- x0 until math.min(w, x0 + rw))
          mask(y)(x) = true
      }
      // hollow rings (guaranteed holes)
      for (_ <- 0 until 6) {
        val x0 = 1 + r.nextInt(w - 12); val y0 = 1 + r.nextInt(h - 10)
        val rw = 5 + r.nextInt(6); val rh = 4 + r.nextInt(5)
        for (y <- y0 until y0 + rh; x <- x0 until x0 + rw)
          if (y == y0 || y == y0 + rh - 1 || x == x0 || x == x0 + rw - 1)
            mask(y)(x) = true
      }
      // salt noise (single pixels, diagonal touches, 1-px bridges)
      for (_ <- 0 until 400) mask(r.nextInt(h))(r.nextInt(w)) = true
      val exp = expected(mask)
      val got = run(mask, tile = 16)
      assert(got === exp, s"seed=$seed")
    }
  }

  test("walkFrom matches the dense walk on an 8-connected diagonal chain") {
    val mask = maskOf(Seq(
      "#....",
      ".#...",
      "..#..",
      "...#.",
      "....#"))
    val lab = RefTraceOracle.labelImage(mask)
    val cells = Vectorize.PackedCells(
      (for { y <- 0 until 5; x <- 0 until 5; if mask(y)(x) }
        yield (x.toLong, y.toLong)).toSet)
    assert(RefTrace.walk(cells, fg = true) === RefTraceOracle.walkImage(lab, 0, 0))
  }
}
