package graft

import graft.cc.ScanlineFill
import graft.stencil.{Kernels, TileStencil}
import graft.stencil.TileStencil.Bounds

/** W14 boundary extension + G5 scanline fill on constructed scenes. */
class GroundSpec extends SparkSpec {

  private val b = Bounds(24, 24)

  /** DSM: ground at 1000, a 8x8 box at 30000 spanning (8..15, 8..15). */
  private def boxDsm: Seq[(Long, Long, Int)] =
    (for (y <- 0L until 24L; x <- 0L until 24L) yield {
      val v = if (x >= 8 && x <= 15 && y >= 8 && y <= 15) 30000 else 1000
      (x, y, v)
    }).toSeq

  test("G5 scanline fill: ring boundary fills to the full box interior") {
    import spark.implicits._
    val ring = (for (y <- 8L to 15L; x <- 8L to 15L
                     if x == 8 || x == 15 || y == 8 || y == 15)
      yield (x, y, 77L)).toSeq
    val labeled = ring.toDF("gx", "gy", "label")
    val dsm = boxDsm.toDF("gx", "gy", "v")
    val out = ScanlineFill(labeled, dsm, dzRaw = 3000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantBox = (for (y <- 8L to 15L; x <- 8L to 15L) yield (x, y)).toSet
    assert(out == wantBox, s"missing ${wantBox -- out}, extra ${out -- wantBox}")
  }

  test("G5 does not fill cells at ground level inside a span") {
    import spark.implicits._
    // two separate labeled columns with flat ground between them
    val labeled = Seq((5L, 5L, 1L), (10L, 5L, 1L)).toDF("gx", "gy", "label")
    val dsm = (for (x <- 0L until 16L) yield (x, 5L,
      if (x == 5 || x == 10) 20000 else 1000)).toDF("gx", "gy", "v")
    val out = ScanlineFill(labeled, dsm, dzRaw = 3000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((5L, 5L), (10L, 5L)), s"got $out")
  }

  test("composed object detection finds the box, not the ground") {
    import spark.implicits._
    val dsm = boxDsm.toDF("gx", "gy", "v")
    val objs = graft.api.GroundObjects.detect(dsm, b,
        graft.api.GroundObjects.Config(tileSize = 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every interior box cell detected; ground cells away from the box not
    val boxInterior = (for (y <- 9L to 14L; x <- 9L to 14L) yield (x, y)).toSet
    assert(boxInterior.subsetOf(objs), s"missing ${boxInterior -- objs}")
    val farGround = (for (y <- 0L to 3L; x <- 0L to 3L) yield (x, y)).toSet
    assert((objs & farGround).isEmpty, s"ground mislabeled: ${objs & farGround}")
  }

  test("detect: dense single-task strategy equals the tiled chain") {
    import spark.implicits._
    // structured scene: the box + a second offset block + pseudo-random
    // bumps so seeds, relaxation growth, and the fill all engage
    val rnd = new scala.util.Random(7)
    val dsm = (for (y <- 0L until 24L; x <- 0L until 24L) yield {
      val v =
        if (x >= 8 && x <= 15 && y >= 8 && y <= 15) 30000
        else if (x >= 2 && x <= 4 && y >= 18 && y <= 21) 12000
        else 1000 + rnd.nextInt(500)
      (x, y, v)
    }).toDF("gx", "gy", "v")
    def run() = graft.api.GroundObjects.detect(dsm, b, graft.api.GroundObjects.Config(tileSize = 8))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    var (dense, tiled) = (Set.empty[(Long, Long, Long)], Set.empty[(Long, Long, Long)])
    val jobs = jobsPer("dense" -> (() => dense = run()),
      "tiled" -> (() => tiled = withDenseThreshold(0)(run())))
    assert(jobs("tiled") > jobs("dense"), s"the tiled side is not tiled: $jobs")
    assert(dense === tiled)
  }

  test("forced-tiled detect: the seed + relaxation chain is one shuffle") {
    import spark.implicits._
    // tile 8 is the chain's radius 2 * dh + 2 * extensionRounds: the
    // halo reaches the next tile but one
    val dsm = boxDsm.toDF("gx", "gy", "v")
    val jobs = jobsPer("tiled" -> (() => withDenseThreshold(0)(graft.api.GroundObjects
      .detect(dsm, b, graft.api.GroundObjects.Config(tileSize = 8)).collect())))
    assert(jobs("tiled") <= 53, s"forced-tiled detect ran ${jobs("tiled")} jobs")
  }

  test("G4 gradient accept/reject drops low ridges, keeps real objects") {
    import spark.implicits._
    // object A: tall box (step 29000); object B: low ridge (step 800 < dz/2)
    val dsm = ((for (y <- 0L until 24L; x <- 0L until 24L) yield {
      val v = if (x >= 2 && x <= 5 && y >= 2 && y <= 5) 30000
      else if (x >= 12 && x <= 15 && y >= 12 && y <= 15) 1800
      else 1000
      (x, y, v)
    })).toDF("gx", "gy", "v")
    val labeled = ((for (y <- 2L to 5L; x <- 2L to 5L) yield (x, y, 1L)) ++
      (for (y <- 12L to 15L; x <- 12L to 15L) yield (x, y, 2L))).toDF("gx", "gy", "label")
    val kept = graft.api.GroundObjects.acceptByGradient(labeled, dsm, dzRaw = 3000)
      .select("label").distinct().collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"kept $kept")
  }

  test("W14 extension grows labels along close heights, stops at cliffs") {
    import spark.implicits._
    // a 1-D ramp: labeled seed at x=10; heights close until x=15, cliff after
    val cells = (0L until 24L).map { x =>
      val dsm = if (x <= 15) 10000 + x.toInt * 100 else 30000
      val lbl = if (x == 10) 1 else 0
      (x, 3L, (lbl << 17) | dsm)
    }
    var df = cells.toDF("gx", "gy", "v")
    (0 until 8).foreach { _ =>
      df = TileStencil(df, Kernels.ExtendMark(500), b, tileSize = 8)
      df = TileStencil(df, Kernels.ExtendResolve(), b, tileSize = 8)
    }
    val lbls = df.collect().map(r => r.getLong(0) -> (r.getInt(2) >>> 17)).toMap
    // the ramp ascends: cells left of the seed are lower than a neighbor
    // chain; extension crosses only |dz|<=500 steps (ramp step 100) and
    // never the 14000-cliff at x=16
    assert((11L to 15L).forall(x => lbls(x) == 1), s"ramp right not labeled: $lbls")
    assert((16L to 23L).forall(x => lbls(x) == 0), "cliff crossed")
    assert(lbls(10L) == 1)
  }
}
