package graft

import graft.api.ClassifyGround
import graft.stencil.DenseGrid
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

/** The reference DTM loop, pinned three ways: (1) exact equality with
  * the dense single-threaded oracle on synthetic scenes, (2) exact
  * equality across parallelism levels (shuffle partitions 2 vs 8 with
  * different input partitioning — the in-JVM stand-in for local[2] vs
  * local[8]), (3) exact equality of the full q_shr3d_dtm product with
  * the committed golden parquet (regenerate with
  * `Test/runMain graft.GoldenGen` when semantics intentionally move). */
class DtmSpec extends SparkSpec {

  /** Synthetic scene: tilted ground + two buildings + voids + trees. */
  private def scene(w: Int, h: Int, seed: Int)
  : (Map[(Long, Long), Int], Map[(Long, Long), Int]) = {
    val rnd = new scala.util.Random(seed)
    def ground(x: Long, y: Long): Int = (1000 + 3 * x + 7 * y).toInt
    val all = for (y <- 0L until h; x <- 0L until w) yield (x, y)
    def roof(x: Long, y: Long): Int =
      if (x >= 8 && x <= 20 && y >= 6 && y <= 16) ground(x, y) + 5000
      else if (x >= 30 && x <= 33 && y >= 25 && y <= 27) ground(x, y) + 8000
      else ground(x, y)
    val minG = all.flatMap { case (x, y) =>
      if (rnd.nextDouble() < 0.12) None else Some((x, y) -> roof(x, y))
    }.toMap
    val solid = all.flatMap { case (x, y) =>
      if (rnd.nextDouble() < 0.08) None else Some((x, y) -> (roof(x, y) + 40))
    }.toMap
    (minG, solid)
  }

  /** The tiled loop (`ClassifyGround.run` under a 0 dense gate, so its
    * own fills and labelings stay tiled on these small rasters), or with
    * `dense` the one-task strategy through the entry `Shr3d` uses below
    * the gate. */
  private def runEngine(minG: Map[(Long, Long), Int],
                        solid: Map[(Long, Long), Int], w: Int, h: Int,
                        dz: Int, dh: Int, maxCount: Long, tile: Int,
                        parts: Int, dense: Boolean = false)
  : (Map[(Long, Long), Int], Set[(Long, Long)]) = {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try {
      val minDf = minG.toSeq.map { case ((x, y), v) => (x, y, v) }
        .toDF("gx", "gy", "v").repartition(parts)
      val solidDf = solid.toSeq.map { case ((x, y), v) => (x, y, v) }
        .toDF("gx", "gy", "v").repartition(parts)
      val bounds = Bounds(w, h)
      val cfg = ClassifyGround.Config(dzRaw = dz, dhBins = dh, iterations = 5,
        maxCount = maxCount, tileSize = tile)
      def collected(res: ClassifyGround.Result) = (
        res.dtm.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap,
        res.voidMask.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      if (dense)
        collected(ClassifyGround.denseResult(DenseGrid.task(Seq(minDf, solidDf), bounds) { g =>
          ClassifyGround.denseRows(g(0), g(1), cfg)
        }(Encoders.product[DenseGrid.Tagged]).toDF()))
      else withDenseThreshold(0)(collected(ClassifyGround.run(minDf, solidDf, bounds, cfg)))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  for (seed <- Seq(11, 77)) test(s"classifyGround == dense oracle (dh=1, seed=$seed)") {
    val (w, h) = (44, 36)
    val (minG, solid) = scene(w, h, seed)
    val (dtm, mask) = runEngine(minG, solid, w, h, dz = 900, dh = 1,
      maxCount = 100000L, tile = 16, parts = 4)
    val (oDtm, oMask) = DtmOracle.classifyGround(minG, solid, w, h,
      dz = 900, dh = 1, iters = 5, maxCount = 100000L)
    assert(mask == oMask, s"void mask differs: engine ${mask.size} vs oracle ${oMask.size}")
    assert(dtm == oDtm, s"dtm differs: engine ${dtm.size} vs oracle ${oDtm.size}")
    // the loop must actually remove the big roof: DTM under building A
    // is near the ground plane, far below the +5000 roof
    val underA = dtm((14L, 11L))
    assert(underA < 1000 + 3 * 14 + 7 * 11 + 2000, s"roof survived: $underA")
  }

  test("classifyGround == dense oracle (dh=2, chunked at maxCount=60)") {
    val (w, h) = (40, 30)
    val (minG, solid) = scene(w, h, seed = 23)
    val (dtm, mask) = runEngine(minG, solid, w, h, dz = 900, dh = 2,
      maxCount = 60L, tile = 8, parts = 4)
    val (oDtm, oMask) = DtmOracle.classifyGround(minG, solid, w, h,
      dz = 900, dh = 2, iters = 5, maxCount = 60L)
    assert(mask == oMask)
    assert(dtm == oDtm)
  }

  test("dense single-task strategy == tiled distributed strategy") {
    val (w, h) = (44, 36)
    val (minG, solid) = scene(w, h, seed = 51)
    val tiled = runEngine(minG, solid, w, h, 900, 1, 100000L, tile = 16,
      parts = 4)
    val dense = runEngine(minG, solid, w, h, 900, 1, 100000L, tile = 16,
      parts = 4, dense = true)
    assert(dense == tiled, "strategy gate changes the product")
    // and with chunking engaged
    val tiled2 = runEngine(minG, solid, w, h, 900, 2, 60L, tile = 8,
      parts = 4)
    val dense2 = runEngine(minG, solid, w, h, 900, 2, 60L, tile = 8,
      parts = 4, dense = true)
    assert(dense2 == tiled2)
  }

  test("forced-tiled run: one relax shuffle per iteration, no packing join or per-round pins") {
    val (w, h) = (44, 36)
    val (minG, solid) = scene(w, h, seed = 51)
    val jobs = jobsPer("tiled" -> (() =>
      runEngine(minG, solid, w, h, 900, 1, 100000L, tile = 16, parts = 4)))
    assert(jobs("tiled") <= 237, s"forced-tiled classifyGround ran ${jobs("tiled")} jobs")
  }

  test("dtm identical at parallelism 2 vs 8") {
    val (w, h) = (40, 30)
    val (minG, solid) = scene(w, h, seed = 37)
    val a = runEngine(minG, solid, w, h, 900, 1, 100000L, tile = 8, parts = 2)
    val b = runEngine(minG, solid, w, h, 900, 1, 100000L, tile = 32, parts = 8)
    assert(a == b, "DTM depends on parallelism/tiling")
  }

  test("q_shr3d_dtm matches the committed golden parquet") {
    val goldenPath = "src/test/resources/golden/q_shr3d_dtm_sf0001.parquet"
    assume(new java.io.File(goldenPath).exists(), "golden not generated yet")
    val got = SparkEntry.queries("q_shr3d_dtm")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val want = spark.read.parquet(goldenPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == want, s"got ${got.size} cells, golden ${want.size}")
  }
}
