package graft

import graft.cc.ConnectedComponents
import graft.stencil.TileStencil.Bounds

class CcSpec extends SparkSpec {

  /** Independent BFS labeling. */
  private def oracle(cells: Seq[(Long, Long, Int)], w: Int,
                     maxDz: Option[Int]): Map[(Long, Long), Long] = {
    val m = cells.map(c => (c._1, c._2) -> c._3).toMap
    val seen = scala.collection.mutable.Set[(Long, Long)]()
    val out = scala.collection.mutable.Map[(Long, Long), Long]()
    for (start <- cells.map(c => (c._1, c._2)).sorted; if !seen(start)) {
      val comp = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val q = scala.collection.mutable.Queue(start)
      seen += start
      while (q.nonEmpty) {
        val cur = q.dequeue(); comp += cur
        for (dx <- -1 to 1; dy <- -1 to 1; if dx != 0 || dy != 0) {
          val n = (cur._1 + dx, cur._2 + dy)
          if (m.contains(n) && !seen(n) &&
            maxDz.forall(dz => math.abs(m(n) - m(cur)) <= dz)) {
            seen += n; q.enqueue(n)
          }
        }
      }
      val lbl = comp.map(c => c._2 * w + c._1).min
      comp.foreach(c => out(c) = lbl)
    }
    out.toMap
  }

  private def randomCells(seed: Int, w: Int, h: Int, density: Double) = {
    val r = new scala.util.Random(seed)
    (for { y <- 0L until h; x <- 0L until w; if r.nextDouble() < density }
      yield (x, y, 1 + r.nextInt(100))).toSeq
  }

  for (density <- Seq(0.2, 0.55, 0.95); tile <- Seq(5, 16, 256);
       dz <- Seq(None, Some(20));
       // 0 = force the tiled distributed path; MaxValue = dense strategy
       thresh <- Seq(0L, Long.MaxValue)) {
    val strat = if (thresh == 0L) "tiled" else "dense"
    test(s"ccl == bfs oracle (density=$density, tile=$tile, dz=$dz, $strat)") {
      import spark.implicits._
      val (w, h) = (41, 29)
      val cells = randomCells((density * 100).toInt + tile, w, h, density)
      val got = withDenseThreshold(thresh) {
        ConnectedComponents.label(cells.toDF("gx", "gy", "v").repartition(7), Bounds(w, h), tile, dz)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      }
      val want = oracle(cells, w, dz)
      assert(got.size == want.size)
      assert(got == want)
    }
  }

  test("present v = 0 cells label like any other cell (dense and tiled)") {
    import spark.implicits._
    val (w, h) = (23, 19)
    val cells = randomCells(9, w, h, 0.6).map { case (x, y, v) => (x, y, if (v <= 30) 0 else v) }
    assert(cells.exists(_._3 == 0))
    for (dz <- Seq(None, Some(20)); thresh <- Seq(0L, Long.MaxValue)) {
      val got = withDenseThreshold(thresh) {
        ConnectedComponents.label(cells.toDF("gx", "gy", "v").repartition(3), Bounds(w, h), 8, dz)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      }
      assert(got == oracle(cells, w, dz), s"dz=$dz threshold=$thresh")
    }
  }

  test("maxCount chunks a giant component deterministically and boundedly") {
    import spark.implicits._
    // one solid 120x50 block = 6000 cells, plus a small separate blob
    val (w, h) = (140, 60)
    val giant = for (y <- 0L until 50L; x <- 0L until 120L) yield (x, y, 1)
    val blob = Seq((130L, 55L, 1), (131L, 55L, 1), (131L, 56L, 1))
    val df = (giant ++ blob).toDF("gx", "gy", "v").repartition(13)
    val cap = 1000L
    val got = withDenseThreshold(0) {
      ConnectedComponents.label(df, Bounds(w, h), tileSize = 32, maxCount = Some(cap)).collect()
    }.map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
    assert(got.length == giant.size + blob.size, "no cell may be dropped")
    val bySize = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySize.values.forall(_ <= cap), s"chunk over cap: $bySize")
    // giant block -> exactly ceil(6000/1000) = 6 chunks + 1 blob label
    assert(bySize.size == 7, s"expected 7 labels, got ${bySize.size}")
    // canonical: every label is the min cell id of its chunk
    val byLabel = got.groupBy(_._2)
    byLabel.foreach { case (lbl, cs) =>
      assert(cs.map { case ((x, y), _) => y * w + x }.min == lbl)
    }
    // partitioning/tile independence
    val again = withDenseThreshold(0) {
      ConnectedComponents.label(df.repartition(3), Bounds(w, h), tileSize = 256,
        maxCount = Some(cap)).collect()
    }.map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    assert(again == got.toMap, "chunking depends on partitioning")
    // dense strategy: identical chunked labels
    val dense = withDenseThreshold(Long.MaxValue) {
      ConnectedComponents.label(df, Bounds(w, h), tileSize = 32, maxCount = Some(cap)).collect()
    }.map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    assert(dense == got.toMap, "dense strategy diverges from tiled")
  }

  test("mid gate: tiles label on the tiled path, the seam graph resolves in one task") {
    import spark.implicits._
    // the 41x29 lattice is above the gate, so the tiles label apart; its
    // seam graph (a few hundred label pairs) is not, so DupClusters
    // resolves it in one task. Tile 6 divides neither side.
    val (w, h) = (41, 29)
    val gate = w.toLong * h - 1
    val (dz, cap) = (Some(20), 15L)
    val cells = randomCells(17, w, h, 0.6)
    val df = cells.toDF("gx", "gy", "v").repartition(5)
    def run() = ConnectedComponents.label(df, Bounds(w, h), 6, dz, Some(cap))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // the cap oracle: each BFS component cut, in cell-id order, into
    // chunks of `cap` cells labeled by their minimum cell id
    val want = oracle(cells, w, dz).groupBy(_._2).values.flatMap { comp =>
      comp.keys.toSeq.sortBy { case (x, y) => y * w + x }.grouped(cap.toInt).flatMap { ch =>
        val lbl = ch.map { case (x, y) => y * w + x }.min
        ch.map(_ -> lbl)
      }
    }.toMap
    val jobs = jobsPer(
      "dense" -> (() => withDenseThreshold(Long.MaxValue)(assert(run() == want))),
      "mid" -> (() => withDenseThreshold(gate)(assert(run() == want))),
      "tiled" -> (() => withDenseThreshold(0)(assert(run() == want))))
    // tiles cost jobs the one dense task does not; the seam graph's
    // propagation rounds cost jobs its one task does not
    assert(jobs("dense") < jobs("mid") && jobs("mid") < jobs("tiled"), s"$jobs")
  }

  test("cap rank is two-stage: 12x-cap component, no single-partition cell sort") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.catalyst.expressions.RowNumber
    // vertical strip of 12,000 cells on a lattice wide enough that the
    // strip spans ~6,000 cid blocks (w = 2^19, block = 2^20): the local
    // rank genuinely composes with the prefix offsets; the 6.3e9-cell
    // lattice is far above the dense gate
    val w = 1 << 19
    val h = 12000
    val strip = (0L until 12000L).map(y => (5L, y, 1))
    val df = strip.toDF("gx", "gy", "v").repartition(7)
    val cap = 1000L
    val out = ConnectedComponents.label(df, Bounds(w, h), tileSize = 4096,
      maxCount = Some(cap))

    // plan-asserted: every row_number window partitions by >= 2 keys —
    // the old single-stage rank partitioned the whole CELL table by
    // label alone, serializing a giant component through one sort
    val rnWindows = out.queryExecution.optimizedPlan.collect {
      case win: LWindow if win.windowExpressions.exists(
        _.collectFirst { case _: RowNumber => () }.isDefined) => win
    }
    assert(rnWindows.nonEmpty, "expected a row_number window in the cap path")
    rnWindows.foreach { win =>
      assert(win.partitionSpec.size >= 2,
        s"cell rank partitions by ${win.partitionSpec} — single-task sort")
    }

    val got = out.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
    assert(got.length == 12000, "no cell may be dropped")
    val bySize = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySize.size == 12, s"expected 12 chunks, got ${bySize.size}")
    assert(bySize.values.forall(_ == cap), s"uneven chunks: $bySize")
    // canonical chunk labels: min cid of each 1000-cell run
    (0 until 12).foreach { k =>
      val want = 1000L * k * w + 5L
      assert(bySize.contains(want), s"missing canonical chunk label $want")
    }
  }

  test("outlines refuses over-cap labels, traces the rest") {
    import graft.vector.Vectorize
    import spark.implicits._
    val giant = for (y <- 0L until 40L; x <- 0L until 40L) yield (x, y, 7L)
    val small = Seq((50L, 50L, 99L), (51L, 50L, 99L))
    val df = (giant ++ small).toDF("gx", "gy", "label")
    val out = Vectorize.outlines(df, maxCells = 100L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2))))).toMap
    assert(out(7L)._1 == 1600L && out(7L)._2.isEmpty, "giant label must be refused")
    assert(out(99L)._1 == 2L && out(99L)._2.exists(_.startsWith("MULTIPOLYGON")))
  }

  test("dz constraint splits a gradient ramp into plateaus") {
    import spark.implicits._
    // a 1x12 strip with values 0,0,0,100,100,100,0,0,0,100,100,100
    val cells = (0L until 12L).map(x => (x, 0L, if ((x / 3) % 2 == 0) 10 else 110))
    val got = ConnectedComponents.label(cells.toDF("gx", "gy", "v"),
        Bounds(12, 1), tileSize = 4, maxDz = Some(50))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got.values.toSet.size == 4) // four plateaus
    assert((0L until 12L).forall(x => got(x) == (x / 3) * 3))
  }
}
