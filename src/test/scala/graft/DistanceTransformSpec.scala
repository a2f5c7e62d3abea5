package graft

import graft.grid.DistanceTransform
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalar oracle for the bounded chamfer transform: plain Dijkstra
  * over the occupied cells — a different algorithm family than the
  * engine's Bellman-Ford rounds. */
class DistanceTransformSpec extends SparkSpec {
  import spark.implicits._

  private def dijkstra(cells: Set[(Long, Long)], sources: Set[(Long, Long)],
                       radius: Long): Map[(Long, Long), Long] = {
    val offs = Seq((-1L, -1L, 14L), (-1L, 0L, 10L), (-1L, 1L, 14L),
      (0L, -1L, 10L), (0L, 1L, 10L), (1L, -1L, 14L), (1L, 0L, 10L),
      (1L, 1L, 14L))
    val dist = scala.collection.mutable.Map[(Long, Long), Long]()
    val pq = scala.collection.mutable.PriorityQueue
      .empty[(Long, (Long, Long))](Ordering.by(-_._1))
    sources.filter(cells).foreach { s => dist(s) = 0L; pq.enqueue((0L, s)) }
    while (pq.nonEmpty) {
      val (d, c) = pq.dequeue()
      if (dist(c) == d) offs.foreach { case (dx, dy, w) =>
        val n = (c._1 + dx, c._2 + dy)
        val nd = d + w
        if (nd <= radius && cells(n) && dist.get(n).forall(_ > nd)) {
          dist(n) = nd; pq.enqueue((nd, n))
        }
      }
    }
    dist.toMap
  }

  private def toDf(cells: Set[(Long, Long)]): DataFrame =
    cells.toSeq.map { case (x, y) => (x, y, 1L) }.toDF("gx", "gy", "v")

  private def srcDf(s: Set[(Long, Long)]): DataFrame =
    s.toSeq.toDF("gx", "gy")

  private def run(cells: Set[(Long, Long)], sources: Set[(Long, Long)],
                  radius: Long): Map[(Long, Long), Long] =
    DistanceTransform.chamferWithin(toDf(cells), srcDf(sources), radius)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap

  // a 16x10 field with a wall gap forcing a detour
  private val field: Set[(Long, Long)] = {
    val full = (for (x <- 0L until 16L; y <- 0L until 10L) yield (x, y)).toSet
    val wall = (0L until 9L).map(y => (8L, y)).toSet // gap at y=9 only
    full -- wall
  }

  test("chamferWithin == Dijkstra around an obstacle wall") {
    val sources = Set((1L, 1L), (2L, 7L))
    for (radius <- Seq(0L, 14L, 60L, 300L)) {
      assert(run(field, sources, radius) ===
        dijkstra(field, sources, radius), s"radius $radius")
    }
  }

  test("detour distance is the wall-gap path, not the straight line") {
    val got = run(field, Set((1L, 5L)), 400L)
    val want = dijkstra(field, Set((1L, 5L)), 400L)
    assert(got === want)
    // (12,5) straight-line chamfer would be 11 rook steps = 110; the
    // forced detour through (8,9) is strictly longer
    assert(got((12L, 5L)) > 110L)
  }

  test("sources not on occupied cells are ignored") {
    val got = run(field, Set((8L, 0L), (1L, 1L)), 60L) // (8,0) is wall
    assert(got === dijkstra(field, Set((1L, 1L)), 60L))
  }

  test("unreached cells are absent, not sentinel-valued") {
    val got = run(field, Set((0L, 0L)), 20L)
    assert(got.values.forall(_ <= 20L))
    assert(!got.contains((15L, 9L)))
  }

  test("invariant under input partitioning") {
    val sources = Set((1L, 1L), (14L, 8L))
    val a = DistanceTransform
      .chamferWithin(toDf(field).repartition(1), srcDf(sources), 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = DistanceTransform
      .chamferWithin(toDf(field).repartition(7, col("gy")),
        srcDf(sources).repartition(3), 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("dense and distributed strategies agree (wall field)") {
    val sources = Set((1L, 5L), (14L, 8L))
    val dense = run(field, sources, 300L) // default gate: dense path
    val dist = withDenseThreshold(0) {
      DistanceTransform.chamferWithin(toDf(field), srcDf(sources), 300L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    assert(dense === dist)
    assert(dense === dijkstra(field, sources, 300L))
  }

  test("the dense strategy runs no shuffle exchange") {
    // the single task is entered with coalesce(1) over the pinned tables
    val out = DistanceTransform.chamferWithin(toDf(field), srcDf(Set((1L, 5L))), 300L)
    assert(out.count() == field.size.toLong)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"dense transform shuffles:\n$plan")
  }
}
