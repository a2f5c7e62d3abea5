package graft.grid

import graft.stencil.DenseGrid
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Bounded-radius multi-source chamfer distance transform over the
 * sparse cell table — the proximity product ("distance to the nearest
 * X within R") a raster consumer derives next after classification,
 * and the raster dual of the kNN/radius joins in `graft.join`.
 *
 * Semantics (deterministic, integer-exact): the chamfer-10/14 metric
 * (rook step = 10, diagonal = 14 — the classic integer approximation
 * of Euclidean grid distance) over OCCUPIED cells only: void cells are
 * obstacles that paths cannot cross. Every occupied cell within
 * chamfer distance `radius` of any source gets its exact minimum
 * distance; farther cells are absent from the output (honest
 * unreached, never a sentinel). The radius bound is part of the
 * operator contract, not a tuning knob: it makes BOTH the engine loop
 * and any sequential re-implementation provably terminating — rounds
 * <= radius/10 — and at 100 TB it bounds the frontier expansion the
 * same way.
 *
 * Scale shape: Bellman-Ford over the implicit 8-neighbor grid graph,
 * active-frontier form — each round explodes ONLY the cells improved
 * last round into their 8 neighbor candidates (map-side), hash-joins
 * them against the occupied-cell table, and keeps genuine improvements
 * (left join vs the running distances). Work per round is O(frontier),
 * not O(grid); total shuffle volume is O(reached * rounds_bounded).
 * Both running tables are localCheckpoint'd per round to cut lineage,
 * the same discipline as [[FlowBasins]].
 */
object DistanceTransform {

  private val Offsets8 = Seq(
    (-1L, -1L, 14L), (-1L, 0L, 10L), (-1L, 1L, 14L), (0L, -1L, 10L),
    (0L, 1L, 10L), (1L, -1L, 14L), (1L, 0L, 10L), (1L, 1L, 14L))

  /** (gx, gy, d) for every occupied cell whose chamfer distance to the
    * nearest source is <= radius. `sources` rows not present in
    * `cells` are ignored (a source must be an occupied cell).
    *
    * Grids with at most `DenseGrid.threshold` occupied cells run the
    * transform as ONE executor task (a multi-source Dijkstra sweep — 2
    * jobs instead of ~3 per Bellman-Ford round); larger grids take the
    * frontier loop. Both paths asserted equal in DistanceTransformSpec. */
  def chamferWithin(cells: DataFrame, sources: DataFrame, radius: Long,
                    maxRounds: Int = 64): DataFrame = {
    require(radius >= 0, "radius must be non-negative")
    val occ = cells.select("gx", "gy").localCheckpoint(eager = true)
    var dist = sources.select(col("gx"), col("gy"), lit(0L).as("d"))
      .distinct()
      .join(occ, Seq("gx", "gy"))
      .localCheckpoint(eager = true)
    // count reads the just-materialized blocks — no recompute
    if (occ.count() <= DenseGrid.threshold(cells.sparkSession))
      return chamferDense(occ, dist, radius)
    var frontier = dist
    var rounds = 0
    val offs = array(Offsets8.map { case (dx, dy, w) =>
      struct(lit(dx).as("dx"), lit(dy).as("dy"), lit(w).as("w"))
    }: _*)
    while (rounds < maxRounds && !frontier.isEmpty) {
      val cand = frontier
        .select(explode(offs).as("o"), col("gx"), col("gy"), col("d"))
        .select((col("gx") + col("o.dx")).as("gx"),
          (col("gy") + col("o.dy")).as("gy"),
          (col("d") + col("o.w")).as("d"))
        .filter(col("d") <= radius)
        .join(occ, Seq("gx", "gy"))
        .groupBy("gx", "gy").agg(min("d").as("d"))
      val improved = cand
        .join(dist.withColumnRenamed("d", "od"), Seq("gx", "gy"), "left")
        .filter(col("od").isNull || col("d") < col("od"))
        .select("gx", "gy", "d")
        .localCheckpoint(eager = true)
      dist = dist
        .join(improved.select("gx", "gy"), Seq("gx", "gy"), "left_anti")
        .unionByName(improved)
        .localCheckpoint(eager = true)
      frontier = improved
      rounds += 1
    }
    dist
  }

  /** Dense single-task strategy: multi-source Dijkstra over the whole
    * (gate-bounded) occupied-cell set in one executor task, entered with
    * `coalesce(1)` over the two pinned tables (no exchange). Distances
    * are exact chamfer minima, so the result set is identical to the
    * frontier loop's fixpoint regardless of processing order. The
    * sources frame is already restricted to occupied cells with d=0. */
  private def chamferDense(occ: DataFrame, sources: DataFrame,
                           radius: Long): DataFrame = {
    val spark = occ.sparkSession
    import spark.implicits._
    val tagged = occ.select(col("gx").cast("long"), col("gy").cast("long"),
        lit(false).as("src"))
      .unionByName(sources.select(col("gx").cast("long"),
        col("gy").cast("long"), lit(true).as("src")))
    tagged.as[(Long, Long, Boolean)].coalesce(1).mapPartitions { it =>
      val occSet = new java.util.HashSet[Long]()
      val srcs = new scala.collection.mutable.ArrayBuffer[Long]()
      it.foreach { case (x, y, isSrc) =>
        val k = (x << 32) | (y & 0xFFFFFFFFL)
        if (isSrc) srcs += k else occSet.add(k)
      }
      val dist = new scala.collection.mutable.LongMap[Long]()
      val pq = new java.util.PriorityQueue[Array[Long]](
        math.max(1, srcs.length),
        (a: Array[Long], b: Array[Long]) => java.lang.Long.compare(a(0), b(0)))
      srcs.foreach { k => dist.update(k, 0L); pq.add(Array(0L, k)) }
      val offs = Offsets8
      while (!pq.isEmpty) {
        val head = pq.poll()
        val (d, k) = (head(0), head(1))
        if (dist(k) == d) {
          val x = k >> 32; val y = (k << 32) >> 32
          offs.foreach { case (dx, dy, w) =>
            val nd = d + w
            if (nd <= radius) {
              val nk = ((x + dx) << 32) | ((y + dy) & 0xFFFFFFFFL)
              if (occSet.contains(nk) && (!dist.contains(nk) || nd < dist(nk))) {
                dist.update(nk, nd); pq.add(Array(nd, nk))
              }
            }
          }
        }
      }
      dist.iterator.map { case (k, d) => (k >> 32, (k << 32) >> 32, d) }
    }.toDF("gx", "gy", "d")
  }
}
