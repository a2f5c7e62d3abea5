package graft.grid

import graft.stencil.{DenseGrid, Kernels, TileStencil}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * D8 drainage analysis over a DSM — the hydrology companions of
 * [[graft.stencil.Kernels.AspectD8]]: basin labels (the sink each cell's
 * steepest-descent path terminates in) and flow-path length (hops along
 * that path). The reference's raster family stops at per-cell products
 * (slope/aspect are local stencils); these are the canonical NON-local
 * raster derivatives, and the reason this module is a distributed graph
 * loop instead of a kernel: a flow path can cross the whole grid, so no
 * bounded halo can compute it.
 *
 * Graph shape: the D8 next-pointer is a total function on the cell set
 * (full-support descending cells point at their lowest neighbor —
 * smallest-index tie-break, exactly [[Kernels.AspectD8]]; everything
 * else, i.e. local minima, flats, and support-less border cells, is a
 * sink pointing at itself). A functional graph with self-loop sinks has
 * no cycles to detect — every path ends in a sink — so path resolution is
 * pure pointer DOUBLING carrying an additive edge weight (Wyllie's
 * list-ranking step, JACM 1979 folklore): after k rounds each cell's
 * pointer has advanced 2^k hops and its weight holds the weight-sum of
 * the hops taken, so the loop converges in ceil(log2(longest flow path))
 * rounds, each round ONE equi-join of the still-active frontier against
 * the full (cell, pointer, weight) lookup on packed Long ids; a row
 * converges exactly when it hops through a self-loop (detected inside
 * the same join), so convergence needs no separate sink anti-join, and
 * converged rows leave the frontier while staying on the lookup side
 * (path compression — their weight is the full remaining distance, so a
 * later hop through them lands on the sink with the exact total). At
 * 100 TB the lookup table shuffles by cell id each round — O(|V|) per
 * round, O(|V| log d) total, with the streamed side shrinking
 * geometrically; the same contract as [[graft.dedup.DupClusters]]
 * (label propagation), but doubling not halving, because a functional
 * graph needs no neighbor-min step.
 *
 * Determinism: the next-pointer is a pure function of cell values (the
 * kernel's tie-break), and doubling composes it — output independent of
 * partitioning, round pacing, or tile size (pinned by FlowSpec across
 * tile sizes and against a sequential walker).
 */
object FlowBasins {

  /** Wyllie weighted pointer-doubling over a functional graph with
    * self-loop sinks. Input/output columns `(id: long, nid: long,
    * w: long)`: on input `nid` is the next pointer (`nid == id` marks a
    * sink) and `w` the weight of that hop (MUST be 0 on self-loops); on
    * output `nid` is the terminal sink of `id`'s path and `w` the total
    * path weight. The generic core behind [[basins]]/[[paths]] and the
    * Euler-tour list ranking in [[FlowAccum]]. Lists of at most
    * `DenseGrid.threshold` pointer rows resolve in ONE executor task (a
    * memoized sequential walk — 2 jobs instead of ~2 per doubling round);
    * larger lists take the doubling loop. Both paths are asserted equal
    * in FlowSpec.
    *
    * @param maxRounds doubling-round bound; 64 covers any path that fits
    *                  in a 2^63-row list, so hitting it means a bug, and
    *                  the loop throws instead of returning partial labels
    */
  def resolve(next: DataFrame, maxRounds: Int = 64): DataFrame = {
    var frontier = next.select(col("id").cast("long"), col("nid").cast("long"),
      col("w").cast("long")).localCheckpoint(eager = true)
    // the count reads the just-materialized blocks — no recompute
    if (frontier.count() <= DenseGrid.threshold(next.sparkSession))
      return resolveDense(frontier)
    // Active-frontier doubling with path compression. A row is converged
    // exactly when its pointer IS a sink, and the compose join sees that
    // for free: the row it hops through self-loops (jid === jnid, weight
    // 0 by contract), so no separate sinks table and no per-round
    // anti-join convergence probe — convergence is a trivial filter over
    // the checkpointed result. Converged rows leave the frontier (their
    // weights are final; keeping them on the lookup side path-compresses
    // later hops straight to the sink with the exact remaining weight),
    // so the streamed side shrinks geometrically while the lookup side
    // stays O(|V|).
    //
    // Each materialized round runs TWO pointer compositions back to back
    // (the second composes the first's output against itself ∪ finished),
    // advancing 4x per round instead of 2x: ceil(log4 d) checkpoint+scan
    // cycles instead of ceil(log2 d), at the same O(|V| log d) total
    // shuffle volume — per-round fixed cost (job scheduling, lineage
    // materialization) is the dominant term for short lists and the
    // shuffle volume is unchanged at scale. A row already converged
    // after the first composition re-joins the sink's self-loop (weight
    // 0) in the second, so the fused pair needs no intermediate filter.
    var finished = List.empty[DataFrame]
    var round = 0
    while (!frontier.isEmpty) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"pointer doubling did not converge in $maxRounds rounds")
      val lookup = (frontier :: finished).reduce(_ unionByName _)
        .select(col("id").as("jid"), col("nid").as("jnid"), col("w").as("jw"))
      val step1 = frontier.join(lookup, frontier("nid") === lookup("jid"))
        .select(frontier("id"), col("jnid").as("nid"),
          (frontier("w") + col("jw")).as("w"))
      val lookup2 = (step1 :: finished).reduce(_ unionByName _)
        .select(col("id").as("jid"), col("nid").as("jnid"), col("w").as("jw"))
      val composed = step1.join(lookup2, step1("nid") === lookup2("jid"))
        .select(step1("id"), col("jnid").as("nid"),
          (step1("w") + col("jw")).as("w"),
          (col("jid") === col("jnid")).as("done"))
        .localCheckpoint(eager = true)
      finished = composed.filter(col("done"))
        .select(col("id"), col("nid"), col("w")) :: finished
      frontier = composed.filter(!col("done"))
        .select(col("id"), col("nid"), col("w"))
    }
    (next.limit(0).select(col("id").cast("long"), col("nid").cast("long"),
      col("w").cast("long")) :: finished).reduce(_ unionByName _)
  }

  /** Dense single-task strategy: memoized sequential path walk over the
    * whole (gate-bounded) pointer table in one executor task, entered
    * with `coalesce(1)` over the pinned table (no exchange) — same
    * contract as the doubling loop: output nid = terminal self-loop of
    * the path, w = sum of hop weights (self-loop hops carry 0 by the
    * input contract, so sinks resolve to themselves with their own w=0).
    * Iterative with an explicit path stack; each node is walked once
    * (memoized), so the sweep is O(rows). */
  private def resolveDense(pt: DataFrame): DataFrame = {
    val spark = pt.sparkSession
    import spark.implicits._
    pt.as[(Long, Long, Long)].coalesce(1).mapPartitions { it =>
      val arr = it.toArray
      val nxt = new scala.collection.mutable.LongMap[Long](arr.length * 2)
      val wgt = new scala.collection.mutable.LongMap[Long](arr.length * 2)
      arr.foreach { case (id, nid, w) => nxt.update(id, nid); wgt.update(id, w) }
      // memo: id -> (sink, total remaining weight from id)
      val sink = new scala.collection.mutable.LongMap[Long](arr.length * 2)
      val dist = new scala.collection.mutable.LongMap[Long](arr.length * 2)
      val stack = new scala.collection.mutable.ArrayBuffer[Long]()
      arr.foreach { case (id0, _, _) =>
        if (!sink.contains(id0)) {
          var c = id0
          stack.clear()
          // walk until a self-loop or an already-resolved node
          while (!sink.contains(c) && nxt(c) != c) { stack += c; c = nxt(c) }
          var s = 0L; var d = 0L
          if (sink.contains(c)) { s = sink(c); d = dist(c) }
          else { s = c; d = 0L; sink.update(c, c); dist.update(c, 0L) }
          var i = stack.length - 1
          while (i >= 0) {
            val n = stack(i)
            d += wgt(n)
            sink.update(n, s); dist.update(n, d)
            i -= 1
          }
        }
      }
      arr.iterator.map { case (id, _, _) => (id, sink(id), dist(id)) }
    }.toDF("id", "nid", "w")
  }

  /** The D8 next-pointer table for a sparse DSM: `(id, nid)` on packed
    * 32/32 Long cell ids — descending cells step to their steepest-descent
    * neighbor, sinks self-loop. */
  def nextPointer(dsm: DataFrame, bounds: TileStencil.Bounds,
                  tileSize: Int = 128): DataFrame = {
    val cells = dsm.select(col("gx").cast("long"), col("gy").cast("long"),
      col("v").cast("int"))

    // D8 aspect: 1..8 index of the steepest-descent neighbor; absent for
    // sinks (local minima / flats / no full support)
    val aspect = TileStencil(cells, Kernels.AspectD8, bounds, tileSize)
      .select(col("gx"), col("gy"), col("v").as("idx"))

    // idx -> (dx, dy) via a broadcast 8-row join, NOT element_at over a
    // literal array: Spark 4.1's SimplifyExtractValueOps folds
    // element_at(CreateArray(lits), idx) into a CASE whose ELSE branch is
    // the LAST element, so a null idx (our sinks, from the left join)
    // silently reads as offset (1,1) instead of null — measured, not
    // hypothesized: every sink vanished and the doubling loop never
    // converged.
    val spark = dsm.sparkSession
    import spark.implicits._
    val offDf = broadcast(
      Kernels.AspectD8.Offsets.zipWithIndex
        .map { case ((dx, dy), i) => (i + 1, dx.toLong, dy.toLong) }
        .toDF("idx", "dx", "dy"))

    def packed(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      shiftleft(x, 32).bitwiseOR(y) // coords non-negative and < 2^31

    cells.join(aspect, Seq("gx", "gy"), "left")
      .join(offDf, Seq("idx"), "left")
      .select(
        packed(col("gx"), col("gy")).as("id"),
        packed(
          col("gx") + coalesce(col("dx"), lit(0L)),
          col("gy") + coalesce(col("dy"), lit(0L)))
          .as("nid"))
  }

  /** Unpack a resolved `(id, nid, w)` table back to grid coordinates. */
  private def unpack(pt: DataFrame): DataFrame =
    pt.select(
      shiftrightunsigned(col("id"), 32).as("gx"),
      col("id").bitwiseAND(lit(0xFFFFFFFFL)).as("gy"),
      shiftrightunsigned(col("nid"), 32).as("sink_x"),
      col("nid").bitwiseAND(lit(0xFFFFFFFFL)).as("sink_y"),
      col("w").as("dist"))

  /** Full D8 path resolution per DSM cell: (gx, gy, sink_x, sink_y,
    * dist) where (sink_x, sink_y) terminates the cell's steepest-descent
    * path and dist is its hop count (0 for sinks) — basin label and
    * flow-path length from one doubling loop. */
  def paths(dsm: DataFrame, bounds: TileStencil.Bounds,
            tileSize: Int = 128, maxRounds: Int = 64): DataFrame = {
    val next = nextPointer(dsm, bounds, tileSize)
      .withColumn("w", (col("id") =!= col("nid")).cast("long"))
    unpack(resolve(next, maxRounds))
  }

  /** Basin label per DSM cell: (gx, gy, sink_x, sink_y) where
    * (sink_x, sink_y) is the terminal cell of the cell's D8 path. */
  def basins(dsm: DataFrame, bounds: TileStencil.Bounds,
             tileSize: Int = 128, maxRounds: Int = 64): DataFrame =
    paths(dsm, bounds, tileSize, maxRounds)
      .select(col("gx"), col("gy"), col("sink_x"), col("sink_y"))
}
