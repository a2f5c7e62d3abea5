package graft.api

import graft.cc.{ConnectedComponents, FillObjectBounds, ScanlineFill}
import graft.pyramid.FillVoids
import graft.stencil.{DenseGrid, Kernels, TileStencil}
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The reference's DTM core: the iterative multi-scale classifyGround
 * loop (pubgeo `src/shr3d/shr3d.cpp:899-1013`), re-expressed as a
 * checkpointed DataFrame loop.
 *
 * Per the reference:
 *  1. the working DTM starts as the MIN surface and is void-filled
 *     (noSmoothing) to a dense lattice;
 *  2. `iterations` (= 5) passes of:
 *     W13 boundary seeds (`labelObjectBoundaries`, :592-624) ->
 *     W14 extension rounds (`extendObjectBoundaries`, :536-589) ->
 *     G2 dz-connected components with the maxCount region cap
 *     (`groupObjects`, :831-885) ->
 *     G5 interior fill per object (`fillObjectBounds`, :626-788);
 *     every cell any pass touched joins the accumulated VOID mask, is
 *     removed from the DTM, and the holes are pyramid-filled
 *     (noSmoothing except the final iteration, :951-960);
 *  3. DSM-restore: DTM cells at or above the (tree-voided) DSM take the
 *     DSM value and leave the void mask (:963-972);
 *  4. W12 single-cell spike removal joins the void mask (:975-994);
 *  5. all void-mask cells are re-voided and filled once more WITH
 *     smoothing (:996-1003).
 *
 * Returns the final dense DTM and the void mask (the reference's LBL
 * product: mask cell = labeled/removed, absent = ground).
 *
 * Determinism: every stage is partitioning-independent (stencil kernels,
 * canonical CCL chunking, per-object independent fills, exact integer
 * pyramid fills), so the product is bit-identical at any parallelism —
 * asserted by DtmSpec against the committed golden parquet and a dense
 * single-threaded oracle.
 */
object ClassifyGround {

  final case class Config(
      dzRaw: Int, dhBins: Int = 1, iterations: Int = 5,
      maxCount: Long = 40000L, tileSize: Int = 64)

  final case class Result(dtm: DataFrame, voidMask: DataFrame)

  /** The tiled distributed loop. Rasters within `DenseGrid.fits` take
    * the one-task strategy instead ([[denseRows]] inside a
    * `DenseGrid.task`, then [[denseResult]]): the reference's own working
    * set fits one node, and ~40 tiny Spark stages per iteration cost more
    * than the raster. The caller picks (`Shr3d.Products`); the loop's
    * fills and labelings gate on the same bounds, so they follow that
    * choice. Both strategies run the same seed + relaxation chain
    * ([[relax]]), here once per tile-with-halo; they are asserted equal
    * in DtmSpec. */
  def run(minGrid: DataFrame /* gx, gy, v */,
          solidDsm: DataFrame /* gx, gy, v — DSM with tree cells voided */,
          bounds: Bounds, cfg: Config): Result = {
    val spark = minGrid.sparkSession
    import spark.implicits._
    val dz = cfg.dzRaw
    val tile = cfg.tileSize

    var dtm = FillVoids(minGrid, bounds, noSmoothing = true).localCheckpoint()
    var voidMask = Seq.empty[(Long, Long)].toDF("gx", "gy").localCheckpoint()
    var maskCount = 0L
    var converged = false

    for (k <- 0 until cfg.iterations if !converged) {
      // W13 seeds + W14 extension over the evolving DTM: one shuffle
      val objCells = DenseGrid.tiles(Seq(dtm), bounds, tile, 4 * cfg.dhBins)(g => relax(g(0), cfg))
      // G2: dz-connected labels with the region cap
      val labeled = ConnectedComponents.label(objCells, bounds, tile,
        maxDz = Some(dz), maxCount = Some(cfg.maxCount))
      // G5: per-object interior fill -> this iteration's void cells
      val voided = FillObjectBounds(labeled.select("gx", "gy", "label"),
        dtm, bounds, cfg.dhBins)
      voidMask = voidMask.unionByName(voided).distinct().localCheckpoint()
      val n = voidMask.count()
      // Fixpoint early exit — EXACT, not approximate: every stage is a
      // deterministic function of (dtm, voidMask), and dtm is a
      // deterministic function of voidMask, so an iteration that adds
      // no mask cell reproduces itself verbatim; the remaining
      // iterations reduce to the final smoothed fill below.
      converged = n == maskCount && k < cfg.iterations - 1
      maskCount = n
      val ground = dtm.join(voidMask, Seq("gx", "gy"), "left_anti")
      dtm = FillVoids(ground, bounds,
        noSmoothing = !converged && k < cfg.iterations - 1).localCheckpoint()
    }

    // DSM-restore (dtm >= dsm and dsm non-void -> take dsm, leave mask)
    val joined = dtm.withColumnRenamed("v", "tv")
      .join(solidDsm.select(col("gx"), col("gy"), col("v").as("sv")),
        Seq("gx", "gy"), "left")
      .withColumn("restored", col("sv").isNotNull && col("tv") >= col("sv"))
      .localCheckpoint()
    val restoredDtm = joined.select(col("gx"), col("gy"),
      when(col("restored"), col("sv")).otherwise(col("tv")).cast("int").as("v"))
    voidMask = voidMask
      .join(joined.filter(col("restored")).select("gx", "gy"),
        Seq("gx", "gy"), "left_anti")
      .localCheckpoint()

    // W12 spike removal joins the mask
    val despiked = TileStencil(restoredDtm, Kernels.SpikeFilter(dz), bounds, tile)
    val spikes = restoredDtm.join(despiked.select("gx", "gy"),
      Seq("gx", "gy"), "left_anti").select("gx", "gy")
    voidMask = voidMask.unionByName(spikes).distinct().localCheckpoint()

    // final: re-void every masked cell, fill with smoothing
    val finalGround = restoredDtm.join(voidMask, Seq("gx", "gy"), "left_anti")
    val dtmFinal = FillVoids(finalGround, bounds, noSmoothing = false).localCheckpoint()
    Result(dtmFinal, voidMask)
  }

  /** The W13 seed pass, the (label << 17 | dtm) packing and `dhBins`
    * W14 mark/resolve rounds over one DTM grid; returns the object cells
    * with their DTM values. Total kernel radius 4 * dhBins. */
  private def relax(dtm: DenseGrid, cfg: Config): DenseGrid = {
    val seeds = dtm.stencil(Kernels.RefBoundaryGradient(cfg.dzRaw, cfg.dhBins))
    var packed = dtm.mapCells((i, v) => (if (seeds.has(i)) 131072 else 0) + v)
    for (_ <- 0 until cfg.dhBins)
      packed = packed.stencil(Kernels.RefExtendMark(cfg.dzRaw))
        .stencil(Kernels.RefExtendResolve(cfg.dzRaw))
    packed.filter((_, v) => (v >>> 17) == 1).mapCells((_, v) => v & 0x1FFFF)
  }

  // ---- dense single-task strategy --------------------------------------

  /** The full loop over one in-memory raster, with the SAME kernel
    * objects and the same per-object fill as the tiled path. Returns the
    * final DTM and the void mask (lattice indices). */
  private def denseLoop(min: DenseGrid, solid: DenseGrid,
                      cfg: Config): (DenseGrid, java.util.BitSet) = {
    val dz = cfg.dzRaw
    val w = min.w; val h = min.h
    var dtm = min.fill(noSmoothing = true)
    val voidMask = new java.util.BitSet(w * h)
    var converged = false
    var prevMask = 0
    for (k <- 0 until cfg.iterations if !converged) {
      // dz-connected objects, chunk-capped in cell-id order
      val objCells = relax(dtm, cfg)
      val label = objCells.labels(Some(dz), Some(cfg.maxCount))
      // per-object bounding boxes, keyed by label (a lattice index)
      val bbox = new java.util.HashMap[Integer, Array[Int]]()
      objCells.foreach { (i, _) =>
        val x = i % w; val y = i / w
        val b = bbox.get(label(i))
        if (b == null) bbox.put(label(i), Array(x, x, y, y))
        else {
          b(0) = math.min(b(0), x); b(1) = math.max(b(1), x)
          b(2) = math.min(b(2), y); b(3) = math.max(b(3), y)
        }
      }
      // per-object fill via the shared fillOne
      val m = cfg.dhBins + 1
      val bIt = bbox.entrySet().iterator()
      while (bIt.hasNext) {
        val e = bIt.next()
        val lbl = e.getKey.intValue(); val b = e.getValue
        val cells = scala.collection.mutable.ArrayBuffer[ScanlineFill.CellIn]()
        for (y <- math.max(0, b(2) - m) to math.min(b(3) + m, h - 1);
             x <- math.max(0, b(0) - m) to math.min(b(1) + m, w - 1)) {
          val i = dtm.index(x, y)
          if (dtm.has(i))
            cells += ScanlineFill.CellIn(0L, x, y, dtm(i), label(i) == lbl)
        }
        FillObjectBounds.fillOne(cells.toArray, w, h, cfg.dhBins)
          .foreach { case (x, y) => voidMask.set(dtm.index(x.toInt, y.toInt)) }
      }
      converged = voidMask.cardinality() == prevMask && k < cfg.iterations - 1
      prevMask = voidMask.cardinality()
      dtm = dtm.without(voidMask)
        .fill(noSmoothing = !converged && k < cfg.iterations - 1)
    }
    // restore, spikes, final fill — identical order to the tiled path
    dtm.foreach { (i, v) =>
      if (solid.has(i) && v >= solid(i)) { dtm.set(i, solid(i)); voidMask.clear(i) }
    }
    val despiked = dtm.stencil(Kernels.SpikeFilter(dz))
    dtm.foreach((i, _) => if (!despiked.has(i)) voidMask.set(i))
    (dtm.without(voidMask).fill(noSmoothing = false), voidMask)
  }

  /** [[denseLoop]] as `(t, gx, gy, v)` rows: the DTM (`t = 0`) and the
    * void mask (`t = 1`, `v = 0`); nothing for an empty MIN. */
  private[graft] def denseRows(min: DenseGrid, solid: DenseGrid,
                               cfg: Config): Iterator[DenseGrid.Tagged] =
    if (min.isEmpty) Iterator.empty
    else {
      val (dtm, mask) = denseLoop(min, solid, cfg)
      val maskRows = Iterator.iterate(mask.nextSetBit(0))(i => mask.nextSetBit(i + 1))
        .takeWhile(_ >= 0)
        .map(i => DenseGrid.Tagged(1, (i % min.w).toLong, (i / min.w).toLong, 0))
      dtm.cells.map(c => DenseGrid.Tagged(0, c.gx, c.gy, c.v)) ++ maskRows
    }

  /** Splits pinned [[denseRows]] output into the [[Result]]. */
  private[graft] def denseResult(rows: DataFrame): Result = {
    val pinned = rows.localCheckpoint()
    Result(
      pinned.filter(col("t") === 0).select(col("gx"), col("gy"), col("v")),
      pinned.filter(col("t") === 1).select(col("gx"), col("gy")))
  }
}
