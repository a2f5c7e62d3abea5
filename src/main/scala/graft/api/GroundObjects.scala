package graft.api

import graft.cc.{ConnectedComponents, ScanlineFill}
import graft.stencil.{DenseGrid, Kernels, TileStencil}
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * classifyGround-style object detection (the reference's inner loop,
 * pubgeo `src/shr3d/shr3d.cpp:900-960`): from a DSM,
 *   W13 boundary-gradient seeds -> W14 boundary extension (relaxation
 *   rounds) -> G2 dz-constrained components over the labeled cells ->
 *   G5 scanline interior fill -> G6 label collapse,
 * yielding the above-ground object mask whose removal produces the
 * reference's DTM estimate.
 */
object GroundObjects {

  final case class Config(
      dzRaw: Int = 3000, dh: Int = 1, extensionRounds: Int = 3,
      minRegionCells: Int = 2, tileSize: Int = 64,
      // reference region cap maxCount = 10000/gsd² (shr3d.cpp:913);
      // 40000 = the cap at the standard 0.5 gsd
      maxCount: Long = 40000L)

  /** Returns (gx, gy, label) for detected object cells. Grids within the
    * strategy gate (`DenseGrid.fits`) run the whole seed + relaxation
    * chain in ONE task; larger grids take the tiled stencil passes. Both
    * paths are asserted equal in GroundSpec. */
  def detect(dsm: DataFrame, bounds: Bounds, cfg: Config = Config()): DataFrame = {
    // pin the DSM once: it feeds the seed stencil, the label packing
    // join (tiled path), and the scanline fill — its lineage is
    // typically a full docs scan + grid aggregate
    val dsmP = dsm.select(col("gx").cast("long"), col("gy").cast("long"),
      col("v").cast("int")).localCheckpoint(eager = true)
    val objCells =
      if (DenseGrid.fits(dsm.sparkSession, bounds))
        relaxDense(dsmP, bounds, cfg)
      else relaxTiled(dsmP, bounds, cfg)
    // G2 components constrained by dz, chunk-capped at maxCount cells
    // (the crop that bounds every downstream per-object task)
    // pinned once: the CCL pass (a full union-find labeling) feeds both
    // the size filter and the keep join — unpinned it ran twice
    val labeled = ConnectedComponents.label(objCells, bounds, cfg.tileSize,
      maxDz = Some(cfg.dzRaw), maxCount = Some(cfg.maxCount))
      .localCheckpoint(eager = true)
    val sized = labeled.groupBy("label").agg(count(lit(1)).as("n"))
      .filter(col("n") >= cfg.minRegionCells).select("label")
    val kept = labeled.join(sized, Seq("label"), "left_semi")
      .select("gx", "gy", "label")
    // G5 interior fill
    ScanlineFill(kept, dsmP, cfg.dzRaw)
  }

  /** The distributed W13 + W14 chain: one stencil shuffle per kernel
    * pass, each relaxation round checkpointed. */
  private def relaxTiled(dsm: DataFrame, bounds: Bounds, cfg: Config): DataFrame = {
    // W13 seeds
    val seeds = TileStencil(dsm, Kernels.BoundaryGradient(cfg.dzRaw, cfg.dh),
      bounds, cfg.tileSize)
    // pack (label | dsm) and relax W14
    val packed = dsm.join(seeds.select(col("gx"), col("gy"), lit(1).as("lbl")),
        Seq("gx", "gy"), "left")
      .select(col("gx"), col("gy"),
        (coalesce(col("lbl"), lit(0)) * lit(131072) + col("v")).cast("int").as("v"))
    val relaxed = (0 until cfg.extensionRounds).foldLeft(packed) { (df, _) =>
      val marked = TileStencil(df, Kernels.ExtendMark(cfg.dzRaw), bounds, cfg.tileSize)
      TileStencil(marked, Kernels.ExtendResolve(), bounds, cfg.tileSize)
        .localCheckpoint()
    }
    relaxed
      .filter(shiftrightunsigned(col("v").cast("long"), 17) === 1)
      .select(col("gx"), col("gy"),
        col("v").bitwiseAND(lit(0x1FFFF)).cast("int").as("v"))
  }

  /** Dense single-task strategy: the SAME kernel objects evaluated over
    * the whole gate-bounded grid in one executor task (`DenseGrid`, with
    * TileStencil's exact per-pass contract) — the seed pass, the packing,
    * and every mark/resolve round — so the output equals the tiled chain
    * for any tiling. One job instead of 7 stencil shuffles + 3
    * checkpoints + the packing join. */
  private def relaxDense(dsm: DataFrame, bounds: Bounds, cfg: Config): DataFrame = {
    val seedK = Kernels.BoundaryGradient(cfg.dzRaw, cfg.dh)
    val markK = Kernels.ExtendMark(cfg.dzRaw)
    val resolveK = Kernels.ExtendResolve()
    val rounds = cfg.extensionRounds
    DenseGrid.grid(Seq(dsm), bounds) { g =>
      val seeds = g(0).stencil(seedK)
      var cur = g(0).mapCells((i, v) => (if (seeds.has(i)) 131072 else 0) + v)
      for (_ <- 0 until rounds) cur = cur.stencil(markK).stencil(resolveK)
      val out = new DenseGrid(cur.w, cur.h)
      cur.foreach((i, v) => if ((v >>> 17) == 1) out.set(i, v & 0x1FFFF))
      out
    }
  }

  /** G4 object accept/reject (pubgeo `shr3d.cpp:1037-1087`): per object,
    * the mean height step from its boundary cells down to adjacent
    * ground (non-object) cells; objects with 0 < mean < dz/2 are noise
    * ridges and are rejected. Pure joins + one aggregate per label. */
  def acceptByGradient(labeledIn: DataFrame /* gx, gy, label */,
                       dsmIn: DataFrame /* gx, gy, v */, dzRaw: Int): DataFrame = {
    val spark = labeledIn.sparkSession
    import spark.implicits._
    // labeled feeds three consumers (object values, the neighbor
    // object-test join, the final keep join) and dsm two — each was
    // re-running its upstream lineage (a full CCL pass / the gridding
    // aggregate); both frames are grid-bounded, pin them once
    val labeled = labeledIn.localCheckpoint(eager = true)
    val dsm = dsmIn.localCheckpoint(eager = true)
    val offs = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))
      .toDF("dx", "dy")
    val objV = labeled.join(dsm, Seq("gx", "gy"))
    val nb = objV.crossJoin(broadcast(offs))
      .select(col("label"), col("v").as("ov"),
        (col("gx") + col("dx")).as("nx"), (col("gy") + col("dy")).as("ny"))
      .join(dsm.select(col("gx").as("nx"), col("gy").as("ny"), col("v").as("nv")),
        Seq("nx", "ny"))
      .join(labeled.select(col("gx").as("nx"), col("gy").as("ny"),
        lit(true).as("nObj")), Seq("nx", "ny"), "left")
      .filter(col("nObj").isNull) // ground neighbors only
    val stats = nb.groupBy("label")
      .agg((sum(col("ov") - col("nv")) / count(lit(1))).as("meanGrad"))
    val keepLabels = stats
      .filter(!(col("meanGrad") > 0.0 && col("meanGrad") < dzRaw / 2.0))
      .select("label")
    labeled.join(keepLabels, Seq("label"), "left_semi")
  }
}
