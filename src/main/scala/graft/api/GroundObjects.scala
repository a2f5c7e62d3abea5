package graft.api

import graft.cc.{ConnectedComponents, ScanlineFill}
import graft.stencil.{DenseGrid, Kernels}
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

  /** Returns (gx, gy, label) for detected object cells. The seed +
    * relaxation chain ([[relax]]) runs in ONE task within the strategy
    * gate (`DenseGrid.fits`), else once per tile-with-halo; both are
    * asserted equal in GroundSpec. */
  def detect(dsm: DataFrame, bounds: Bounds, cfg: Config = Config()): DataFrame = {
    // pin the DSM once: it feeds the relax chain and the scanline fill —
    // its lineage is typically a full docs scan + grid aggregate
    val dsmP = dsm.select(col("gx").cast("long"), col("gy").cast("long"),
      col("v").cast("int")).localCheckpoint(eager = true)
    val objCells = DenseGrid.chain(Seq(dsmP), bounds, cfg.tileSize,
      2 * cfg.dh + 2 * cfg.extensionRounds)(g => relax(g(0), cfg))
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

  /** The W13 seed pass, the (label << 17 | dsm) packing and every W14
    * mark/resolve round over one DSM grid; returns the object cells with
    * their DSM values. Total kernel radius 2 * dh + 2 * extensionRounds. */
  private def relax(dsm: DenseGrid, cfg: Config): DenseGrid = {
    val seeds = dsm.stencil(Kernels.BoundaryGradient(cfg.dzRaw, cfg.dh))
    var cur = dsm.mapCells((i, v) => (if (seeds.has(i)) 131072 else 0) + v)
    for (_ <- 0 until cfg.extensionRounds)
      cur = cur.stencil(Kernels.ExtendMark(cfg.dzRaw)).stencil(Kernels.ExtendResolve())
    cur.filter((_, v) => (v >>> 17) == 1).mapCells((_, v) => v & 0x1FFFF)
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
