package graft.api

import graft.cc.ConnectedComponents
import graft.core.Quant
import graft.grid.Gridding
import graft.pyramid.FillVoids
import graft.stencil.{DenseGrid, Kernels, TileStencil}
import graft.stencil.TileStencil.Bounds
import graft.vector.Vectorize
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/**
 * SHR3D facade (reference `src/shr3d/shr3d.cpp`, product DAG in
 * SURVEY.md §3.1): point cloud -> DSM / MIN / DSM2 / DTM /
 * classification / building mask / labels / outline polygons, as lazily
 * composable Dataset products mirroring the reference's memoized
 * `getX()` accessors (`shr3d.h:153-172`).
 *
 * The DTM is the reference's real classifyGround product: the
 * 5-iteration detect/remove/fill loop ([[ClassifyGround]],
 * `shr3d.cpp:899-1013`) wrapped in createDTM0's MIN-void mirror +
 * median (`shr3d.cpp:239-294`) and createDTM's final small-void fill
 * (`shr3d.cpp:296-317`).
 *
 * Execution: one task per product within the dense gate
 * (`DenseGrid.fits`, 2^20 cells unless the session sets it). A
 * product's whole operator chain runs over one in-memory raster
 * (`DenseGrid.task`, entered with `coalesce(1)` over pinned products),
 * then the result is pinned. The DSM and MIN
 * chains start from the points: `DenseGrid.accumulate` folds them into
 * the lattice in the same task, so no product below the gate runs a
 * gridding shuffle. Larger rasters take the tiled distributed path:
 * the `Gridding` aggregates, the distributed pyramid and CCL, and each
 * product's stencil chain as the SAME closure once per tile-with-halo
 * (`DenseGrid.tiles`, one shuffle per chain); both are asserted equal in
 * Shr3dSpec.
 */
object Shr3d {

  final case class Config(
      spec: Gridding.GridSpec = Gridding.GridSpec(),
      dzMeters: Double = 0.5,
      aglMeters: Double = 2.0,
      maxTreeMeters: Double = 40.0,
      minRegionCells: Int = 2,
      tileSize: Int = 128,
      // W15 label opening before building labeling (classifyNonGround,
      // shr3d.cpp:1091-1139). The reference default; disable for inputs
      // whose "buildings" are sparse scatter with no solid 3x3 core
      // (opening a point scatter removes everything).
      openLabels: Boolean = true,
      // raster extent in cells; None = the full world lattice of `spec`.
      // The reference sizes its raster to the data bbox
      // (sizeImageFromBox, shr3d.cpp:120), so callers with a local scene
      // should pass its extent rather than pay world-lattice fills.
      boundsOpt: Option[(Int, Int)] = None,
      // external prior DTM (setDTM0, shr3d.cpp:180-237): a raw u16 grid
      // in ITS OWN quantization. When present, the DSM/MIN products are
      // re-quantized to the reconciled common fit, MIN is clamped to
      // >= DTM0, and the DTM is the (adjusted, small-void-filled) prior
      // — the classifyGround loop is skipped, exactly like the
      // reference's memoized getDTM0 short-circuit.
      dtm0: Option[Dtm0] = None)

  /** An external prior DTM: raw grid + the quantization it was written
    * with. */
  final case class Dtm0(grid: DataFrame /* gx, gy, v */, fit: Quant.Fit)

  final class Products(spark: SparkSession, pts: DataFrame, cfg: Config) {
    private val (w, h) = cfg.boundsOpt.getOrElse(Gridding.boundsFor(cfg.spec))
    private val bounds = Bounds(w, h)
    /** One task per product (see the object doc) vs the tiled path. Every
      * nested gate sees the same `bounds`, so it makes the same choice. */
    private val dense = DenseGrid.fits(spark, bounds)
    private val stdFit = Quant.Fit(Quant.Offset, Quant.Scale)
    /** The working quantization: the reconciled common fit when a prior
      * DTM is mixed in (shr3d.cpp:213-222), else the standard one. */
    private val activeFit =
      cfg.dtm0.map(d => Quant.reconcile(stdFit, d.fit)).getOrElse(stdFit)
    // build-time thresholds (the DSM/MIN builders run at the standard
    // scale — the reference filters BEFORE setDTM0's adjust_scale)
    private val buildAglRaw = math.max(1, math.floor(cfg.aglMeters / Quant.Scale).toInt)
    // post-adjust thresholds (everything downstream of the adjusted
    // grids, dz_short = dz_meters / dsmImage.scale at the ACTIVE scale)
    private val dzRaw = math.max(1, math.floor(cfg.dzMeters / activeFit.scale).toInt)
    private val aglRaw = math.max(1, math.floor(cfg.aglMeters / activeFit.scale).toInt)
    private val maxTreeRaw = math.floor(cfg.maxTreeMeters / activeFit.scale).toInt

    private val gridded = Gridding.points(pts, cfg.spec)

    /** Re-quantize a standard-fit grid to the active fit (identity when
      * no prior is mixed in — adjust_scale's own no-op check,
      * shr3d.cpp:167-168). */
    private def toActive(df: DataFrame): DataFrame =
      if (cfg.dtm0.isEmpty) df
      else df.select(col("gx"), col("gy"),
        Quant.adjustScale(col("v"), stdFit, activeFit).cast("int").as("v"))

    /** DSM at build scale: max-grid -> despike (quantile + well, radius
      * 2) -> fill; the fill is fused into the dense task. */
    private lazy val dsmStd: DataFrame = {
      val (quantK, wellK) =
        (Kernels.QuantileFilter(1, 0.4, buildAglRaw), Kernels.WellFilter(buildAglRaw))
      val despike = (g: IndexedSeq[DenseGrid]) => g(0).stencil(quantK).stencil(wellK)
      if (dense)
        DenseGrid.grid(Seq(DenseGrid.accumulate(gridded, bounds, math.max, splat = true)),
          bounds)(despike(_).fill(noSmoothing = false)).localCheckpoint()
      else FillVoids(DenseGrid.tiles(Seq(Gridding.dsm(gridded)), bounds, cfg.tileSize, 2)(despike),
        bounds, noSmoothing = false).localCheckpoint()
    }

    /** DSM in the active quantization. */
    lazy val dsm: DataFrame = toActive(dsmStd)

    private val minQuantK = Kernels.QuantileFilter(2, 0.33, buildAglRaw)

    /** MIN after the reference's quantile filter, voids NOT yet filled
      * (shared by [[minGrid]] and the DTM path, which needs the
      * reference's small-void-only fill). */
    private lazy val minFiltered: DataFrame =
      if (dense) minStages.filter(col("t") === 0).select(col("gx"), col("gy"), col("v"))
      else TileStencil(Gridding.minGrid(gridded), minQuantK, bounds, cfg.tileSize)
        .localCheckpoint()

    /** Dense path: [[minFiltered]] (`t = 0`) and its smoothed fill
      * (`t = 1`, the MIN product before any prior) from one task. */
    private lazy val minStages: DataFrame = {
      val quantK = minQuantK
      DenseGrid.grids(Seq(DenseGrid.accumulate(gridded, bounds, math.min, splat = true)),
          bounds) { g =>
        val filtered = g(0).stencil(quantK)
        Seq(filtered, filtered.fill(noSmoothing = false))
      }.localCheckpoint()
    }

    /** The adjusted prior DTM (active fit), when configured. */
    private lazy val dtm0Adj: Option[DataFrame] = cfg.dtm0.map { d =>
      d.grid.select(col("gx"), col("gy"),
        Quant.adjustScale(col("v"), d.fit, activeFit).cast("int").as("v"))
        .localCheckpoint()
    }

    /** MIN: min-grid -> median smooth -> void fill; with a prior DTM,
      * re-quantized and clamped to >= DTM0 where both are non-void
      * (shr3d.cpp:224-231). */
    lazy val minGrid: DataFrame = {
      val base = toActive(
        if (dense) minStages.filter(col("t") === 1).select(col("gx"), col("gy"), col("v"))
        else FillVoids(minFiltered, bounds, noSmoothing = false).localCheckpoint())
      dtm0Adj match {
        case None => base
        case Some(prior) =>
          base.join(prior.select(col("gx"), col("gy"), col("v").as("pv")),
              Seq("gx", "gy"), "left")
            .select(col("gx"), col("gy"),
              when(col("pv").isNotNull && col("v") < col("pv"), col("pv"))
                .otherwise(col("v")).cast("int").as("v"))
      }
    }

    /** DSM2: var = DSM - MIN with the tree filter (W8) applied. Solid
      * surfaces have var ~ 0 (roof: min == max within the cell), so var
      * is stored shifted by +1 to keep zero-spread cells distinct from
      * the void sentinel; thresholds shift accordingly. Cells surviving
      * the filter are "solid or adjacent to solid" (non-canopy). */
    lazy val dsm2: DataFrame = {
      val treeK = Kernels.TreeFilter(maxTreeRaw + 1, dzRaw + 1)
      DenseGrid.chain(Seq(dsm, minGrid), bounds, cfg.tileSize, 1) { g =>
        g(0).zip(g(1))((a, b) => math.max(0, a - b) + 1).stencil(treeK)
      }.localCheckpoint()
    }

    /** The reference region cap, maxCount = 10000/gsd² (shr3d.cpp:913). */
    private val maxCount: Long =
      math.max(1L, (10000.0 / (cfg.spec.gsd * cfg.spec.gsd)).toLong)

    /** DSM with tree cells voided — the reference's dsm2Image as used by
      * the DTM restore step (shr3d.cpp:152-163: DSM values, void where
      * the tree filter fired; engine dsm2 carries the var values, so the
      * restore surface is DSM masked to the dsm2 cell set). */
    private lazy val solidDsm: DataFrame =
      dsm.join(dsm2.select("gx", "gy"), Seq("gx", "gy"), "left_semi")

    /** Small-void-filled MIN (shr3d.cpp:276) — the classifyGround loop's
      * starting surface AND the void mirror the DTM step reapplies;
      * shared (and staged by q_shr3d_dtm's partial-chain oracle). */
    lazy val min2: DataFrame =
      FillVoids(minFiltered, bounds, noSmoothing = true, maxLevel = 2).localCheckpoint()

    /** Raw classifyGround output (dtm, voidMask) — createDTM0's core
      * (shr3d.cpp:276-280): the loop starts from the small-void-filled
      * MIN and removes objects against the tree-voided DSM. */
    lazy val classifyGroundResult: ClassifyGround.Result = {
      val cgCfg = ClassifyGround.Config(dzRaw = dzRaw, dhBins = 1, iterations = 5,
        maxCount = maxCount, tileSize = cfg.tileSize)
      if (dense)
        // the tree-voided DSM is masked inside the task, not joined
        ClassifyGround.denseResult(DenseGrid.task(Seq(min2, dsm, dsm2), bounds) { g =>
          ClassifyGround.denseRows(g(0), g(1).keepWhere(g(2)), cgCfg)
        }(Encoders.product[DenseGrid.Tagged]).toDF())
      else ClassifyGround.run(min2, solidDsm, bounds, cgCfg)
    }

    /** DTM: the reference product — classifyGround loop, then
      * createDTM0's MIN-void mirror + dz-median (shr3d.cpp:282-293) and
      * createDTM's final small-void fill (shr3d.cpp:316). With an
      * external prior, the loop is skipped and the DTM is the adjusted,
      * small-void-filled prior (getDTM0 memoization short-circuit). */
    lazy val dtm: DataFrame = dtm0Adj match {
      case Some(prior) =>
        FillVoids(prior, bounds, noSmoothing = true, maxLevel = 2).localCheckpoint()
      case None =>
        // mirror MIN's voids, then the median (radius 1); the fill is
        // fused into the dense task
        val medK = Kernels.medianFilter(1, dzRaw)
        val inputs = Seq(classifyGroundResult.dtm, min2)
        val median = (g: IndexedSeq[DenseGrid]) => g(0).keepWhere(g(1)).stencil(medK)
        if (dense)
          DenseGrid.grid(inputs, bounds)(median(_).fill(noSmoothing = true, maxLevel = 2))
            .localCheckpoint()
        else FillVoids(DenseGrid.tiles(inputs, bounds, cfg.tileSize, 1)(median),
          bounds, noSmoothing = true, maxLevel = 2).localCheckpoint()
    }

    final val ClsGround = 2
    final val ClsTree = 5
    final val ClsBuilding = 6

    /** W16 per-cell classification over the joined grids. */
    lazy val classification: DataFrame = {
      val (agl, bldg, tree, ground) = (aglRaw, ClsBuilding, ClsTree, ClsGround)
      DenseGrid.chain(Seq(dsm, dtm, dsm2), bounds, cfg.tileSize, 0) { g =>
        val (d, t, v2) = (g(0), g(1), g(2))
        d.mapCells { (i, vd) =>
          val above = vd - (if (t.has(i)) t(i) else vd) > agl
          if (above && v2.has(i)) bldg else if (above) tree else ground
        }
      }.withColumnRenamed("v", "cls").localCheckpoint()
    }

    /** Building labels via the full classifyNonGround order
      * (shr3d.cpp:1015-1174): building mask -> dz/2-constrained grouping
      * over DSM heights -> G4 boundary-gradient accept/reject -> W15
      * label erode+dilate -> plain regrouping -> min-area reject. The
      * G4 and W15 passes are skippable for scatter inputs
      * (openLabels = false disables both — a point scatter has neither
      * solid cores nor meaningful boundary gradients). */
    lazy val buildingLabels: DataFrame = {
      val mask = classification.filter(col("cls") === ClsBuilding)
        .select("gx", "gy")
      if (dense) buildingLabelsDense(mask)
      else {
        val cleaned =
          if (cfg.openLabels) {
            // group on height similarity (dz/2, groupObjects at :1039)
            val withV = mask.join(dsm, Seq("gx", "gy"))
            val grouped = ConnectedComponents.label(withV, bounds, cfg.tileSize,
              maxDz = Some(dzRaw / 2))
            // G4: reject low-ridge objects by mean boundary gradient
            val accepted = GroundObjects
              .acceptByGradient(grouped.select("gx", "gy", "label"), dsm, dzRaw)
              .select(col("gx"), col("gy"), lit(1).as("v"))
            // W15: erode+dilate the surviving label mask
            val packed = TileStencil(accepted, Kernels.MaskErodePack(), bounds, cfg.tileSize)
            TileStencil(packed, Kernels.MaskOpenResolve(), bounds, cfg.tileSize)
          } else mask.withColumn("v", lit(1))
        // final plain regrouping + min-area reject (:1148-1173)
        val labeled = ConnectedComponents.label(cleaned, bounds, cfg.tileSize)
        val sizes = labeled.groupBy("label").agg(count(lit(1)).as("n"))
          .filter(col("n") >= cfg.minRegionCells)
        labeled.join(sizes.select("label"), Seq("label"), "left_semi")
          .localCheckpoint()
      }
    }

    /** [[buildingLabels]] as one task over the building mask and the DSM:
      * the same chain on `DenseGrid` (labels, G4, the W15 kernels). */
    private def buildingLabelsDense(mask: DataFrame): DataFrame = {
      import spark.implicits._
      val (open, dz, minCells) = (cfg.openLabels, dzRaw, cfg.minRegionCells)
      val (erodeK, openK) = (Kernels.MaskErodePack(), Kernels.MaskOpenResolve())
      DenseGrid.task(Seq(mask.withColumn("v", lit(1)), dsm), bounds) { g =>
        val (m, d) = (g(0), g(1))
        val cleaned =
          if (open) {
            val kept = DenseGrid.acceptByGradient(
              d.keepWhere(m).labels(maxDz = Some(dz / 2)), d, dz)
            val accepted = new DenseGrid(m.w, m.h)
            kept.indices.foreach(i => if (kept(i) >= 0) accepted.set(i, 1))
            accepted.stencil(erodeK).stencil(openK)
          } else m
        val lbl = cleaned.labels()
        val n = new Array[Int](lbl.length)
        lbl.foreach(l => if (l >= 0) n(l) += 1)
        cleaned.cells.filter(c => n(lbl((c.gy * m.w + c.gx).toInt)) >= minCells)
          .map(c => (lbl((c.gy * m.w + c.gx).toInt).toLong, c.gx, c.gy, c.v))
      }.toDF("label", "gx", "gy", "v").localCheckpoint()
    }

    /** Outline polygons (V1-V3) of the building components. */
    lazy val outlines: DataFrame =
      Vectorize.outlines(buildingLabels, minArea = 0.25)

    /** Reference-EXACT createOutlines product (shr3d.cpp:510-529):
      * building mask -> x3 upsampled label image (bldgLabels3) ->
      * radial-sweep boundary trace -> buildingSimplify per ring, with
      * the reference's label numbering, hole attachment, and empty-ring
      * drops (at the default scale 36 that also drops buildings too
      * small to carry 3 corners, as the reference does). Coordinates
      * are in the x3 pixel frame. */
    def outlinesRef(scale: Int = 36): DataFrame =
      graft.vector.RefTrace.refOutlinesSimplified(
        buildingLabels.select("gx", "gy"), bounds,
        scale = scale, factor = 3, tileSize = cfg.tileSize)

    /** INT product (createIntensity, shr3d.cpp:319-368): per cell, the
      * mean point intensity over splatted points whose z is within dz of
      * the cell's DSM, scaled to u16 by the global max mean, then the
      * trailing small-void fill (`intImage.fillVoidsPyramid(true, 2)`,
      * shr3d.cpp:368). Requires `pts` to carry an `intensity` column
      * (the reference's pset.i).
      *
      * Documented re-spec: the reference tracks max_i over its
      * scan-order RUNNING means (order-dependent); this product scales
      * by the max FINAL mean — deterministic and partition-independent.
      * Computed against the despiked/filled DSM product like the
      * reference's getDSM(), at the build quantization. */
    lazy val intensity: DataFrame = {
      require(pts.columns.contains("intensity"),
        "intensity product needs an 'intensity' column on the input points")
      val buildDzRaw = math.max(1, math.floor(cfg.dzMeters / Quant.Scale).toInt)
      val sp = Gridding.splat2x2(gridded)
        .select(col("gx"), col("gy"), col("qz"), col("intensity"))
      val acc = sp
        .join(dsmStd.withColumnRenamed("v", "dv"), Seq("gx", "gy"))
        .filter(abs(col("qz") - col("dv")) < buildDzRaw)
        .groupBy("gx", "gy")
        .agg(sum("intensity").as("s"), count(lit(1)).as("c"))
      val mx = acc.agg(max(col("s") / col("c")).as("m"))
      val scaled = acc.crossJoin(broadcast(mx))
        .select(col("gx"), col("gy"),
          floor(lit(65535.0) / col("m") * (col("s") / col("c"))).cast("int").as("v"))
      FillVoids(scaled, bounds, noSmoothing = true, maxLevel = 2).localCheckpoint()
    }

    /** MINAGL product (createMinAGL, shr3d.cpp:372-434): per cell, the
      * min splatted z strictly above DTM + agl (only where the DTM is
      * non-void), then the W11 r=2 median filter that replaces a cell
      * when the neighborhood median differs by more than dz (the
      * reference's active `dz_short` branch). The trailing
      * fillVoidsPyramid is commented out in the reference
      * (shr3d.cpp:434) and is likewise omitted here. */
    lazy val minAgl: DataFrame = {
      val sp = Gridding.splat2x2(gridded).select(col("gx"), col("gy"),
        (if (cfg.dtm0.isEmpty) col("qz")
         else Quant.adjustScale(col("qz"), stdFit, activeFit)).cast("long").as("qz"))
      val withDtm = sp.join(
        dtm.select(col("gx"), col("gy"), col("v").as("dtmV")), Seq("gx", "gy"))
      val raw = withDtm
        .filter(col("qz") > col("dtmV") + aglRaw)
        .groupBy("gx", "gy").agg(min("qz").cast("int").as("v"))
      TileStencil(raw, Kernels.QuantileFilter(2, 0.5, dzRaw), bounds, cfg.tileSize)
        .localCheckpoint()
    }
  }

  def run(spark: SparkSession, pts: DataFrame, cfg: Config = Config()): Products =
    new Products(spark, pts, cfg)
}
