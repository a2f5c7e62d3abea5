package graft.align

import graft.core.Quant
import graft.pyramid.FillVoids
import graft.stencil.{Kernels, TileStencil}
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * ALIGN3D (SURVEY.md §2.10, reference `src/align3d/align3d.cpp`):
 * estimate the rigid (tx, ty, tz) translation aligning a target point
 * set to a reference by brute-force offset search minimizing a robust
 * RMS of DSM differences.
 *
 * Pipeline (L1-L6), Spark-first:
 *  1. grid both point sets to DSMs on a shared local grid (A1 max),
 *     fill voids (pyramid, noSmoothing, 2 levels), trim edges (W6);
 *  2. overlap rectangle of the two grids (metadata only);
 *  3. seeded MT19937-64 samples over the overlap, generated ON THE
 *     DRIVER (determinism) and broadcast;
 *  4. per offset, the FIRST numSamples valid samples in sample order
 *     (valid = both cells non-void; reference semantics: walk-until-10k,
 *     `align3d.cpp:54-74`), found by one tile-with-halo kernel: each
 *     reference probe is keyed by its tile, each target cell is
 *     replicated to the tiles whose core lies within the search radius,
 *     and one task per tile looks every offset up in a dense target
 *     window while walking its probes in sample order;
 *  5. per-offset exact median + robust RMS over the merged first
 *     numSamples (sorted integer arrays — order-independent and
 *     bit-stable);
 *  6. argmin with the reference's tie-break (smaller |offset|), then
 *     3x3 quadratic peak interpolation on the driver (`align3d.cpp:168-199`).
 *
 * At scale: grids are sparse cell tables and the sample list is the
 * only broadcast. The kernel shuffles the reference probes (at most
 * numSamples * sampleFactor rows) and the target cells (plus ~4m/T halo
 * copies); no (offset x sample) row is ever built. A tile task holds its
 * (T+2m)^2 window and at most numSamples keys per offset, and the
 * per-offset merge keeps at most numSamples keys per offset per
 * partition (map-side partial merge), independent of the input point
 * count and of the number of tiles.
 */
object Align3d {

  final case class Config(
      gsd: Double = 1.0, maxT: Double = 10.0, maxDzMeters: Double = 2.0,
      numSamples: Int = 10000, sampleFactor: Int = 10, seed: Long = 0L,
      /** true (default) = the reference's full 2D Newton peak step with
        * the dxy cross term and no clamping (`align3d.cpp:168-184`);
        * false = the legacy separable per-axis step that bails on
        * non-convex curvature and clamps to ±0.5 (robust to degenerate
        * fits, not reference-parity on tilted RMS surfaces). */
      newtonInterp: Boolean = true)

  /** Reference-exact 3x3 Newton peak localization
    * (`align3d.cpp:168-184`): gradient + full Hessian including the dxy
    * cross term, sub-cell shift = -H⁻¹g, NO clamp and NO convexity
    * check — the only guard is det != 0, exactly as the C++. `f` must
    * return the RMS at the 3x3 neighborhood of the argmin cell, with
    * offsets whose computeRMS failed contributing 0.0 (the reference's
    * rmsArray stays zero-initialized there). Double precision where the
    * reference uses float — same formula, tighter arithmetic. */
  def newtonPeak(f: (Int, Int) => Double): (Double, Double) = {
    val gx = (f(1, 0) - f(-1, 0)) / 2.0
    val gy = (f(0, 1) - f(0, -1)) / 2.0
    val dxx = f(1, 0) + f(-1, 0) - 2.0 * f(0, 0)
    val dyy = f(0, 1) + f(0, -1) - 2.0 * f(0, 0)
    val dxy = (f(1, 1) - f(1, -1) - f(-1, 1) + f(-1, -1)) / 4.0
    val det = dxx * dyy - dxy * dxy
    if (det == 0.0) (0.0, 0.0)
    else (-(dyy * gx - dxy * gy) / det, -(dxx * gy - dxy * gx) / det)
  }

  /** Legacy separable peak step (config `newtonInterp = false`): per-axis
    * quadratic, bails on non-convex curvature, clamps to ±0.5. */
  def clampedPeak(f: (Int, Int) => Double): (Double, Double) = {
    def clamp(v: Double): Double = math.max(-0.5, math.min(0.5, v))
    val dxx = f(1, 0) - 2 * f(0, 0) + f(-1, 0)
    val dyy = f(0, 1) - 2 * f(0, 0) + f(0, -1)
    val dx1 = (f(1, 0) - f(-1, 0)) / 2.0
    val dy1 = (f(0, 1) - f(0, -1)) / 2.0
    if (dxx <= 0.0 || dyy <= 0.0) (0.0, 0.0)
    else (clamp(-dx1 / dxx), clamp(-dy1 / dyy))
  }

  final case class GridRef(x0: Double, y0: Double, gsd: Double, w: Int, h: Int)

  final case class Result(
      tx: Double, ty: Double, tz: Double, rmsMeters: Double,
      completeness: Double, nValid: Long, bestDx: Int, bestDy: Int)

  /** Quantized DSM over a local grid derived from the point bounds. */
  def prepGrid(pts: DataFrame, ref: GridRef, cfg: Config): DataFrame = {
    val cells = pts
      .withColumn("gx", floor((col("x") - lit(ref.x0)) / lit(ref.gsd)).cast("long"))
      .withColumn("gy", floor((col("y") - lit(ref.y0)) / lit(ref.gsd)).cast("long"))
      .filter(col("gx") >= 0 && col("gx") < ref.w && col("gy") >= 0 && col("gy") < ref.h)
      .withColumn("qz", Quant.q(col("z")))
      .groupBy("gx", "gy").agg(max("qz").as("v"))
    val filled = FillVoids(cells, Bounds(ref.w, ref.h), noSmoothing = true, maxLevel = 2)
    val dzRaw = math.max(1, math.floor(cfg.maxDzMeters / Quant.Scale).toInt)
    TileStencil(filled, Kernels.EdgeFilter(dzRaw), Bounds(ref.w, ref.h))
  }

  def gridFor(pts: DataFrame, cfg: Config): GridRef = {
    val row = pts.agg(min("x"), max("x"), min("y"), max("y")).head()
    val (x0, x1, y0, y1) = (row.getDouble(0), row.getDouble(1),
      row.getDouble(2), row.getDouble(3))
    GridRef(math.floor(x0), math.floor(y0), cfg.gsd,
      (math.ceil((x1 - math.floor(x0)) / cfg.gsd) + 2).toInt,
      (math.ceil((y1 - math.floor(y0)) / cfg.gsd) + 2).toInt)
  }

  /** The staged inputs of the offset search: both DSMs on the shared
    * grid `grid` and the seeded sample list. */
  final case class Staged(refDsm: DataFrame, tgtDsm: DataFrame,
                          samples: DataFrame, grid: GridRef)

  /** Steps 1-3: grids, overlap, seeded samples.
    * Exposed so the per-offset stats can be oracle-checked end to end
    * (the staged tables are plain parquet-writable cell tables). */
  def stage(spark: SparkSession, refPts: DataFrame, tgtPts: DataFrame,
            cfg: Config = Config()): Staged = {
    import spark.implicits._
    val grid = gridFor(refPts, cfg)
    val refDsm = prepGrid(refPts, grid, cfg).withColumnRenamed("v", "rv")
      .persist()
    val tgtDsm = prepGrid(tgtPts, grid, cfg).withColumnRenamed("v", "tv")
      .persist()

    // overlap rectangle in grid cells (both DSMs share `grid`): both
    // bounds in ONE action over the union of the two cell tables, so
    // the two independent persisted lineages (each a FillVoids pyramid
    // + stencil chain) are materialized by one query whose independent
    // stages the adaptive scheduler submits together
    def side(df: DataFrame, s: Int) = df.select(lit(s).as("s"), col("gx"), col("gy"))
    val aggs = for (s <- 0 to 1; c <- Seq("gx", "gy"); e = when(col("s") === s, col(c));
                    a <- Seq(min(e), max(e))) yield a
    // (min gx, max gx, min gy, max gy) of the reference, then of the target
    val b = side(refDsm, 0).union(side(tgtDsm, 1)).agg(aggs.head, aggs.tail: _*).head()
    require(!b.anyNull, "grids do not overlap")
    val ox0 = math.max(b.getLong(0), b.getLong(4))
    val ox1 = math.min(b.getLong(1), b.getLong(5))
    val oy0 = math.max(b.getLong(2), b.getLong(6))
    val oy1 = math.min(b.getLong(3), b.getLong(7))
    require(ox1 > ox0 && oy1 > oy0, "grids do not overlap")

    // driver-side seeded samples over the overlap (L3)
    val rng = new Mt19937_64(cfg.seed)
    val maxSamples = cfg.numSamples * cfg.sampleFactor
    val samples = (0 until maxSamples).map { sid =>
      val gx = ox0 + (rng.nextDouble() * (ox1 - ox0 + 1)).toLong
      val gy = oy0 + (rng.nextDouble() * (oy1 - oy0 + 1)).toLong
      (sid, gx, gy)
    }
    Staged(refDsm, tgtDsm, samples.toDF("sid", "sgx", "sgy"), grid)
  }

  /** Tile side (cells) of the offset-search kernel. */
  private final val SearchTile = 128

  /** A row of the offset-search shuffle: a reference probe (`sid >= 0`,
    * `v` = its reference value) or a target cell (`sid = -1`), routed to
    * `tile`. */
  private[align] final case class TileItem(tile: Long, sid: Int, gx: Long, gy: Long, v: Int)

  /** One offset's first valid probes, ascending: `sid << 32 | diff`. */
  private[align] final case class OffsetRun(odx: Int, ody: Int, keys: Array[Long])

  private[align] final case class OffsetStat(odx: Int, ody: Int, n: Long, med: Long,
                                             rms: Long, complete: Double)

  /** The first `n` of two ascending runs, merged. */
  private def mergeFirst(a: Array[Long], b: Array[Long], n: Int): Array[Long] = {
    val out = new Array[Long](math.min(n, a.length + b.length))
    var i = 0; var j = 0; var k = 0
    while (k < out.length) {
      if (j == b.length || (i < a.length && a(i) < b(j))) { out(k) = a(i); i += 1 }
      else { out(k) = b(j); j += 1 }
      k += 1
    }
    out
  }

  /** Steps 4-5 (L4 + A9): per offset, the first numSamples valid probes
    * in sample order, reduced to the per-offset stats table
    * (odx, ody, n, med, rms, complete). Oracle-checked bit-exactly by
    * q_align_rms.
    *
    * Tile-with-halo kernel: reference probes are keyed by tile; every
    * target cell is replicated to each tile whose core lies within the
    * search radius m (TileStencil's halo rule). One task per tile fills
    * a dense (T+2m)^2 target window and walks the tile's probes in sid
    * order, appending `sid << 32 | diff` to each offset's run until it
    * holds numSamples entries. The global first numSamples of an offset
    * lie within the union of the per-tile first numSamples, so a merge
    * that keeps the numSamples smallest keys (partially on the map
    * side) is exact. */
  def offsetStats(st: Staged, cfg: Config): DataFrame = {
    val spark = st.samples.sparkSession
    import spark.implicits._
    val m = math.ceil(cfg.maxT / cfg.gsd).toInt
    val t = SearchTile
    require(m < t, s"search radius $m must be smaller than the tile size $t")
    val n = cfg.numSamples
    val maxTx = (st.grid.w - 1L) / t
    val maxTy = (st.grid.h - 1L) / t

    // the sample list is the bounded side: broadcast it, stream the DSM
    val probes = broadcast(st.samples).join(st.refDsm,
      col("sgx") === col("gx") && col("sgy") === col("gy"))
      .select(col("sid"), col("sgx"), col("sgy"), col("rv")).as[(Int, Long, Long, Int)]
      .map { case (sid, gx, gy, rv) => TileItem((gx / t) << 32 | (gy / t), sid, gx, gy, rv) }
    val targets = st.tgtDsm.select(col("gx"), col("gy"), col("tv")).as[(Long, Long, Int)]
      .flatMap { case (gx, gy, tv) =>
        TileStencil.haloTiles(gx, gy, m, t, maxTx, maxTy).map(TileItem(_, -1, gx, gy, tv))
      }

    val side = t + 2 * m
    val w = 2 * m + 1
    // offset o = (ody + m) * w + (odx + m), as a window index delta
    val delta = Array.tabulate(w * w)(o => (o / w - m) * side + (o % w - m))
    val runs = probes.union(targets).groupByKey(_.tile).flatMapGroups { (tile, it) =>
      // dense target window of the tile core plus its m-cell halo
      val x0 = (tile >>> 32) * t - m
      val y0 = (tile & 0xFFFFFFFFL) * t - m
      val tv = new Array[Int](side * side) // 0 = void
      val ps = Array.newBuilder[TileItem]
      it.foreach { c =>
        if (c.sid < 0) tv(((c.gy - y0) * side + (c.gx - x0)).toInt) = c.v
        else ps += c
      }
      val sorted = ps.result().sortBy(_.sid)
      val cap = math.min(n, sorted.length)
      val keys = Array.ofDim[Long](w * w, cap)
      val cnt = new Array[Int](w * w)
      var full = 0
      var p = 0
      while (p < sorted.length && full < w * w) {
        val c = sorted(p)
        val base = ((c.gy - y0) * side + (c.gx - x0)).toInt
        var o = 0
        while (o < w * w) {
          if (cnt(o) < cap) {
            val v = tv(base + delta(o))
            if (v != 0) {
              keys(o)(cnt(o)) = (c.sid.toLong << 32) | ((c.v - v) & 0xFFFFFFFFL)
              cnt(o) += 1
              if (cnt(o) == cap) full += 1
            }
          }
          o += 1
        }
        p += 1
      }
      (0 until w * w).iterator.filter(cnt(_) > 0).map { o =>
        OffsetRun(o % w - m, o / w - m, java.util.Arrays.copyOf(keys(o), cnt(o)))
      }
    }

    // exact median + robust RMS per offset (A9). Offsets that fail to
    // collect numSamples valid probes are skipped entirely — the
    // reference's computeRMS gate (`align3d.cpp`: 'if (count <
    // numSamples) return false'), so a border offset with a handful of
    // probes can never win the argmin; completeness is likewise
    // normalized by numSamples, not by the probe count.
    val oneMeterRaw = math.floor(1.0 / Quant.Scale)
    runs.groupByKey(r => (r.odx, r.ody))
      .reduceGroups((a, b) => a.copy(keys = mergeFirst(a.keys, b.keys, n)))
      .flatMap { case (_, r) =>
        if (r.keys.length < n) None
        else {
          val diff = r.keys.map(_.toInt)
          java.util.Arrays.sort(diff)
          val med = diff(n / 2)
          val dev = diff.map(d => math.abs(d - med))
          java.util.Arrays.sort(dev)
          Some(OffsetStat(r.odx, r.ody, n.toLong, med.toLong,
            dev(math.floor(n * 0.67).toInt).toLong,
            dev.count(_ < oneMeterRaw).toDouble / n.toDouble))
        }
      }.toDF()
  }

  /** Driver-side argmin + peak interpolation over the collected
    * per-offset stats rows (columns odx, ody, n, med, rms, complete).
    * The whole computation is scalar arithmetic — q_align_offset's
    * DuckDB dual replays it with the identical IEEE op sequence. */
  def resultFromStats(rows: Array[org.apache.spark.sql.Row],
                      cfg: Config): Result = {
    require(rows.nonEmpty,
      s"no offset collected >= ${cfg.numSamples} valid probes")
    val maxSteps = math.ceil(cfg.maxT / cfg.gsd).toInt

    // argmin with tie-break on |offset| then (odx, ody) for full determinism
    val best = rows.minBy { r =>
      val dx = r.getInt(0); val dy = r.getInt(1)
      (r.getLong(4), dx.toLong * dx + dy.toLong * dy, dx.toLong, dy.toLong)
    }
    val (bdx, bdy) = (best.getInt(0), best.getInt(1))
    val rmsAt = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(4)).toMap

    // 3x3 peak interpolation, only when the argmin is interior to the
    // offset lattice (the reference's `besti/bestj in (0, bins-1)`
    // guard). Default: the reference-exact Newton step (newtonPeak) —
    // offsets whose computeRMS gate failed contribute 0.0 exactly as
    // the reference's zero-initialized rmsArray does. The legacy
    // clamped separable step additionally requires all 9 neighbors to
    // have passed the gate.
    val (sx, sy) = {
      if (math.abs(bdx) == maxSteps || math.abs(bdy) == maxSteps) (0.0, 0.0)
      else if (cfg.newtonInterp)
        newtonPeak((dx, dy) => rmsAt.getOrElse((bdx + dx, bdy + dy), 0L).toDouble)
      else {
        val need = for (dy <- -1 to 1; dx <- -1 to 1) yield (bdx + dx, bdy + dy)
        if (!need.forall(rmsAt.contains)) (0.0, 0.0)
        else clampedPeak((dx, dy) => rmsAt((bdx + dx, bdy + dy)).toDouble)
      }
    }

    val tx = -(bdx + sx) * cfg.gsd
    val ty = -(bdy + sy) * cfg.gsd
    val tz = best.getLong(3).toDouble * Quant.Scale // median diff, meters
    Result(tx, ty, tz, best.getLong(4).toDouble * Quant.Scale,
      best.getDouble(5), best.getLong(2), bdx, bdy)
  }

  /** Full alignment: returns the result and the shifted target points. */
  def run(spark: SparkSession, refPts: DataFrame, tgtPts: DataFrame,
          cfg: Config = Config()): (Result, DataFrame) = {
    val st = stage(spark, refPts, tgtPts, cfg)
    val rows = offsetStats(st, cfg).collect()
    st.refDsm.unpersist(); st.tgtDsm.unpersist()
    val res = resultFromStats(rows, cfg)

    val aligned = tgtPts
      .withColumn("x", col("x") + lit(res.tx))
      .withColumn("y", col("y") + lit(res.ty))
      .withColumn("z", col("z") + lit(res.tz))
    (res, aligned)
  }

  /** Coarse-to-fine alignment as a convergent DataFrame loop (the north
    * star's "iterative xyz-offset alignment ... with checkpointed
    * residuals"): each pass halves gsd and the search radius, applies
    * the accumulated translation to the target, and — when a snapshot
    * root is given — commits the pass's residual summary to the
    * `align_residuals` table, making the loop resumable mid-sequence
    * (a re-run skips every pass whose lineage signature already
    * committed). Converges because the search radius contracts
    * geometrically while the grid refines. */
  def runCoarseToFine(spark: SparkSession, refPts: DataFrame, tgtPts: DataFrame,
                      cfg: Config = Config(), levels: Int = 3,
                      snapshotRoot: Option[String] = None): (Result, DataFrame) = {
    import spark.implicits._
    var acc = (0.0, 0.0, 0.0)
    var last: Result = null
    var cur = tgtPts
    for (lvl <- (levels - 1) to 0 by -1) {
      val scale = 1 << lvl
      val passCfg = cfg.copy(
        gsd = cfg.gsd * scale,
        maxT = if (lvl == levels - 1) cfg.maxT * scale else 2.0 * cfg.gsd * scale)
      val lineage = s"align lvl=$lvl gsd=${passCfg.gsd} maxT=${passCfg.maxT} " +
        s"acc=${acc._1},${acc._2},${acc._3} seed=${cfg.seed}"
      val resumed = snapshotRoot.flatMap { root =>
        graft.meta.Snapshots.committed(root, "align_residuals")
          .reverse.find(_.lineage == lineage)
          .map(m => graft.meta.Snapshots.read(spark, m).head())
      }
      val r = resumed match {
        case Some(row) => Result(row.getDouble(0), row.getDouble(1), row.getDouble(2),
          row.getDouble(3), row.getDouble(4), row.getLong(5), row.getInt(6), row.getInt(7))
        case None =>
          val (res, _) = run(spark, refPts, cur, passCfg)
          snapshotRoot.foreach { root =>
            graft.meta.Snapshots.commit(
              Seq((res.tx, res.ty, res.tz, res.rmsMeters, res.completeness,
                res.nValid, res.bestDx, res.bestDy))
                .toDF("tx", "ty", "tz", "rms", "compl", "n", "bdx", "bdy"),
              root, "align_residuals", lineage)
          }
          res
      }
      acc = (acc._1 + r.tx, acc._2 + r.ty, acc._3 + r.tz)
      cur = tgtPts
        .withColumn("x", col("x") + lit(acc._1))
        .withColumn("y", col("y") + lit(acc._2))
        .withColumn("z", col("z") + lit(acc._3))
        .localCheckpoint()
      last = r
    }
    val finalRes = last.copy(tx = acc._1, ty = acc._2, tz = acc._3)
    (finalRes, cur)
  }
}
