package graft.align

import graft.core.Quant
import graft.pyramid.FillVoids
import graft.stencil.{DenseGrid, Kernels, TileStencil}
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
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
 *  2. overlap rectangle of the two grids (their occupied-cell boxes);
 *  3. seeded MT19937-64 samples over the overlap: ONE sequential stream
 *     in sid order, never a per-partition RNG, so every strategy draws
 *     the same samples;
 *  4. per offset, the FIRST numSamples valid samples in sample order
 *     (valid = both cells non-void; reference semantics: walk-until-10k,
 *     `align3d.cpp:54-74`), looked up in a dense target window
 *     ([[firstValid]]);
 *  5. per-offset exact median + robust RMS over those first numSamples
 *     (sorted integer arrays — order-independent and bit-stable,
 *     [[offsetStat]]);
 *  6. argmin with the reference's tie-break (smaller |offset|), then
 *     3x3 quadratic peak interpolation on the driver (`align3d.cpp:168-199`).
 *
 * Two strategies, chosen by [[stats]] at the one gate (`DenseGrid.fits`
 * on the grid lattice):
 *  - dense: steps 1-5 are ONE task. Both point sets fold into the
 *    lattice (`DenseGrid.accumulate`), the task fills and trims both
 *    DSMs, draws the samples, puts the target into a window with an
 *    m-cell margin and walks every probe over the whole offset lattice
 *    at once; no shuffle, no broadcast.
 *  - staged ([[stage]] + [[offsetStats]]): the DSMs are persisted cell
 *    tables, the samples are drawn on the driver, and a tile-with-halo
 *    kernel walks the probes: each reference probe is keyed by its tile,
 *    each target cell is replicated to the tiles whose core lies within
 *    the search radius, and one task per tile fills a dense target
 *    window and walks its probes in sample order.
 *
 * At scale (staged): grids are sparse cell tables and the sample list is
 * the only broadcast. The kernel shuffles the reference probes (at most
 * numSamples * sampleFactor rows) and the target cells (plus ~4m/T halo
 * copies); no (offset x sample) row is ever built. A tile task holds its
 * (T+2m)^2 window and at most numSamples diffs per offset, and the
 * per-offset merge keeps at most numSamples keys per offset per
 * partition (map-side partial merge), independent of the input point
 * count and of the number of tiles. The dense task likewise holds two
 * lattices, the window and at most numSamples diffs per offset.
 */
object Align3d {

  final case class Config(
      gsd: Double = 1.0, maxT: Double = 10.0, maxDzMeters: Double = 2.0,
      numSamples: Int = 10000, sampleFactor: Int = 10, seed: Long = 0L)

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

  final case class GridRef(x0: Double, y0: Double, gsd: Double, w: Int, h: Int) {
    def bounds: Bounds = Bounds(w, h)
  }

  final case class Result(
      tx: Double, ty: Double, tz: Double, rmsMeters: Double,
      completeness: Double, nValid: Long, bestDx: Int, bestDy: Int)

  /** The quantize-and-clip projection of both strategies: each point as
    * `(bx, by, qz)` on its base cell of `ref`, points off the lattice
    * dropped. */
  private def project(pts: DataFrame, ref: GridRef): DataFrame =
    pts.select(floor((col("x") - lit(ref.x0)) / lit(ref.gsd)).cast("long").as("bx"),
        floor((col("y") - lit(ref.y0)) / lit(ref.gsd)).cast("long").as("by"),
        Quant.q(col("z")).as("qz"))
      .filter(col("bx") >= 0 && col("bx") < ref.w && col("by") >= 0 && col("by") < ref.h)

  private def edgeKernel(cfg: Config) =
    Kernels.EdgeFilter(math.max(1, math.floor(cfg.maxDzMeters / Quant.Scale).toInt))

  /** Step 1 within the gate: the per-cell max fold of `pts`, a narrow
    * input of the `DenseGrid.task` that fills and trims it ([[dsm]]). */
  private def folded(pts: DataFrame, ref: GridRef): DataFrame =
    DenseGrid.accumulate(project(pts, ref), ref.bounds, math.max, splat = false)

  /** Step 1's void fill and edge filter on a folded grid. */
  private def dsm(g: DenseGrid, cfg: Config): DenseGrid =
    g.fill(noSmoothing = true, maxLevel = 2).stencil(edgeKernel(cfg))

  /** Quantized DSM over a local grid derived from the point bounds.
    * Within the strategy gate (`DenseGrid.fits`), the max fold, fill and
    * edge filter run as one task over the points; above it, a per-cell
    * max aggregate feeds the tiled fill and stencil. */
  def prepGrid(pts: DataFrame, ref: GridRef, cfg: Config): DataFrame =
    if (DenseGrid.fits(pts.sparkSession, ref.bounds))
      DenseGrid.grid(Seq(folded(pts, ref)), ref.bounds)(g => dsm(g(0), cfg))
    else {
      val cells = project(pts, ref).groupBy(col("bx").as("gx"), col("by").as("gy"))
        .agg(max("qz").as("v"))
      TileStencil(FillVoids(cells, ref.bounds, noSmoothing = true, maxLevel = 2),
        edgeKernel(cfg), ref.bounds)
    }

  def gridFor(pts: DataFrame, cfg: Config): GridRef = {
    val row = pts.agg(min("x"), max("x"), min("y"), max("y")).head()
    val (x0, x1, y0, y1) = (row.getDouble(0), row.getDouble(1),
      row.getDouble(2), row.getDouble(3))
    GridRef(math.floor(x0), math.floor(y0), cfg.gsd,
      (math.ceil((x1 - math.floor(x0)) / cfg.gsd) + 2).toInt,
      (math.ceil((y1 - math.floor(y0)) / cfg.gsd) + 2).toInt)
  }

  /** Inclusive cell ranges `[x0, x1] x [y0, y1]`. */
  private final case class Box(x0: Long, x1: Long, y0: Long, y1: Long)

  /** Step 2: the overlap of the two grids' occupied-cell boxes (`None`
    * for a grid with no cell). */
  private def overlap(ref: Option[Box], tgt: Option[Box]): Box = {
    require(ref.isDefined && tgt.isDefined, "grids do not overlap")
    val (r, t) = (ref.get, tgt.get)
    val o = Box(math.max(r.x0, t.x0), math.min(r.x1, t.x1),
      math.max(r.y0, t.y0), math.min(r.y1, t.y1))
    require(o.x1 > o.x0 && o.y1 > o.y0, "grids do not overlap")
    o
  }

  /** Step 3 (L3): the `numSamples * sampleFactor` draws over the overlap
    * `ov`, `(sid, gx, gy)` in sid order, from one MT19937-64 stream
    * seeded with `cfg.seed`. */
  private def draws(ov: Box, cfg: Config): Iterator[(Int, Long, Long)] = {
    val rng = new Mt19937_64(cfg.seed)
    Iterator.range(0, cfg.numSamples * cfg.sampleFactor).map { sid =>
      val gx = ov.x0 + (rng.nextDouble() * (ov.x1 - ov.x0 + 1)).toLong
      val gy = ov.y0 + (rng.nextDouble() * (ov.y1 - ov.y0 + 1)).toLong
      (sid, gx, gy)
    }
  }

  /** The staged inputs of the offset search: both DSMs on the shared
    * grid `grid` and the seeded sample list. */
  final case class Staged(refDsm: DataFrame, tgtDsm: DataFrame,
                          samples: DataFrame, grid: GridRef)

  /** Steps 1-3 of the staged strategy: grids, overlap, seeded samples.
    * Exposed so the per-offset stats can be oracle-checked end to end
    * (the staged tables are plain parquet-writable cell tables). */
  def stage(spark: SparkSession, refPts: DataFrame, tgtPts: DataFrame,
            cfg: Config = Config()): Staged =
    stageOn(spark, refPts, tgtPts, gridFor(refPts, cfg), cfg)

  private def stageOn(spark: SparkSession, refPts: DataFrame, tgtPts: DataFrame,
                      grid: GridRef, cfg: Config): Staged = {
    import spark.implicits._
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
    def box(k: Int) = Option.when(!b.isNullAt(k))(
      Box(b.getLong(k), b.getLong(k + 1), b.getLong(k + 2), b.getLong(k + 3)))
    val samples = draws(overlap(box(0), box(4)), cfg).toVector
    Staged(refDsm, tgtDsm, samples.toDF("sid", "sgx", "sgy"), grid)
  }

  /** The search radius m in cells: offsets span [-m, m] on both axes. */
  private def radius(cfg: Config): Int = math.ceil(cfg.maxT / cfg.gsd).toInt

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

  /** Reference probes in ascending sid order: the sid, the index of the
    * probe cell in the target window, and the reference value there. */
  private final class Probes(val sid: Array[Int], val at: Array[Int], val rv: Array[Int])

  /** Per offset `o = (ody + m) * (2m + 1) + (odx + m)`: how many valid
    * probes it kept, their diffs `rv - tv` and, when asked for, their
    * sids, in sid order. */
  private final class FirstValid(val cnt: Array[Int], val diff: Array[Array[Int]],
                                 val sid: Array[Array[Int]])

  /** Step 4 (L4), the walk of both strategies: per offset, the first
    * `n` valid probes in sid order (fewer when there are fewer probes),
    * looked up in the target window `tv` (row stride `stride`, 0 = void).
    * The window must hold every cell within `m` of a probe, so
    * `at + delta(o)` never leaves it. Stops as soon as every offset is
    * full. */
  private def firstValid(p: Probes, tv: Array[Int], stride: Int, m: Int, n: Int,
                         keepSid: Boolean): FirstValid = {
    val cap = math.min(n, p.sid.length)
    val k = 2 * m + 1
    val offsets = k * k
    val delta = Array.tabulate(offsets)(o => (o / k - m) * stride + (o % k - m))
    val cnt = new Array[Int](offsets)
    val diff = Array.ofDim[Int](offsets, cap)
    val sid = if (keepSid) Array.ofDim[Int](offsets, cap) else null
    var full = 0
    var q = 0
    while (q < p.sid.length && full < offsets) {
      val base = p.at(q)
      var o = 0
      while (o < offsets) {
        val c = cnt(o)
        if (c < cap) {
          val v = tv(base + delta(o))
          if (v != 0) {
            diff(o)(c) = p.rv(q) - v
            if (keepSid) sid(o)(c) = p.sid(q)
            cnt(o) = c + 1
            if (c + 1 == cap) full += 1
          }
        }
        o += 1
      }
      q += 1
    }
    new FirstValid(cnt, diff, sid)
  }

  private val OneMeterRaw = math.floor(1.0 / Quant.Scale)

  /** Step 5 (A9), the reduction of both strategies: an offset's first
    * `count` valid diffs (`diff`, sorted in place) to its exact median +
    * robust RMS row. An offset that failed to collect numSamples valid
    * probes is skipped entirely — the reference's computeRMS gate
    * (`align3d.cpp`: 'if (count < numSamples) return false'), so a border
    * offset with a handful of probes can never win the argmin;
    * completeness is likewise normalized by numSamples, not by the probe
    * count. */
  private def offsetStat(odx: Int, ody: Int, diff: Array[Int], count: Int,
                         n: Int): Option[OffsetStat] =
    if (count < n) None
    else {
      java.util.Arrays.sort(diff, 0, n)
      val med = diff(n / 2)
      val dev = Array.tabulate(n)(i => math.abs(diff(i) - med))
      java.util.Arrays.sort(dev)
      Some(OffsetStat(odx, ody, n.toLong, med.toLong,
        dev(math.floor(n * 0.67).toInt).toLong, dev.count(_ < OneMeterRaw).toDouble / n))
    }

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

  /** Steps 4-5 of the staged strategy (L4 + A9): per offset, the first
    * numSamples valid probes in sample order, reduced to the per-offset
    * stats table (odx, ody, n, med, rms, complete). Oracle-checked
    * bit-exactly by q_align_rms.
    *
    * Tile-with-halo kernel: reference probes are keyed by tile; every
    * target cell is replicated to each tile whose core lies within the
    * search radius m (TileStencil's halo rule). One task per tile fills
    * a dense (T+2m)^2 target window and walks the tile's probes
    * ([[firstValid]]), keeping `sid << 32 | diff` per offset. The global
    * first numSamples of an offset lie within the union of the per-tile
    * first numSamples, so a merge that keeps the numSamples smallest keys
    * (partially on the map side) is exact. */
  def offsetStats(st: Staged, cfg: Config): DataFrame = {
    val spark = st.samples.sparkSession
    import spark.implicits._
    val m = radius(cfg)
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
    val k = 2 * m + 1
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
      val fv = firstValid(new Probes(sorted.map(_.sid),
        sorted.map(c => ((c.gy - y0) * side + (c.gx - x0)).toInt), sorted.map(_.v)),
        tv, side, m, n, keepSid = true)
      (0 until k * k).iterator.filter(fv.cnt(_) > 0).map { o =>
        OffsetRun(o % k - m, o / k - m, Array.tabulate(fv.cnt(o))(i =>
          (fv.sid(o)(i).toLong << 32) | (fv.diff(o)(i) & 0xFFFFFFFFL)))
      }
    }

    runs.groupByKey(r => (r.odx, r.ody))
      .reduceGroups((a, b) => a.copy(keys = mergeFirst(a.keys, b.keys, n)))
      .flatMap { case (_, r) => offsetStat(r.odx, r.ody, r.keys.map(_.toInt), r.keys.length, n) }
      .toDF()
  }

  /** Steps 1-5 of the dense strategy as ONE task: both DSMs, the overlap,
    * the samples, and one walk of the probes over a target window that
    * covers the whole lattice plus an m-cell void margin. */
  private def denseStats(refPts: DataFrame, tgtPts: DataFrame, grid: GridRef,
                         cfg: Config): DataFrame = {
    val m = radius(cfg)
    val n = cfg.numSamples
    val (w, stride) = (grid.w, grid.w + 2 * m)
    DenseGrid.task(Seq(folded(refPts, grid), folded(tgtPts, grid)), grid.bounds) { g =>
      val Seq(ref, tgt) = g.map(dsm(_, cfg))
      def box(d: DenseGrid) = Option.when(!d.isEmpty) {
        var (x0, x1, y0, y1) = (w, 0, grid.h, 0)
        d.foreach { (i, _) =>
          x0 = math.min(x0, i % w); x1 = math.max(x1, i % w)
          y0 = math.min(y0, i / w); y1 = math.max(y1, i / w)
        }
        Box(x0, x1, y0, y1)
      }
      val ov = overlap(box(ref), box(tgt))
      val tv = new Array[Int](stride * (grid.h + 2 * m)) // 0 = void
      tgt.foreach((i, v) => tv((i / w + m) * stride + i % w + m) = v)
      // a draw is a probe where the reference has a cell (the staged join)
      val sid, at, rv = Array.newBuilder[Int]
      draws(ov, cfg).foreach { case (s, gx, gy) =>
        val i = ref.index(gx.toInt, gy.toInt)
        if (ref.has(i)) { sid += s; at += (gy.toInt + m) * stride + gx.toInt + m; rv += ref(i) }
      }
      val fv = firstValid(new Probes(sid.result(), at.result(), rv.result()), tv, stride, m, n,
        keepSid = false)
      val k = 2 * m + 1
      Iterator.range(0, k * k).flatMap(o => offsetStat(o % k - m, o / k - m, fv.diff(o), fv.cnt(o), n))
    }(Encoders.product[OffsetStat]).toDF()
  }

  /** Steps 1-5: the per-offset stats table (odx, ody, n, med, rms,
    * complete), the offsets that collected numSamples valid probes. Within
    * the strategy gate (`DenseGrid.fits` on the grid lattice) it is one
    * task over the points; above it, the staged DSMs and the tile kernel,
    * collected so that the cached DSMs can be released. */
  def stats(spark: SparkSession, refPts: DataFrame, tgtPts: DataFrame,
            cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val grid = gridFor(refPts, cfg)
    if (DenseGrid.fits(spark, grid.bounds)) denseStats(refPts, tgtPts, grid, cfg)
    else {
      val st = stageOn(spark, refPts, tgtPts, grid, cfg)
      try offsetStats(st, cfg).as[OffsetStat].collect().toSeq.toDF()
      finally { st.refDsm.unpersist(); st.tgtDsm.unpersist() }
    }
  }

  /** Driver-side argmin + peak interpolation over the collected
    * per-offset stats rows (columns odx, ody, n, med, rms, complete).
    * The whole computation is scalar arithmetic — q_align_offset's
    * DuckDB dual replays it with the identical IEEE op sequence. */
  def resultFromStats(rows: Array[org.apache.spark.sql.Row],
                      cfg: Config): Result = {
    require(rows.nonEmpty,
      s"no offset collected >= ${cfg.numSamples} valid probes")
    val maxSteps = radius(cfg)

    // argmin with tie-break on |offset| then (odx, ody) for full determinism
    val best = rows.minBy { r =>
      val dx = r.getInt(0); val dy = r.getInt(1)
      (r.getLong(4), dx.toLong * dx + dy.toLong * dy, dx.toLong, dy.toLong)
    }
    val (bdx, bdy) = (best.getInt(0), best.getInt(1))
    val rmsAt = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(4)).toMap

    // 3x3 peak interpolation, only when the argmin is interior to the
    // offset lattice (the reference's `besti/bestj in (0, bins-1)`
    // guard): the reference-exact Newton step (newtonPeak) — offsets
    // whose computeRMS gate failed contribute 0.0 exactly as the
    // reference's zero-initialized rmsArray does.
    val (sx, sy) =
      if (math.abs(bdx) == maxSteps || math.abs(bdy) == maxSteps) (0.0, 0.0)
      else newtonPeak((dx, dy) => rmsAt.getOrElse((bdx + dx, bdy + dy), 0L).toDouble)

    val tx = -(bdx + sx) * cfg.gsd
    val ty = -(bdy + sy) * cfg.gsd
    val tz = best.getLong(3).toDouble * Quant.Scale // median diff, meters
    Result(tx, ty, tz, best.getLong(4).toDouble * Quant.Scale,
      best.getDouble(5), best.getLong(2), bdx, bdy)
  }

  /** Full alignment: returns the result and the shifted target points. */
  def run(spark: SparkSession, refPts: DataFrame, tgtPts: DataFrame,
          cfg: Config = Config()): (Result, DataFrame) = {
    val res = resultFromStats(stats(spark, refPts, tgtPts, cfg).collect(), cfg)
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
