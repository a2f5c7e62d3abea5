package graft

import graft.align.{Align3d, Mt19937_64}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

class AlignSpec extends SparkSpec {

  test("mt19937-64 reference values (seed 5489 standard test vector)") {
    // first outputs for the canonical seed 5489 from the published
    // mt19937-64 reference implementation
    val r = new Mt19937_64(5489L)
    val first = Seq.fill(4)(r.nextLong())
    // unsigned: 14514284786278117030, 4620546740167642908,
    //           13109570281517897720, 17462938647148434322
    assert(first == Seq(-3932459287431434586L, 4620546740167642908L,
      -5337173792191653896L, -983805426561117294L))
  }

  test("mt19937-64 deterministic across instances") {
    val a = new Mt19937_64(0); val b = new Mt19937_64(0)
    assert(Seq.fill(1000)(a.nextLong()) == Seq.fill(1000)(b.nextLong()))
    val u = new Mt19937_64(0)
    assert(Seq.fill(1000)(u.nextDouble()).forall(d => d >= 0.0 && d < 1.0))
  }

  /** F3 fixture: urban-ish scene + target shifted by a known rigid
    * translation; alignment must recover the negated shift within one
    * grid step. */
  test("align recovers an injected shift") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // scene: ground plane + a few boxes, ~60x60 m, 1 pt/m^2
    val pts = for {
      i <- 0 until 6000
      x = rnd.nextDouble() * 60.0
      y = rnd.nextDouble() * 60.0
    } yield {
      val inBox1 = x > 10 && x < 20 && y > 12 && y < 26
      val inBox2 = x > 35 && x < 52 && y > 30 && y < 44
      // non-planar terrain: a pure plane is invariant under translation
      // (the median absorbs the constant dz), so discrimination needs
      // curvature at wavelengths >> gsd
      val terrain = 3.0 * math.sin(x * 0.4) + 2.0 * math.cos(y * 0.3)
      val z = terrain + (if (inBox1) 8.0 else if (inBox2) 14.0 else 0.5)
      (x, y, z)
    }
    val ref = pts.toDF("x", "y", "z")
    val (sx, sy, sz) = (2.5, -1.5, 0.75)
    val tgt = pts.map { case (x, y, z) =>
      (x + sx + (rnd.nextDouble() - 0.5) * 0.1,
        y + sy + (rnd.nextDouble() - 0.5) * 0.1, z + sz)
    }.toDF("x", "y", "z")

    val cfg = Align3d.Config(gsd = 1.0, maxT = 5.0, numSamples = 2000)
    val (res, aligned) = Align3d.run(spark, ref, tgt, cfg)
    assert(math.abs(res.tx - (-sx)) <= cfg.gsd, s"tx=${res.tx}")
    assert(math.abs(res.ty - (-sy)) <= cfg.gsd, s"ty=${res.ty}")
    assert(math.abs(res.tz - (-sz)) <= 0.3, s"tz=${res.tz}")
    assert(res.nValid > 0 && res.completeness > 0.5)
    // aligned target coordinates moved by the recovered offsets
    val m0 = tgt.agg(org.apache.spark.sql.functions.avg("x")).head().getDouble(0)
    val m1 = aligned.agg(org.apache.spark.sql.functions.avg("x")).head().getDouble(0)
    assert(math.abs((m1 - m0) - res.tx) < 1e-9)
  }

  test("coarse-to-fine loop converges and resumes from residual snapshots") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = (for (i <- 0 until 6000) yield {
      val x = rnd.nextDouble() * 60.0; val y = rnd.nextDouble() * 60.0
      (x, y, 3.0 * math.sin(x * 0.4) + 2.0 * math.cos(y * 0.3))
    }).toDF("x", "y", "z")
    val (sx, sy, sz) = (5.5, -3.25, 0.4)
    val tgt = pts.select((col("x") + sx).as("x"), (col("y") + sy).as("y"),
      (col("z") + sz).as("z"))
    val root = java.nio.file.Files.createTempDirectory("graft-align").toString
    val cfg = Align3d.Config(gsd = 0.5, maxT = 2.0, numSamples = 2000)
    val (res, _) = Align3d.runCoarseToFine(spark, pts, tgt, cfg, levels = 3,
      snapshotRoot = Some(root))
    // coarse pass searches maxT*4 = 8 > 5.5; fine passes refine to gsd/2
    assert(math.abs(res.tx - (-sx)) <= cfg.gsd, s"tx=${res.tx}")
    assert(math.abs(res.ty - (-sy)) <= cfg.gsd, s"ty=${res.ty}")
    assert(math.abs(res.tz - (-sz)) <= 0.2, s"tz=${res.tz}")
    // resume: a second run must reuse every committed pass (same results)
    val before = graft.meta.Snapshots.committed(root, "align_residuals").size
    val (res2, _) = Align3d.runCoarseToFine(spark, pts, tgt, cfg, levels = 3,
      snapshotRoot = Some(root))
    val after = graft.meta.Snapshots.committed(root, "align_residuals").size
    assert(res2 == res)
    assert(after == before, s"recomputed passes: $before -> $after")
  }

  test("newton peak step: dense oracle on a tilted RMS quadratic") {
    // exact quadratic with a CROSS TERM (a tilted bowl): the Newton step
    // with dxy must recover the true minimum from the 3x3 samples alone;
    // the separable clamped step cannot (it ignores dxy).
    val (px, py) = (0.3, -0.2)
    val (a, b, c) = (2.0, 3.0, 1.5) // positive-definite: a*b > (c/2)^2... c^2/4
    def f(dx: Int, dy: Int): Double = {
      val x = dx - px; val y = dy - py
      a * x * x + b * y * y + c * x * y + 7.0
    }
    val (nx, ny) = Align3d.newtonPeak(f)
    assert(math.abs(nx - px) < 1e-12 && math.abs(ny - py) < 1e-12,
      s"newton got ($nx, $ny), want ($px, $py)")
    // hand-computed dense oracle: on an exact quadratic the central
    // differences recover the true gradient at the center and the true
    // Hessian (2a, 2b, c), so the closed-form Newton solution is exact
    val gx = (f(1, 0) - f(-1, 0)) / 2.0
    val gy = (f(0, 1) - f(0, -1)) / 2.0
    assert(math.abs(gx - (2 * a * (-px) + c * (-py))) < 1e-12)
    assert(math.abs(gy - (2 * b * (-py) + c * (-px))) < 1e-12)
    val det = (2 * a) * (2 * b) - c * c
    val wantX = -((2 * b) * gx - c * gy) / det
    val wantY = -((2 * a) * gy - c * gx) / det
    assert(math.abs(nx - wantX) < 1e-12 && math.abs(ny - wantY) < 1e-12)

    // degenerate surface (det == 0): newton must bail to (0,0) like the
    // reference's `det != 0` guard
    val (zx, zy) = Align3d.newtonPeak((dx, dy) => dx.toDouble) // linear: H = 0
    assert(zx == 0.0 && zy == 0.0)
  }

  test("align with injected sub-cell shift: newton recovers the sub-cell offset") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val pts = (for (_ <- 0 until 8000) yield {
      val x = rnd.nextDouble() * 60.0; val y = rnd.nextDouble() * 60.0
      // curvature in BOTH axes with a diagonal component so the RMS
      // surface near the peak is genuinely tilted
      (x, y, 3.0 * math.sin(x * 0.4 + y * 0.2) + 2.0 * math.cos(y * 0.35 - x * 0.15))
    }).toDF("x", "y", "z")
    val (sx, sy) = (1.4, -0.6) // non-integer: exercises the sub-cell step
    val tgt = pts.select((col("x") + sx).as("x"), (col("y") + sy).as("y"), col("z"))
    val cfgN = Align3d.Config(gsd = 1.0, maxT = 4.0, numSamples = 2000)
    val (resN, _) = Align3d.run(spark, pts, tgt, cfgN)
    // recovered within a cell, then refined below it
    assert(math.abs(resN.tx - (-sx)) <= 1.0 && math.abs(resN.ty - (-sy)) <= 1.0)
    val errN = math.hypot(resN.tx + sx, resN.ty + sy)
    assert(errN <= 0.75, s"newton sub-cell error $errN")
  }

  test("align of identical clouds is (0,0,0)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(3000)((rnd.nextDouble() * 40, rnd.nextDouble() * 40,
      rnd.nextDouble() * 3)).toDF("x", "y", "z")
    val cfg = Align3d.Config(gsd = 1.0, maxT = 3.0, numSamples = 1000)
    val (res, _) = Align3d.run(spark, pts, pts, cfg)
    assert(res.bestDx == 0 && res.bestDy == 0)
    assert(res.tz == 0.0 && res.rmsMeters < 0.1)
  }

  /** A 300 x 300 m scene at 1 pt/m^2 (so the 1 m grids span 3 x 3
    * offset-search tiles): curved terrain, two boxes, and a void disc
    * in the target's lower-left corner. The target is shifted by
    * (sx, sy, sz) plus xy jitter. */
  private def tiledScene(sx: Double, sy: Double, sz: Double): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pts = for (_ <- 0 until 90000) yield {
      val x = rnd.nextDouble() * 300.0; val y = rnd.nextDouble() * 300.0
      val inBox1 = x > 60 && x < 95 && y > 40 && y < 70
      val inBox2 = x > 180 && x < 240 && y > 150 && y < 200
      val terrain = 3.0 * math.sin(x * 0.13) + 2.0 * math.cos(y * 0.09 + x * 0.02)
      (x, y, 6.0 + terrain + (if (inBox1) 6.0 else if (inBox2) 9.0 else 0.0))
    }
    val tgt = pts.map { case (x, y, z) =>
      (x + sx + (rnd.nextDouble() - 0.5) * 0.1, y + sy + (rnd.nextDouble() - 0.5) * 0.1, z + sz)
    }.filter { case (x, y, _) => math.hypot(x - 40, y - 40) > 30 }
    (pts.toDF("x", "y", "z"), tgt.toDF("x", "y", "z"))
  }

  /** Per offset, the differences of every valid probe in sid order: a
    * probe is valid when both its reference and its target cell exist. */
  private def probeDiffs(st: Align3d.Staged, cfg: Align3d.Config): Seq[((Int, Int), Array[Int])] = {
    def cells(df: DataFrame, v: String) = df.select("gx", "gy", v).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val ref = cells(st.refDsm, "rv")
    val tgt = cells(st.tgtDsm, "tv")
    val smp = st.samples.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val m = math.ceil(cfg.maxT / cfg.gsd).toInt
    for (odx <- -m to m; ody <- -m to m) yield (odx, ody) -> smp.flatMap { case (_, x, y) =>
      for (r <- ref.get((x, y)); t <- tgt.get((x + odx, y + ody))) yield r - t
    }
  }

  /** Brute-force reference of [[Align3d.offsetStats]] over collected rows: per
    * offset, the first numSamples valid probes in sid order, then the
    * median, the robust RMS and the completeness of their differences. */
  private def bruteStats(diffs: Seq[((Int, Int), Array[Int])], n: Int)
      : Seq[(Int, Int, Long, Long, Long, Double)] = {
    val oneMeterRaw = math.floor(1.0 / graft.core.Quant.Scale)
    for (((odx, ody), all) <- diffs if all.length >= n) yield {
      val d = all.take(n).sorted
      val med = d(n / 2)
      val dev = d.map(x => math.abs(x - med)).sorted
      (odx, ody, n.toLong, med.toLong, dev(math.floor(n * 0.67).toInt).toLong,
        dev.count(_ < oneMeterRaw).toDouble / n)
    }
  }

  private def rows(df: DataFrame) = df.collect().toSeq
    .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getDouble(5)))
    .sortBy(r => (r._1, r._2))

  /** [[Align3d.stats]] rows at the default gate (one task on these
    * scenes) and under a forced gate (staged DSMs + tile kernel). */
  private def bothStats(ref: DataFrame, tgt: DataFrame, cfg: Align3d.Config) =
    (rows(Align3d.stats(spark, ref, tgt, cfg)),
      withDenseThreshold(0)(rows(Align3d.stats(spark, ref, tgt, cfg))))

  test("prepGrid: one-task dense path == tiled path (fill + edge filter), void disc included") {
    val (_, tgt) = tiledScene(3.0, -2.0, 0.5)
    val cfg = Align3d.Config(gsd = 1.0)
    val grid = Align3d.gridFor(tgt, cfg)
    def rows() = Align3d.prepGrid(tgt, grid, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    var (dense, tiled) = (Seq.empty[(Long, Long, Int)], Seq.empty[(Long, Long, Int)])
    val jobs = jobsPer("dense" -> (() => dense = rows()),
      "tiled" -> (() => tiled = withDenseThreshold(0)(rows())))
    assert(jobs("tiled") > jobs("dense"), s"the tiled side is not tiled: $jobs")
    assert(dense.nonEmpty && dense == tiled)
  }

  test("job budget: Align3d.stage below the dense gate") {
    val (ref, tgt) = tiledScene(3.0, -2.0, 0.5)
    val cfg = Align3d.Config(gsd = 1.0, maxT = 4.0, numSamples = 2000)
    var st: Align3d.Staged = null
    val jobs = jobsPer("stage" -> (() => st = Align3d.stage(spark, ref, tgt, cfg)))
    try {
      // the grid-bounds and overlap aggregates only: each DSM's fold, fill
      // and edge filter is one task inside the overlap query (the two
      // per-cell max aggregates it replaced made it 7)
      assert(jobs("stage") <= 5, s"Align3d.stage ran ${jobs("stage")} jobs, budget 5")
    } finally { st.refDsm.unpersist(); st.tgtDsm.unpersist() }
  }

  test("job budget: Align3d.run below the dense gate is one search task") {
    val (ref, tgt) = tiledScene(3.0, -2.0, 0.5)
    val cfg = Align3d.Config(gsd = 1.0, maxT = 4.0, numSamples = 2000)
    var (dense, forced) = (Option.empty[Align3d.Result], Option.empty[Align3d.Result])
    val jobs = jobsPer("dense" -> (() => dense = Some(Align3d.run(spark, ref, tgt, cfg)._1)),
      "forced" -> (() => forced = Some(withDenseThreshold(0)(Align3d.run(spark, ref, tgt, cfg)._1))))
    // the grid-bounds aggregate and the one task; staging adds the
    // overlap aggregate over the persisted DSMs, the probe join and the
    // kernel's two shuffles
    assert(jobs("dense") <= 3, s"Align3d.run ran ${jobs("dense")} jobs, budget 3")
    assert(jobs("forced") > jobs("dense"), s"the forced side is not staged: $jobs")
    assert(dense.isDefined && dense == forced)
  }

  test("offsetStats == brute-force first-N reference across tiles (1 and 7 partitions)") {
    val (ref, tgt) = tiledScene(3.0, -2.0, 0.5)
    val cfg = Align3d.Config(gsd = 1.0, maxT = 4.0, numSamples = 2000)
    val st = Align3d.stage(spark, ref, tgt, cfg)
    assert(st.grid.w > 256 && st.grid.h > 256, "scene must span 3 x 3 tiles")
    try {
      val want = bruteStats(probeDiffs(st, cfg), cfg.numSamples)
      assert(want.size == 81, "every offset passes the gate at numSamples = 2000")
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      try for (parts <- Seq("1", "7")) {
        spark.conf.set(key, parts)
        // the tile kernel over the staged DSMs, then Align3d.stats at the
        // default gate (one task) and at a forced gate (staged)
        assert(rows(Align3d.offsetStats(st, cfg)) == want, s"at $parts shuffle partitions")
        assert(bothStats(ref, tgt, cfg) == (want, want), s"at $parts shuffle partitions")
      } finally spark.conf.set(key, prev)
      // the schema the stats table has always had (the DuckDB dual reads it)
      val schema = Seq("odx" -> "int", "ody" -> "int", "n" -> "bigint", "med" -> "bigint",
        "rms" -> "bigint", "complete" -> "double")
      def names(df: DataFrame) = df.schema.map(f => f.name -> f.dataType.simpleString)
      assert(names(Align3d.offsetStats(st, cfg)) == schema)
      assert(names(Align3d.stats(spark, ref, tgt, cfg)) == schema)
    } finally { st.refDsm.unpersist(); st.tgtDsm.unpersist() }
  }

  test("offsetStats drops offsets that miss the numSamples gate; maxT 10 (441 offsets)") {
    val (ref, tgt) = tiledScene(3.0, -2.0, 0.5)
    val cfg = Align3d.Config(gsd = 1.0, maxT = 10.0, numSamples = 500, sampleFactor = 4)
    val st = Align3d.stage(spark, ref, tgt, cfg)
    try {
      val diffs = probeDiffs(st, cfg)
      val want = bruteStats(diffs, cfg.numSamples)
      assert(want.size == 441)
      assert(rows(Align3d.offsetStats(st, cfg)) == want)
      assert(bothStats(ref, tgt, cfg) == (want, want))
      // a cap one above the smallest valid-probe count over all 2000
      // staged samples makes that (border) offset fail the gate. Only the
      // staged kernel can hold the sample list fixed while the cap moves:
      // `stats` draws numSamples * sampleFactor samples, so its cap moves
      // the sample list with it
      val low = diffs.map(_._2.length).min
      val failing = diffs.collect { case (o, d) if d.length == low => o }.toSet
      assert(failing.forall { case (dx, dy) => math.abs(dx) == 10 || math.abs(dy) == 10 },
        s"failing offsets $failing are not on the search border")
      val gated = cfg.copy(numSamples = low + 1)
      val got = rows(Align3d.offsetStats(st, gated))
      assert(got == bruteStats(diffs, gated.numSamples))
      assert(got.size == 441 - failing.size)
      assert(got.forall(r => !failing.contains((r._1, r._2))))
    } finally { st.refDsm.unpersist(); st.tgtDsm.unpersist() }
    // through `stats`: at sampleFactor 1 an offset passes only when all
    // of its numSamples draws are valid, so 9 draws fail a band of the
    // 441 offsets and pass the rest, on both strategies alike
    val mixed = cfg.copy(numSamples = 9, sampleFactor = 1)
    val sm = Align3d.stage(spark, ref, tgt, mixed)
    val want = try bruteStats(probeDiffs(sm, mixed), mixed.numSamples)
      finally { sm.refDsm.unpersist(); sm.tgtDsm.unpersist() }
    assert(want.nonEmpty && want.size < 441, s"${want.size} of 441 offsets pass")
    assert(bothStats(ref, tgt, mixed) == (want, want))
  }

  test("stats: no offset reaches numSamples on either path; run names the gate") {
    val (ref, tgt) = tiledScene(3.0, -2.0, 0.5)
    // 20000 draws, some in the target's void disc: no offset has 20000 valid probes
    val cfg = Align3d.Config(gsd = 1.0, maxT = 4.0, numSamples = 20000, sampleFactor = 1)
    val st = Align3d.stage(spark, ref, tgt, cfg)
    val want = try bruteStats(probeDiffs(st, cfg), cfg.numSamples)
      finally { st.refDsm.unpersist(); st.tgtDsm.unpersist() }
    assert(want.isEmpty && bothStats(ref, tgt, cfg) == (want, want))
    def message = intercept[IllegalArgumentException](Align3d.run(spark, ref, tgt, cfg)).getMessage
    val dense = message
    assert(dense.contains("no offset collected >= 20000 valid probes"), dense)
    assert(withDenseThreshold(0)(message) == dense)
  }

  test("align at the reference-default Config recovers an injected shift") {
    val (sx, sy, sz) = (4.0, -3.0, 0.6)
    val (ref, tgt) = tiledScene(sx, sy, sz)
    val cfg = Align3d.Config()
    val (res, _) = Align3d.run(spark, ref, tgt, cfg)
    assert(math.abs(res.tx - (-sx)) <= cfg.gsd, s"tx=${res.tx}")
    assert(math.abs(res.ty - (-sy)) <= cfg.gsd, s"ty=${res.ty}")
    assert(math.abs(res.tz - (-sz)) <= 0.3, s"tz=${res.tz}")
    assert(res.nValid == cfg.numSamples && res.completeness > 0.5)
  }
}
