package graft

import graft.api.Shr3d
import graft.grid.Gridding
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.GeometryFactory
import org.locationtech.jts.io.WKTReader

/** End-to-end SHR3D pipeline on a synthetic urban scene (FIXTURES.md F2):
  * ground + two buildings + a tree cluster; the pipeline must classify
  * and outline the buildings. */
class Shr3dSpec extends SparkSpec {

  // scene in a 32x32-cell corner of a small grid (gsd 1 "degree" here)
  private val spec = Gridding.GridSpec(lon0 = 0.0, lat0 = 0.0, gsd = 1.0)

  private lazy val scene = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = scala.collection.mutable.ArrayBuffer[(Double, Double, Double)]()
    // ground: 2 points per cell over [0,32)^2, z ~ 0.2 (no returns under
    // the solid roofs, as with real lidar)
    for (i <- 0 until 2048) {
      val x = rnd.nextDouble() * 32; val y = rnd.nextDouble() * 32
      val underA = x > 7.5 && x < 14.5 && y > 5.5 && y < 12.5
      val underB = x > 19.5 && x < 29.5 && y > 17.5 && y < 25.5
      if (!underA && !underB) pts += ((x, y, 0.2 + 0.05 * rnd.nextDouble()))
    }
    // building A: 8..14 x 6..12, z = 9; building B: 20..29 x 18..25, z = 14
    for (i <- 0 until 800) {
      val x = 8 + rnd.nextDouble() * 6; val y = 6 + rnd.nextDouble() * 6
      pts += ((x, y, 9.0 + 0.05 * rnd.nextDouble()))
    }
    for (i <- 0 until 1200) {
      val x = 20 + rnd.nextDouble() * 9; val y = 18 + rnd.nextDouble() * 7
      pts += ((x, y, 14.0 + 0.05 * rnd.nextDouble()))
    }
    // spiky trees near (4, 25): high max-min spread within cells
    for (i <- 0 until 200) {
      val x = 3 + rnd.nextDouble() * 3; val y = 24 + rnd.nextDouble() * 3
      pts += ((x, y, rnd.nextDouble() * 12.0))
    }
    pts.toSeq.toDF("lon", "lat", "z")
  }

  private lazy val products = Shr3d.run(spark, scene,
    Shr3d.Config(spec = spec, tileSize = 16, minRegionCells = 4,
      boundsOpt = Some((36, 36))))

  test("dsm reflects building heights") {
    val d = products.dsm.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val zA = graft.core.Quant.deq(d((10L, 8L)).toLong)
    val zG = graft.core.Quant.deq(d((2L, 2L)).toLong)
    assert(zA > 8.0 && zA < 10.5, s"building A height $zA")
    assert(zG < 1.5, s"ground height $zG")
  }

  test("classification marks building cells and keeps ground") {
    val cls = products.classification.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(cls((10L, 8L)) == products.ClsBuilding)
    assert(cls((24L, 21L)) == products.ClsBuilding)
    assert(cls((2L, 2L)) == products.ClsGround)
    val counts = cls.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts(products.ClsGround) > counts.getOrElse(products.ClsBuilding, 0))
  }

  test("two building components with valid outlines covering their cells") {
    val outl = products.outlines.collect()
    assert(outl.length >= 2, s"got ${outl.length} outlines")
    val reader = new WKTReader(new GeometryFactory())
    val geoms = outl.map(r => (r.getLong(0), r.getLong(1), reader.read(r.getString(2))))
    geoms.foreach { case (label, n, g) =>
      assert(g.isValid, s"label $label invalid")
      assert(g.getArea >= n * 0.6, s"label $label simplified area too small")
    }
    // the two major components roughly match the two building footprints
    val biggest = geoms.sortBy(-_._3.getArea).take(2).map(_._3.getArea).sorted
    assert(biggest(1) >= 40 && biggest(0) >= 20, s"areas ${biggest.toSeq}")
  }

  test("classified DTM recovers the ground surface under buildings") {
    val dtm = products.dtm.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // under building A (10, 8) the classified DTM must be near ground
    // (~0.2 m), not the 9 m roof
    val zUnderA = graft.core.Quant.deq(dtm((10L, 8L)).toLong)
    assert(zUnderA < 2.5, s"DTM under building A is $zUnderA m")
    val zGround = graft.core.Quant.deq(dtm((2L, 2L)).toLong)
    assert(zGround < 1.5, s"open ground DTM $zGround m")
  }

  test("external prior DTM (setDTM0): scales reconciled, MIN clamped, DTM = prior") {
    import spark.implicits._
    // flat prior at 0.4 m over the scene, written with a DIFFERENT fit
    val priorFit = graft.core.Quant.Fit(-2.0, 30.0 / 65535.0)
    val priorRaw = math.floor((0.4 - priorFit.offset) / priorFit.scale).toLong
    val prior = (for (y <- 0L until 36L; x <- 0L until 36L)
      yield (x, y, priorRaw)).toDF("gx", "gy", "v")
    val p = Shr3d.run(spark, scene,
      Shr3d.Config(spec = spec, tileSize = 16, minRegionCells = 4,
        boundsOpt = Some((36, 36)),
        dtm0 = Some(Shr3d.Dtm0(prior, priorFit))))
    val common = graft.core.Quant.reconcile(
      graft.core.Quant.Fit(graft.core.Quant.Offset, graft.core.Quant.Scale), priorFit)
    // DTM == adjusted prior everywhere (flat ~0.4 m in the common fit)
    val dtmVals = p.dtm.select("v").distinct().collect().map(_.getInt(0))
    assert(dtmVals.length == 1, s"prior DTM not flat: ${dtmVals.toSeq}")
    val zBack = dtmVals.head * common.scale + common.offset
    assert(math.abs(zBack - 0.4) < 0.01, s"prior height $zBack")
    // MIN is clamped to >= DTM0 where both exist
    val minBelow = p.minGrid.filter(col("v") < dtmVals.head).count()
    assert(minBelow == 0, s"$minBelow MIN cells below the prior")
    // classification still finds the buildings against the prior ground
    val cls = p.classification.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(cls((10L, 8L)) == p.ClsBuilding)
    assert(cls((2L, 2L)) == p.ClsGround)
  }

  test("INT and MINAGL products compose over the facade's DSM/DTM") {
    import spark.implicits._
    // give every point a deterministic "intensity" (the reference's
    // pset.i); roofs are brighter than ground here
    val withI = scene.withColumn("intensity",
      (col("z") * 100 + 50).cast("long"))
    val p = Shr3d.run(spark, withI,
      Shr3d.Config(spec = spec, tileSize = 16, minRegionCells = 4,
        boundsOpt = Some((36, 36))))

    val int = p.intensity.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(int.nonEmpty && int.values.forall(v => v >= 0 && v <= 65535))
    // the max-mean cell scales to (within fp floor) the full u16 range
    assert(int.values.max >= 65534, s"u16 scaling max ${int.values.max}")
    // every DSM cell accumulates at least its max point (diff 0 < dz),
    // and the trailing fill only adds cells
    val dsmCells = p.dsm.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dsmCells.subsetOf(int.keySet), "intensity lost DSM cells")
    // roof cells are brighter than ground cells (z-derived intensity)
    assert(int((24L, 21L)) > int((2L, 2L)), "roof not brighter than ground")

    val magl = p.minAgl.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(magl.nonEmpty)
    // building roofs sit well above DTM + agl -> present at roof height
    val zRoofB = graft.core.Quant.deq(magl((24L, 21L)).toLong)
    assert(zRoofB > 12.0 && zRoofB < 15.0, s"minAGL over building B $zRoofB")
    // open ground has no returns above DTM + 2 m -> absent
    assert(!magl.contains((2L, 2L)), "ground cell leaked into minAGL")
  }

  test("deterministic across runs") {
    val a = products.outlines.collect().map(_.toSeq).sortBy(_.head.toString)
    val b = Shr3d.run(spark, scene.repartition(13),
        Shr3d.Config(spec = spec, tileSize = 8, minRegionCells = 4,
          boundsOpt = Some((36, 36))))
      .outlines.collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.toSeq == b.toSeq)
  }

  test("outlinesRef: reference createOutlines product over the scene") {
    // scale 36 needs reference-sized buildings; the toy scene's fit in
    // a 36x36 grid, so exercise the chain at a proportionate scale
    val rows = products.outlinesRef(scale = 6).collect()
    assert(rows.nonEmpty)
    // scan-order label numbering is 1..n and every building polygon is
    // a simplified ring in the x3 frame (coords within 3x bounds)
    val labels = rows.map(_.getLong(0)).sorted
    assert(labels.head === 1L && labels.last === labels.length.toLong)
    rows.foreach { r =>
      val wkt = r.getString(2)
      assert(wkt.startsWith("POLYGON ((") && wkt.endsWith("))"))
      val coords = wkt.replaceAll("[A-Z()]", "").split(",").map(_.trim.split(" "))
      assert(coords.forall(c =>
        c(0).toDouble >= -1 && c(0).toDouble <= 36 * 3 &&
          c(1).toDouble >= -1 && c(1).toDouble <= 36 * 3))
    }
    // invariance under partitioning/tile choice
    val again = Shr3d.run(spark, scene.repartition(13),
        Shr3d.Config(spec = spec, tileSize = 8, minRegionCells = 4,
          boundsOpt = Some((36, 36))))
      .outlinesRef(scale = 6).collect()
    assert(rows.map(_.toSeq).sortBy(_.head.toString).toSeq ===
      again.map(_.toSeq).sortBy(_.head.toString).toSeq)
  }

  // ---- dense (one task per product) vs tiled ---------------------------

  private val specCfg = Shr3d.Config(spec = spec, tileSize = 16, minRegionCells = 4,
    boundsOpt = Some((36, 36)))

  /** Every product accessor, in forcing order. */
  private def accessors(p: Shr3d.Products): Seq[(String, () => DataFrame)] = Seq(
    "dsm" -> (() => p.dsm), "minGrid" -> (() => p.minGrid), "dsm2" -> (() => p.dsm2),
    "min2" -> (() => p.min2),
    "classifyGround.dtm" -> (() => p.classifyGroundResult.dtm),
    "classifyGround.voidMask" -> (() => p.classifyGroundResult.voidMask),
    "dtm" -> (() => p.dtm), "classification" -> (() => p.classification),
    "buildingLabels" -> (() => p.buildingLabels), "outlines" -> (() => p.outlines))

  /** Schema and sorted rows of every product. */
  private def productRows(p: Shr3d.Products): Seq[(String, Seq[String])] =
    accessors(p).map { case (name, get) =>
      val df = get()
      name -> (df.schema.map(f => s"${f.name}:${f.dataType}") ++
        df.collect().map(_.mkString(",")).sorted.toSeq)
    }

  private def assertTiledEqualsDense(pts: DataFrame): Shr3d.Products = {
    val dense = Shr3d.run(spark, pts, specCfg)
    var (denseRows, tiledRows) = (Seq.empty[(String, Seq[String])], Seq.empty[(String, Seq[String])])
    val jobs = jobsPer("dense" -> (() => denseRows = productRows(dense)),
      "tiled" -> (() => tiledRows =
        withDenseThreshold(0)(productRows(Shr3d.run(spark, pts, specCfg)))))
    // a 0 gate that never reached the products' gates leaves both sides dense
    assert(jobs("tiled") > jobs("dense"), s"the tiled side is not tiled: $jobs")
    denseRows.zip(tiledRows).foreach { case ((name, d), (_, t)) =>
      val same = d == t
      assert(same, s"$name: dense ${d.size} lines vs tiled ${t.size}, first difference " +
        d.zipAll(t, "-", "-").find(p => p._1 != p._2))
    }
    dense
  }

  test("one task per product == the tiled path, every product") {
    val p = assertTiledEqualsDense(scene)
    assert(p.buildingLabels.count() > 0 && p.classifyGroundResult.voidMask.count() > 0)
  }

  test("dense == tiled with a present v = 0 cell and a G4 object without ground neighbours") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = scala.collection.mutable.ArrayBuffer[(Double, Double, Double)]()
    // a 24 m roof at 8 m with a 10 m tower at 12 m in its middle
    def in(x: Double, y: Double, lo: Double, hi: Double) = x >= lo && x < hi && y >= lo && y < hi
    for (_ <- 0 until 5000) {
      val x = rnd.nextDouble() * 32; val y = rnd.nextDouble() * 32
      val z = if (in(x, y, 11, 21)) 12.0 else if (in(x, y, 4, 28)) 8.0 else 0.2
      pts += ((x, y, z + 0.04 * rnd.nextDouble()))
    }
    // one return at the bottom of the quantization range: the MIN grid
    // holds present cells whose value is 0
    pts += ((28.5, 3.5, graft.core.Quant.Offset))
    val df = pts.toSeq.toDF("lon", "lat", "z")
    val zeros = Gridding.minGrid(Gridding.points(df, spec)).filter(col("v") === 0).count()
    assert(zeros > 0, "no present v = 0 cell in the MIN grid")

    val p = assertTiledEqualsDense(df)
    // the tower is a building, but its dz/2 group touches only roof cells
    // (no ground neighbour), so G4 rejects it
    val towerCells = (for (x <- 13L to 18L; y <- 13L to 18L) yield (x, y)).toSet
    val cls = p.classification.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(towerCells.forall(c => cls(c) == p.ClsBuilding))
    val labeled = p.buildingLabels.select("gx", "gy").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labeled.nonEmpty, "the roof itself was dropped")
    assert((towerCells & labeled).isEmpty, "the tower survived G4")
  }

  test("job budget per product accessor (one pinned task per product)") {
    val p = Shr3d.run(spark, scene, specCfg)
    val got = jobsPer(accessors(p).map { case (name, get) =>
      name -> (() => { val df = get(); if (name == "outlines") df.count() })
    }: _*)
    // upper bounds: every product is its one task — dsm and minGrid fold
    // their points into the lattice inside it (no gridding shuffle); the
    // voidMask shares classifyGround's; outlines is the vectorizer's own plan
    val budget = Map("dsm" -> 1, "minGrid" -> 1, "dsm2" -> 1, "min2" -> 1,
      "classifyGround.dtm" -> 1, "classifyGround.voidMask" -> 0, "dtm" -> 1,
      "classification" -> 1, "buildingLabels" -> 1, "outlines" -> 2)
    budget.foreach { case (name, max) =>
      assert(got(name) <= max, s"$name ran ${got(name)} jobs, budget $max (all: $got)")
    }
  }

  test("forced-tiled job budget per product accessor (one shuffle per stencil chain)") {
    val got = withDenseThreshold(0) {
      val p = Shr3d.run(spark, scene, specCfg)
      jobsPer(accessors(p).map { case (name, get) =>
        name -> (() => { val df = get(); if (name == "outlines") df.count() })
      }: _*)
    }
    info(accessors(products).map { case (name, _) => s"$name ${got(name)}" }.mkString(", "))
    // upper bounds: dsm, dsm2, dtm and classification each run their
    // stencil chain as one tiled shuffle. The pyramid- and CC-heavy
    // products vary by a job or two from run to run, so theirs sit two
    // above the highest count measured.
    val budget = Map("dsm" -> 29, "minGrid" -> 29, "dsm2" -> 2, "min2" -> 20,
      "classifyGround.dtm" -> 149, "classifyGround.voidMask" -> 0, "dtm" -> 5,
      "classification" -> 2, "buildingLabels" -> 42, "outlines" -> 6)
    budget.foreach { case (name, max) =>
      assert(got(name) <= max, s"$name ran ${got(name)} jobs, budget $max (all: $got)")
    }
  }
}
