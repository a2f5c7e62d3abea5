package graft.vector

import graft.cc.ConnectedComponents
import graft.stencil.DenseGrid
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Reference-EXACT boundary tracing (SURVEY.md §2.9 V1; pubgeo
 * `src/common/geo_polygon.h:140-243` + `src/common/Image.h:244-326`):
 * the radial-sweep pixel walk over a label image, producing the same
 * vertex sequences (pixel-center coordinates, clockwise in image
 * coordinates, unclosed in the reference — closed here only for WKT
 * serialization) that the reference writes to its shapefiles.
 *
 * This complements [[Vectorize]]'s edge-trace re-spec (which yields
 * OGC-simple closed rings): use `refOutlines` when byte-parity with the
 * reference polygon product matters, `Vectorize.outlines` when valid
 * geometry matters. The walk can revisit pixels (1-px-wide necks), so
 * rings here may self-touch exactly as the reference's do.
 *
 * Label semantics reproduced exactly (`Image.h:255-326` +
 * `disjoint_set.h:59-121`):
 *  - foreground objects are 8-connected, numbered 1.. in ROW-MAJOR
 *    FIRST-PIXEL order (DisjointSet.merge keeps the smaller provisional
 *    label and flatten renumbers roots in ascending provisional order,
 *    which is exactly the scan order of each component's first pixel);
 *  - background is 4-connected; components touching the image edge
 *    collapse to label 0 (never traced); enclosed background components
 *    (holes) are numbered -1, -2, .. in row-major first-pixel order;
 *  - a hole becomes an inner ring of the label directly ABOVE its first
 *    pixel (`geo_polygon.h:230`), and inner rings are attached in
 *    ascending negative-label order (std::map iteration,
 *    `geo_polygon.h:236-239`) = DESCENDING hole rank.
 *
 * Distribution: both label passes run on the engine's tiled CCL (G1);
 * scan-order renumbering is a two-stage rank over one row per component
 * (block-local row_number + prefix offsets — no single-task sort of the
 * component table); per-label ring gather is the same bounded
 * mapGroups as [[Vectorize.outlines]] with the same `maxCells` refusal.
 */
object RefTrace {

  import Vectorize.{PackedCells, Pt}

  /** Row delta by walk direction (geo_polygon.h:163). */
  private val dj = Array(1, 1, 0, -1, -1, -1, 0, 1)
  /** Column delta by walk direction (geo_polygon.h:164). */
  private val di = Array(0, -1, -1, -1, 0, 1, 1, 1)

  /** The reference's radial-sweep boundary walk (geo_polygon.h:152-204)
    * from pixel (row `r`, col `c`), which must be the component's
    * row-major first pixel (no same-label pixel in any earlier row).
    * `fg = true` -> 8-connectivity (direction stride 1), `false` ->
    * 4-connectivity (stride 2, background/hole rings). Membership is
    * `cells.contains(col, row)`; out-of-image pixels are simply absent.
    * Returns the UNCLOSED clockwise ring of (col, row) pixel coords;
    * a single-pixel component returns just its one pixel. */
  def walkFrom(cells: PackedCells, r: Long, c: Long, fg: Boolean): Vector[Pt] = {
    val stride = if (fg) 1 else 2
    var m = r
    var n = c
    var firstDir = -1
    var lastDir = 0
    val ring = scala.collection.mutable.ArrayBuffer[Pt]()
    val maxSteps = 8L * (cells.size + 2) // walk visits each pixel <= 8 times
    while (true) {
      ring += ((n, m))
      if (ring.length > maxSteps)
        throw new IllegalStateException(
          s"boundary walk did not close after $maxSteps steps — input not one component?")
      val finDir = (lastDir + 4) % 8
      var newDir = (lastDir + 6) % 8
      var found = false
      while (!found && newDir != finDir) {
        if (cells.contains(n + di(newDir), m + dj(newDir))) found = true
        else newDir = (newDir + stride) % 8
      }
      if (newDir == finDir && ring.length == 1) {
        return ring.toVector // single-pixel object keeps its one vertex
      } else if (m == r && n == c && newDir == firstDir) {
        ring.remove(ring.length - 1) // pop the re-pushed start ("unclose")
        return ring.toVector
      } else if (firstDir < 0) {
        firstDir = newDir
      }
      m += dj(newDir)
      n += di(newDir)
      lastDir = newDir
    }
    sys.error("unreachable")
  }

  /** [[walkFrom]] started at the component's row-major first pixel. */
  def walk(cells: PackedCells, fg: Boolean): Vector[Pt] = {
    var r = Long.MaxValue
    var c = Long.MaxValue
    cells.foreach { (x, y) =>
      if (y < r || (y == r && x < c)) { r = y; c = x }
    }
    walkFrom(cells, r, c, fg)
  }

  /** WKT POLYGON from an outer walk ring + inner walk rings (already in
    * reference attachment order). Rings are closed for WKT by repeating
    * the first vertex (the reference stores them unclosed and lets OGR
    * close on write). */
  def toWkt(outer: Vector[Pt], inners: Seq[Vector[Pt]]): String = {
    def ringStr(r: Vector[Pt]): String =
      (r :+ r.head).map(p => s"${p._1} ${p._2}").mkString("(", ", ", ")")
    (ringStr(outer) +: inners.map(ringStr)).mkString("POLYGON (", ", ", ")")
  }

  /** Block size for the two-stage scan-order rank (one row per
    * component; blocks bound every window partition). */
  private val RankBlock: Long = 1L << 20

  /** (key, cid) -> (key, rank) where rank is the 1-based ascending rank
    * of cid. Two-stage: block-local row_number + prefix offsets over the
    * per-block counts — no single-task sort of the full table. */
  private def rankByCid(first: DataFrame): DataFrame = {
    val blocks = first.withColumn("tid", expr(s"cid div $RankBlock"))
    val wLocal = Window.partitionBy(col("tid")).orderBy(col("cid"))
    val wPrefix = Window.orderBy(col("tid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = blocks.groupBy("tid").agg(count(lit(1)).as("tn"))
      .withColumn("off", sum(col("tn")).over(wPrefix) - col("tn"))
      .select("tid", "off")
    blocks.withColumn("lr", row_number().over(wLocal))
      .join(offsets, Seq("tid"))
      .withColumn("rank", col("off") + col("lr"))
      .drop("tid", "lr", "off")
  }

  /** Mask cells (gx, gy) on a [0,w)x[0,h) raster -> one row per
    * foreground object: (label, n_cells, wkt) with the reference's
    * label numbering, vertex sequences, and hole attachment. `n_cells`
    * counts the object's own pixels (holes excluded). Objects whose
    * pixel count (own + holes) exceeds `maxCells` are refused with a
    * null wkt, as in [[Vectorize.outlines]]. */
  def refOutlines(mask: DataFrame, bounds: Bounds, tileSize: Int = 128,
                  maxCells: Long = Vectorize.DefaultMaxCells): DataFrame =
    outlinesWith(mask, bounds, tileSize, maxCells,
      (outer, inners) => Some(toWkt(outer, inners)))

  /** WKT POLYGON over fractional-coordinate rings (buildingSimplify
    * output), serialized through [[Vectorize.ringWkt]] so formatting
    * stays bit-identical with every other polygon product. */
  def toWktD(outer: Vector[(Double, Double)],
             inners: Seq[Vector[(Double, Double)]]): String =
    (Vectorize.ringWkt(outer) +: inners.map(Vectorize.ringWkt))
      .mkString("POLYGON (", ", ", ")")

  /** The reference's FULL createOutlines chain (`shr3d.cpp:510-529`):
    * nn_upsample the mask by `factor` (the reference's bldgLabels3,
    * factor 3), trace with the radial sweep, then buildingSimplify
    * each ring (findCorners -> addMissingPoints -> improvePoints ->
    * vwReduce, `geo_polygon.h:333-372`). Polygons whose simplified
    * outer ring is empty are dropped and empty simplified holes are
    * dropped, exactly as the reference does. Coordinates are in the
    * UPSAMPLED pixel frame (as the reference's are, georeferenced at
    * gsd/factor on write). `n_cells` counts upsampled object pixels. */
  def refOutlinesSimplified(mask: DataFrame, bounds: Bounds, scale: Int = 36,
                            factor: Int = 3, tileSize: Int = 128,
                            maxCells: Long = Vectorize.DefaultMaxCells): DataFrame = {
    val spark = mask.sparkSession
    import spark.implicits._
    val deltas = (for { dy <- 0 until factor; dx <- 0 until factor }
      yield (dx, dy)).toDF("dx", "dy")
    val up = mask.select(col("gx").cast("long"), col("gy").cast("long"))
      .crossJoin(broadcast(deltas))
      .select((col("gx") * factor + col("dx")).as("gx"),
        (col("gy") * factor + col("dy")).as("gy"))
    outlinesWith(up, Bounds(bounds.w * factor, bounds.h * factor), tileSize, maxCells,
      (outer, inners) => {
        def d(r: Vector[Pt]) = r.map(p => (p._1.toDouble, p._2.toDouble))
        val so = Vectorize.buildingSimplify(d(outer), scale)
        if (so.isEmpty) None
        else Some(toWktD(so,
          inners.map(h => Vectorize.buildingSimplify(d(h), scale))
            .filter(_.nonEmpty)))
      })
  }

  private def outlinesWith(mask: DataFrame, bounds: Bounds, tileSize: Int, maxCells: Long,
                           render: (Vector[Pt], Seq[Vector[Pt]]) => Option[String])
  : DataFrame = {
    val spark = mask.sparkSession
    import spark.implicits._
    val w = bounds.w.toLong
    val h = bounds.h.toLong

    // Strategy gate (the CCL/flow-family dense discipline): a raster
    // whose full lattice fits the gate runs the ENTIRE chain — both CCL
    // passes, scan-order renumbering, hole attachment, and every ring
    // walk — in ONE executor task (~4 jobs instead of ~30 for the
    // distributed pipeline below). Larger rasters keep the tiled path;
    // both are asserted equal in RefTraceSpec (dense vs the forced tiled
    // path vs the independent test oracle).
    if (DenseGrid.fits(spark, bounds))
      return outlinesDense(mask, bounds.w, bounds.h, maxCells, render)

    // pin the mask ONCE: its lineage (typically a docs scan + grid
    // aggregate + threshold) used to run three times — as the fg CCL
    // input, in the bbox aggregate, and in the background anti-join
    val fgCells = mask.select(col("gx").cast("long"), col("gy").cast("long"))
      .withColumn("v", lit(1))
      .localCheckpoint(eager = true)
    // 8-connected foreground labeling (canonical min-cell-id labels)
    val fgLab = ConnectedComponents.label(fgCells, bounds, tileSize)
      .select("gx", "gy", "label").localCheckpoint()
    // renumber to the reference's scan order: rank of first pixel
    val fgFirst = fgLab.groupBy("label")
      .agg(min(col("gy") * w + col("gx")).as("cid"),
        count(lit(1)).as("n_fg"))
    val fgRef = rankByCid(fgFirst)
      .select(col("label"), col("rank").as("ref"), col("n_fg"))

    // background = lattice minus mask, 4-connected; edge-touching
    // components are the reference's label 0 (never traced).
    //
    // Scale shape: holes are enclosed by foreground, so they live
    // strictly inside the mask bbox; every background cell ON the
    // bbox+1 boundary is either on the true raster border or outside
    // the bbox and hence 4-connected around the mask to the border.
    // Labeling background only within the (clamped) bbox+1 window and
    // treating its boundary as "edge" is therefore EXACTLY the
    // reference's full-raster classification, at O(bbox) lattice cost
    // instead of O(raster) — the win that keeps a sparse mask on a
    // 10^12-cell raster from materializing the whole lattice.
    val bb = fgCells.agg(min(col("gx")), max(col("gx")),
      min(col("gy")), max(col("gy"))).head()
    if (bb.isNullAt(0))
      return spark.emptyDataFrame
        .withColumn("label", lit(0L)).withColumn("n_cells", lit(0L))
        .withColumn("wkt", lit(null).cast("string"))
        .select("label", "n_cells", "wkt").limit(0)
    val bx0 = math.max(0L, bb.getLong(0) - 1)
    val bx1 = math.min(w - 1, bb.getLong(1) + 1)
    val by0 = math.max(0L, bb.getLong(2) - 1)
    val by1 = math.min(h - 1, bb.getLong(3) + 1)
    val bw = bx1 - bx0 + 1
    val bh = by1 - by0 + 1
    val lattice = spark.range(bw * bh)
      .select((col("id") % bw + bx0).as("gx"),
        (expr(s"id div $bw") + by0).as("gy"))
    val bgCells = lattice
      .join(fgCells.select("gx", "gy"), Seq("gx", "gy"), "left_anti")
      .withColumn("v", lit(1))
    val bgLab = ConnectedComponents.label(bgCells, bounds, tileSize, diag = false)
      .select("gx", "gy", "label").localCheckpoint()
    val edgeLabels = bgLab.filter(
      col("gx") === bx0 || col("gx") === bx1 ||
        col("gy") === by0 || col("gy") === by1)
      .select("label").distinct()
    val holeCells = bgLab.join(edgeLabels, Seq("label"), "left_anti")
    val holeFirst = holeCells.groupBy("label")
      .agg(min(col("gy") * w + col("gx")).as("cid"))
    // hole rank (the reference's -1, -2, .. in scan order) + owner =
    // foreground label directly above the hole's first pixel
    val holeRank = rankByCid(holeFirst)
      .select(col("label").as("hlbl"), col("rank").as("hrank"), col("cid"))
    val holeOwner = holeRank
      .join(fgLab, fgLab("gx") === holeRank("cid") % w &&
        fgLab("gy") === expr(s"cid div $w") - 1)
      .join(fgRef.select("label", "ref"), Seq("label"))
      .select(col("hlbl"), col("hrank"), col("ref"))

    // one tagged cell table: ring 0 = object pixels, ring k = hole k
    val fgTagged = fgLab.join(fgRef.select("label", "ref"), Seq("label"))
      .select(col("ref"), lit(0L).as("ring"), col("gx"), col("gy"))
    val holeTagged = holeCells
      .join(holeOwner, holeCells("label") === holeOwner("hlbl"))
      .select(col("ref"), col("hrank").as("ring"), col("gx"), col("gy"))
    val tagged = fgTagged.unionByName(holeTagged)

    val sizes = tagged.groupBy("ref").agg(count(lit(1)).as("n_total"))
    val refused = sizes.filter(col("n_total") > maxCells)
      .join(fgRef.select(col("ref"), col("n_fg")), Seq("ref"))
      .select(col("ref").as("label"), col("n_fg").as("n_cells"),
        lit(null).cast("string").as("wkt"))
    val traced = tagged
      .join(sizes.filter(col("n_total") <= maxCells).select("ref"),
        Seq("ref"), "left_semi")
      .select("ref", "ring", "gx", "gy")
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (ref, it) =>
        val byRing = scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuilder.ofLong]()
        it.foreach { case (_, ring, gx, gy) =>
          byRing.getOrElseUpdate(ring, new scala.collection.mutable.ArrayBuilder.ofLong) +=
            ((gx << 32) | gy)
        }
        def cellsOf(ring: Long): PackedCells =
          PackedCells.fromPacked(byRing(ring).result())
        val own = cellsOf(0L)
        val outer = walk(own, fg = true)
        // inner rings in the reference's attachment order: ascending
        // negative label = DESCENDING hole rank (geo_polygon.h:236-239)
        val inners = byRing.keys.filter(_ > 0L).toSeq.sorted.reverse
          .map(k => walk(cellsOf(k), fg = false))
        render(outer, inners).map(w => (ref, own.size.toLong, w)).iterator
      }
      .toDF("label", "n_cells", "wkt")
    traced.unionByName(refused)
  }

  /** Dense single-task strategy: the reference's full label-image +
    * traceBoundaries chain over the whole (gate-bounded) raster in one
    * executor task — two-pass CCL with DisjointSet merge-to-smaller and
    * ascending-root renumbering (`Image.h:255-326`,
    * `disjoint_set.h:59-121`: fg 8-connected labels 1.., bg 4-connected,
    * edge-connected bg 0, holes -1, -2, .. in first-pixel scan order),
    * hole attachment to the label above the hole's first pixel in
    * ascending-negative-label order (`geo_polygon.h:219-243`), radial
    * sweep per ring, the same `maxCells` refusal, and the caller's
    * `render`. Labels equal the distributed path's scan-order ranks by
    * the same argument that path documents (flatten's ascending-root
    * order IS ascending first-pixel order IS ascending min cell id). */
  private def outlinesDense(mask: DataFrame, w: Int, h: Int, maxCells: Long,
                            render: (Vector[Pt], Seq[Vector[Pt]]) => Option[String])
  : DataFrame = {
    val spark = mask.sparkSession
    import spark.implicits._
    mask.select(col("gx").cast("long"), col("gy").cast("long"))
      .as[(Long, Long)]
      .repartition(1).mapPartitions { it =>
        val img = Array.ofDim[Boolean](h, w)
        var any = false
        it.foreach { case (x, y) => img(y.toInt)(x.toInt) = true; any = true }
        if (!any) Iterator.empty
        else denseTrace(img, w, h, maxCells, render).iterator
      }
      .toDF("label", "n_cells", "wkt")
  }

  /** Union-find with merge-to-smaller-root and ascending-root
    * renumbering — the reference's DisjointSet semantics. */
  private final class RefDs {
    private val p = scala.collection.mutable.ArrayBuffer[Int]()
    def add(): Int = { p += p.length; p.length - 1 }
    def find(i: Int): Int = {
      var r = i
      while (p(r) != r) r = p(r)
      var c = i
      while (p(c) != r) { val n = p(c); p(c) = r; c = n }
      r
    }
    def merge(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra < rb) p(rb) = ra else if (rb < ra) p(ra) = rb
    }
    def flatten(minLabel: Int): Array[Int] = {
      var next = minLabel
      val out = new Array[Int](p.length)
      for (i <- p.indices) {
        val j = find(i)
        out(i) = if (j == i) { val v = next; next += 1; v } else out(j)
      }
      out
    }
  }

  /** The single-threaded chain behind [[outlinesDense]]; exposed for the
    * spec's direct dense-vs-distributed equality cases. */
  private[vector] def denseTrace(img: Array[Array[Boolean]], w: Int, h: Int,
                                 maxCells: Long,
                                 render: (Vector[Pt], Seq[Vector[Pt]]) => Option[String])
  : Seq[(Long, Long, String)] = {
    // ---- two-pass CCL, reference numbering ----
    val fg = new RefDs
    val bg = new RefDs
    bg.add() // exterior background label 0
    val lab = Array.ofDim[Int](h, w)
    var j = 0
    while (j < h) {
      var i = 0
      while (i < w) {
        val ngbrs = scala.collection.mutable.SortedSet[Int]()
        if (img(j)(i)) {
          if (j > 0) {
            if (i > 0 && img(j - 1)(i - 1)) ngbrs += lab(j - 1)(i - 1)
            if (img(j - 1)(i)) ngbrs += lab(j - 1)(i)
            if (i < w - 1 && img(j - 1)(i + 1)) ngbrs += lab(j - 1)(i + 1)
          }
          if (i > 0 && img(j)(i - 1)) ngbrs += lab(j)(i - 1)
          if (ngbrs.isEmpty) lab(j)(i) = fg.add()
          else {
            val l = ngbrs.head
            lab(j)(i) = l
            ngbrs.foreach(fg.merge(_, l))
          }
        } else {
          if (j == 0 || j == h - 1 || i == 0 || i == w - 1) ngbrs += 0
          if (j > 0 && !img(j - 1)(i)) ngbrs += lab(j - 1)(i)
          if (i > 0 && !img(j)(i - 1)) ngbrs += lab(j)(i - 1)
          if (ngbrs.isEmpty) lab(j)(i) = bg.add()
          else {
            val l = ngbrs.head
            lab(j)(i) = l
            ngbrs.foreach(bg.merge(_, l))
          }
        }
        i += 1
      }
      j += 1
    }
    val fgF = fg.flatten(1)
    val bgF = bg.flatten(0)
    j = 0
    while (j < h) {
      var i = 0
      while (i < w) {
        lab(j)(i) = if (img(j)(i)) fgF(lab(j)(i)) else -bgF(lab(j)(i))
        i += 1
      }
      j += 1
    }

    // ---- sizes, first pixels, hole owners (one scan) ----
    val size = new scala.collection.mutable.LongMap[Long]()
    val firstR = new scala.collection.mutable.LongMap[Int]()
    val firstC = new scala.collection.mutable.LongMap[Int]()
    val holeOwner = new scala.collection.mutable.LongMap[Long]()
    j = 0
    while (j < h) {
      var i = 0
      while (i < w) {
        val v = lab(j)(i).toLong
        if (v != 0L) {
          size.update(v, size.getOrElse(v, 0L) + 1L)
          if (!firstR.contains(v)) {
            firstR.update(v, j); firstC.update(v, i)
            // the pixel above a hole's first pixel is its owning object
            if (v < 0L) holeOwner.update(v, lab(j - 1)(i).toLong)
          }
        }
        i += 1
      }
      j += 1
    }
    val holesOf = holeOwner.toSeq.groupBy(_._2)
      .map { case (o, hs) => o -> hs.map(_._1).sorted } // ascending = most negative first

    // ---- radial-sweep walk over the label image ----
    def walkImg(r0: Int, c0: Int): Vector[Pt] = {
      val v = lab(r0)(c0)
      val stride = if (v > 0) 1 else 2
      var m = r0
      var n = c0
      var firstDir = -1
      var lastDir = 0
      val ring = scala.collection.mutable.ArrayBuffer[Pt]()
      val maxSteps = 8L * (size(v.toLong) + 2)
      while (true) {
        ring += ((n.toLong, m.toLong))
        if (ring.length > maxSteps)
          throw new IllegalStateException(
            s"boundary walk did not close after $maxSteps steps")
        val finDir = (lastDir + 4) % 8
        var newDir = (lastDir + 6) % 8
        var found = false
        while (!found && newDir != finDir) {
          val p = m + dj(newDir)
          val q = n + di(newDir)
          if (p >= 0 && p < h && q >= 0 && q < w && lab(p)(q) == v) found = true
          else newDir = (newDir + stride) % 8
        }
        if (newDir == finDir && ring.length == 1) return ring.toVector
        else if (m == r0 && n == c0 && newDir == firstDir) {
          ring.remove(ring.length - 1)
          return ring.toVector
        } else if (firstDir < 0) firstDir = newDir
        m += dj(newDir)
        n += di(newDir)
        lastDir = newDir
      }
      sys.error("unreachable")
    }

    // ---- per object: refusal, trace, render (ascending label order) ----
    val out = Seq.newBuilder[(Long, Long, String)]
    size.keys.filter(_ > 0L).toSeq.sorted.foreach { v =>
      val holes = holesOf.getOrElse(v, Seq.empty)
      val nTotal = size(v) + holes.map(size).sum
      if (nTotal > maxCells) out += ((v, size(v), null))
      else {
        val outer = walkImg(firstR(v), firstC(v))
        val inners = holes.map(hv => walkImg(firstR(hv), firstC(hv)))
        render(outer, inners).foreach(wkt => out += ((v, size(v), wkt)))
      }
    }
    out.result()
  }
}
