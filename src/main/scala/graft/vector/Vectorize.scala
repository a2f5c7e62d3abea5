package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Raster -> vector outlines (SURVEY.md §2.9; reference: boundary trace +
 * hole assignment + buildingSimplify, pubgeo
 * `src/common/geo_polygon.h:152-777`).
 *
 * This engine traces the edges of the union of unit cells (marching-
 * squares style) instead of the reference's Moore pixel walk: rings are
 * exactly closed, single-cell components and holes fall out uniformly,
 * and diagonal-only connections (8-connected components whose squares
 * touch at a point) become MULTIPOLYGON shells. Shells are CCW, holes
 * CW; every ring is then simplified: collinear-run merge always,
 * optional Visvalingam-Whyatt with a minimum triangle area (V3's
 * vwReduce, `geo_polygon.h:718-777`).
 *
 * Distribution: one row per (label, cell) -> groupByKey(label) ->
 * per-component pure-Scala trace in mapGroups. Per-group memory is
 * bounded by construction: component sizes are pre-aggregated and any
 * label above `maxCells` is REFUSED (emitted with its size and a null
 * wkt) instead of being materialized in one task — callers that need
 * bounded components chunk them upstream via ConnectedComponents'
 * maxCount cap (the reference's own region-cap semantics,
 * `shr3d.cpp:913`).
 */
object Vectorize {

  type Pt = (Long, Long)

  /** Immutable component cell set backed by a SORTED primitive array of
    * packed `(x << 32) | y` coords: the per-component gather holds 8
    * bytes per cell instead of a boxed tuple in a hash set (~48+ B), so
    * a [[DefaultMaxCells]]-sized component costs ~32 MB transient heap,
    * not several hundred. Membership is a binary search — O(log n) but
    * branch-free over a contiguous array, which beats boxed hashing at
    * trace sizes. Coordinates are signed 32-bit values (`y` is packed as
    * its low 32 bits, so non-negative cells pack to `(x << 32) | y`). */
  final class PackedCells private (private val arr: Array[Long]) {
    def size: Int = arr.length
    def contains(x: Long, y: Long): Boolean =
      java.util.Arrays.binarySearch(arr, PackedCells.pack(x, y)) >= 0
    def foreach(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < arr.length) { f(arr(i) >> 32, arr(i).toInt.toLong); i += 1 }
    }
  }

  object PackedCells {
    @inline def pack(x: Long, y: Long): Long = (x << 32) | (y & 0xFFFFFFFFL)
    def fromIterator(it: Iterator[Pt]): PackedCells = {
      val b = Array.newBuilder[Long]
      it.foreach { case (x, y) => b += pack(x, y) }
      fromPacked(b.result())
    }
    /** Takes ownership of `a` (coords packed by [[pack]]).
      * Deduplicates after sorting — duplicate input cells would
      * double-insert boundary edges and over-count n_cells (the Set
      * gather this replaced deduped implicitly). */
    def fromPacked(a: Array[Long]): PackedCells = {
      java.util.Arrays.sort(a)
      var n = 0
      var i = 0
      while (i < a.length) {
        if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
        i += 1
      }
      new PackedCells(if (n == a.length) a else java.util.Arrays.copyOf(a, n))
    }
    def apply(cells: Set[Pt]): PackedCells = fromIterator(cells.iterator)
  }

  /** Specs and small callers keep passing plain Sets. */
  import scala.language.implicitConversions
  implicit def setToPackedCells(cells: Set[Pt]): PackedCells = PackedCells(cells)

  /** Directed boundary edges with interior on the left. */
  private def boundaryEdges(cells: PackedCells): Map[Pt, List[Pt]] = {
    val out = scala.collection.mutable.Map[Pt, List[Pt]]().withDefaultValue(Nil)
    def add(a: Pt, b: Pt): Unit = out(a) = b :: out(a)
    cells.foreach { (x, y) =>
      if (!cells.contains(x, y - 1)) add((x, y), (x + 1, y))         // bottom, +x
      if (!cells.contains(x + 1, y)) add((x + 1, y), (x + 1, y + 1)) // right, +y
      if (!cells.contains(x, y + 1)) add((x + 1, y + 1), (x, y + 1)) // top, -x
      if (!cells.contains(x - 1, y)) add((x, y + 1), (x, y))         // left, -y
    }
    out.toMap
  }

  /** Link directed edges into closed rings. At 2-fan vertices
    * (checkerboard touch) prefer the left turn — keeps rings simple and
    * deterministic. */
  def rings(cells: PackedCells): Seq[Vector[Pt]] = {
    val edges = scala.collection.mutable.Map[Pt, List[Pt]]() ++ boundaryEdges(cells)
    val out = scala.collection.mutable.ArrayBuffer[Vector[Pt]]()
    while (edges.nonEmpty) {
      val start = edges.keys.minBy(p => (p._2, p._1))
      var cur = start
      var prev: Pt = null
      val ring = scala.collection.mutable.ArrayBuffer[Pt](start)
      var done = false
      while (!done) {
        val nexts = edges(cur)
        val next = if (nexts.size == 1 || prev == null) nexts.minBy(p => (p._2, p._1))
        else {
          // left turn preference relative to incoming direction
          val din = (cur._1 - prev._1, cur._2 - prev._2)
          nexts.maxBy { n =>
            val dout = (n._1 - cur._1, n._2 - cur._2)
            din._1 * dout._2 - din._2 * dout._1 // cross: left turn = +
          }
        }
        val rest = nexts.filterNot(_ == next)
        if (rest.isEmpty) edges.remove(cur) else edges(cur) = rest
        prev = cur
        cur = next
        if (cur == start) done = true else ring += cur
      }
      out ++= splitAtPinches(ring.toVector)
    }
    out.toSeq
  }

  /** A traced ring may pass through the same vertex twice (pinch at a
    * checkerboard configuration that is elsewhere-connected). Split such
    * rings into simple rings at the repeated vertex — the OGC-valid
    * representation (polygons touching at finitely many points). */
  private def splitAtPinches(ring: Vector[Pt]): Seq[Vector[Pt]] = {
    val firstIdx = scala.collection.mutable.Map[Pt, Int]()
    var i = 0
    while (i < ring.length) {
      firstIdx.get(ring(i)) match {
        case Some(j) =>
          val inner = ring.slice(j, i)
          val outer = ring.take(j) ++ ring.drop(i)
          return splitAtPinches(inner) ++ splitAtPinches(outer)
        case None =>
          firstIdx(ring(i)) = i
      }
      i += 1
    }
    Seq(ring)
  }

  /** Merge collinear runs (axis-aligned rings: drop middle points). */
  def mergeCollinear(ring: Vector[Double2]): Vector[Double2] = {
    if (ring.length < 3) return ring
    val n = ring.length
    (0 until n).collect {
      case i if {
        val p = ring((i - 1 + n) % n); val c = ring(i); val q = ring((i + 1) % n)
        val cross = (c._1 - p._1) * (q._2 - p._2) - (c._2 - p._2) * (q._1 - p._1)
        cross != 0.0
      } => ring(i)
    }.toVector
  }

  type Double2 = (Double, Double)

  /** Visvalingam-Whyatt: repeatedly drop the vertex forming the smallest
    * triangle while that area is below minArea (ring stays >= 4 pts).
    * Deterministic tie-break: smallest index. */
  def vwReduce(ring0: Vector[Double2], minArea: Double): Vector[Double2] = {
    var ring = ring0
    var changed = true
    while (changed && ring.length > 4) {
      changed = false
      val n = ring.length
      var bestI = -1
      var bestA = Double.MaxValue
      for (i <- 0 until n) {
        val p = ring((i - 1 + n) % n); val c = ring(i); val q = ring((i + 1) % n)
        val a = math.abs((c._1 - p._1) * (q._2 - p._2)
          - (c._2 - p._2) * (q._1 - p._1)) / 2.0
        if (a < bestA) { bestA = a; bestI = i }
      }
      if (bestA < minArea) {
        ring = ring.patch(bestI, Nil, 1)
        changed = true
      }
    }
    ring
  }

  /** V3 findCorners (pubgeo `geo_polygon.h:508-553`): a vertex is a
    * corner when its turn metric (pi - theta) * d1 * d2 reaches
    * pi * scale^2 / 8 (theta = interior angle via clamped acos, d1/d2 =
    * adjacent segment lengths); non-max suppression keeps only the
    * strongest corner within 5/6*scale of ring distance. Returns the
    * corner-only ring, or the input when fewer than 4 corners survive. */
  def cornerSimplify(ring: Vector[Double2], scale: Double): Vector[Double2] = {
    val n = ring.length
    if (n < 5) return ring
    def seg(a: Double2, b: Double2) = math.hypot(b._1 - a._1, b._2 - a._2)
    val metric = Array.tabulate(n) { i =>
      val p = ring((i - 1 + n) % n); val c = ring(i); val q = ring((i + 1) % n)
      val d1 = seg(p, c); val d2 = seg(c, q)
      if (d1 == 0 || d2 == 0) 0.0
      else {
        val dot = ((p._1 - c._1) * (q._1 - c._1) + (p._2 - c._2) * (q._2 - c._2)) / (d1 * d2)
        val theta = math.acos(math.max(-1.0, math.min(1.0, dot)))
        (math.Pi - theta) * d1 * d2
      }
    }
    val threshold = math.Pi * scale * scale / 8.0
    val isCorner = Array.tabulate(n)(i => metric(i) >= threshold)
    // non-max suppression along ring distance
    val window = 5.0 * scale / 6.0
    for (i <- 0 until n if isCorner(i)) {
      var dist = 0.0
      var j = (i + 1) % n
      while (dist < window && j != i) {
        dist += seg(ring((j - 1 + n) % n), ring(j))
        if (dist < window && isCorner(j)) {
          if (metric(j) > metric(i) || (metric(j) == metric(i) && j > i))
            isCorner(i) = false
          else isCorner(j) = false
        }
        j = (j + 1) % n
      }
    }
    val corners = (0 until n).filter(isCorner).map(ring).toVector
    if (corners.length >= 4) corners else ring
  }

  // ---- V3 buildingSimplify (pubgeo `geo_polygon.h:333-777`) ----------
  //
  // The full reference pipeline over a DENSE boundary ring (consecutive
  // vertices ~1 px apart, as produced by `rings` BEFORE collinear
  // merging): findCorners -> addMissingPoints -> improvePoints
  // (weighted-least-squares corner refit + >=60-degree insertion) ->
  // vwReduce. Index arithmetic is modular over the ring.

  private def nextI(i: Int, n: Int) = (i + 1) % n
  private def prevI(i: Int, n: Int) = (i + n - 1) % n
  private def incrI(i: Int, d: Int, n: Int) = (i + d) % n
  private def decrI(i: Int, d0: Int, n: Int) = {
    val d = d0 % n; if (d > i) i + n - d else i - d
  }
  private def distP(a: Double2, b: Double2) = math.hypot(b._1 - a._1, b._2 - a._2)

  /** Angle at B between rays B->A and B->C, clamped (geo_polygon.h:479). */
  def angleP(a: Double2, b: Double2, c: Double2): Double = {
    val (abx, aby) = (b._1 - a._1, b._2 - a._2)
    val (cbx, cby) = (b._1 - c._1, b._2 - c._2)
    val xp = (abx * cbx + aby * cby) / (math.hypot(abx, aby) * math.hypot(cbx, cby))
    if (xp > 1) 0.0 else if (xp < -1) math.Pi else math.acos(xp)
  }

  private def areaIdx(ring: Vector[Double2], a: Int, b: Int, c: Int): Double = {
    val (ax, ay) = ring(a); val (bx, by) = ring(b); val (cx, cy) = ring(c)
    0.5 * math.abs((ax - cx) * (by - ay) - (ax - bx) * (cy - ay))
  }

  /** findCorners (geo_polygon.h:508-553): corner metric
    * (pi - angle(i-scale, i, i+scale)) * d1 * d2 thresholded at
    * pi*scale^2/8, then non-max suppression over +-5/6*scale ring
    * indices. Ties in the decreasing-metric visit order are broken by
    * smaller index (the C++ list sort is stable on insertion order —
    * same outcome for distinct metrics, deterministic here always). */
  def findCorners(ring: Vector[Double2], scale: Int): List[Int] = {
    val n = ring.length
    if (n == 0) return Nil
    val areas = Array.tabulate(n) { j =>
      val i = decrI(j, scale, n); val k = incrI(j, scale, n)
      (math.Pi - angleP(ring(i), ring(j), ring(k))) *
        distP(ring(i), ring(j)) * distP(ring(j), ring(k))
    }
    val minArea = scale.toDouble * scale / 8.0 * math.Pi
    val minPkDist = scale * 5 / 6
    val suppressed = Array.fill(n)(false)
    val peaks = (0 until n).filter(areas(_) >= minArea)
      .sortBy(j => (-areas(j), j))
    val kept = scala.collection.mutable.ArrayBuffer[Int]()
    for (i <- peaks) {
      if (areas(i) >= areas(nextI(i, n)) && areas(i) >= areas(prevI(i, n)) &&
        !suppressed(i)) {
        kept += i
        var j = i; var k = i
        for (_ <- 0 until minPkDist) {
          j = nextI(j, n); k = prevI(k, n)
          suppressed(j) = true; suppressed(k) = true
        }
      }
    }
    kept.sorted.toList
  }

  /** addMissingPoints (geo_polygon.h:555-602): between consecutive
    * corners, insert the boundary point farthest from the chord while
    * that distance reaches minDistance. */
  def addMissingPoints(ring: Vector[Double2], corners: List[Int],
                       minDistance: Double): List[Int] = {
    val n = ring.length
    val pts = scala.collection.mutable.ListBuffer[Int](corners: _*)
    if (pts.isEmpty) return Nil
    val start = pts.head
    var cur = 0
    var firstPoint = true
    while (firstPoint || pts(cur) != start) {
      val nxt = (cur + 1) % pts.length
      val i = pts(cur); val k = pts(nxt)
      val l = distP(ring(i), ring(k))
      var maxD = 0.0; var maxIx = 0
      var j = nextI(i, n)
      while (j != k) {
        val d = 2 * areaIdx(ring, i, j, k) / l
        if (d > maxD) { maxD = d; maxIx = j }
        j = nextI(j, n)
      }
      if (maxD >= minDistance) {
        pts.insert(nxt, maxIx)
      } else {
        cur = nxt
        if (firstPoint) firstPoint = false
      }
    }
    pts.toList
  }

  /** calcBestFitLine (geo_polygon.h:742-779): weighted least squares of
    * the boundary points from i to k (weights ramp linearly up to
    * `scale` from both ends); returns (direction, point). */
  def bestFitLine(ring: Vector[Double2], i: Int, k: Int, scale: Int)
  : (Double2, Double2) = {
    val n = ring.length
    val wts = new java.util.HashMap[Integer, java.lang.Double]()
    val c = 1.0 / scale
    var w = 0
    var j = i
    var done = false
    while (!done) {
      w += 1
      wts.put(j, math.min(w, scale) * c)
      if (j == k) done = true else j = nextI(j, n)
    }
    w = 0; j = k; done = false
    while (!done) {
      w += 1
      wts.put(j, wts.get(j) * (math.min(w, scale) * c))
      if (j == i) done = true else j = prevI(j, n)
    }
    val dir = new Array[Double](2)
    val pt = new Array[Double](2)
    for (d <- 0 until 2) {
      var t = 0.0; var sw = 0.0; var swt = 0.0; var swz = 0.0
      var swtt = 0.0; var swtz = 0.0
      var jj = i; var more = true
      while (more) {
        val wt = wts.get(jj).doubleValue()
        val z = if (d == 0) ring(jj)._1 else ring(jj)._2
        sw += wt; swt += wt * t; swz += wt * z
        swtt += wt * t * t; swtz += wt * t * z
        t += 1
        if (jj == k) more = false else jj = nextI(jj, n)
      }
      dir(d) = (sw * swtz - swt * swz) / (swtt * sw - swt * swt)
      pt(d) = (swz - dir(d) * swt) / sw
    }
    ((dir(0), dir(1)), (pt(0), pt(1)))
  }

  /** calcNewPoint (geo_polygon.h:714-730): intersection of the two
    * weighted best-fit lines at corner j (average of closest points
    * when near-parallel). */
  def calcNewPoint(ring: Vector[Double2], i: Int, j: Int, k: Int,
                   scale: Int): Double2 = {
    val (abD, abP) = bestFitLine(ring, i, j, scale)
    val (bcD, bcP) = bestFitLine(ring, j, k, scale)
    val dot = abD._1 * bcD._1 + abD._2 * bcD._2
    if (dot > 1 - 1e-6) {
      def closest(d: Double2, p: Double2): Double2 = {
        val t = (ring(j)._1 - p._1) * d._1 + (ring(j)._2 - p._2) * d._2
        (p._1 + t * d._1, p._2 + t * d._2)
      }
      val a = closest(abD, abP); val b = closest(bcD, bcP)
      ((a._1 + b._1) / 2, (a._2 + b._2) / 2)
    } else {
      val t = ((bcP._1 - abP._1) * bcD._2 - (bcP._2 - abP._2) * bcD._1) /
        (abD._1 * bcD._2 - abD._2 * bcD._1)
      (t * abD._1 + abP._1, t * abD._2 + abP._2)
    }
  }

  /** improvePoints (geo_polygon.h:610-709): refit every corner to the
    * best-fit line intersection; where the refit angle drops below 60
    * degrees, insert the max-area boundary point (or slide a co-linear
    * corner onto it) and re-verify. */
  def improvePoints(ring: Vector[Double2], corners0: List[Int],
                    scale: Int): List[Double2] = {
    val n = ring.length
    val eps = 1e-6
    val pts = scala.collection.mutable.ArrayBuffer[Int](corners0: _*)
    val verified = Array.fill(n)(false)
    val pt1s = scala.collection.mutable.Map[Int, Double2]()
    def nxtIdx(p: Int) = (p + 1) % pts.length
    def prvIdx(p: Int) = (p + pts.length - 1) % pts.length
    def voidPoint(i: Int): Unit = { pt1s.remove(i); verified(i) = false }
    // Inserts between positions pi and pk (pk = pi's successor). Returns
    // 0 = no change, 1 = a corner slid in place, 2 = inserted at pk.
    def insertBetween(pi: Int, pk: Int): Int = {
      val vi = pts(pi); val vk = pts(pk)
      var maxA = 0.0; var maxIx = 0
      var j = nextI(vi, n)
      while (j != vk) {
        val a = areaIdx(ring, vi, j, vk)
        if (a > maxA) { maxA = a; maxIx = j }
        j = nextI(j, n)
      }
      if (maxA > eps) {
        voidPoint(vi); voidPoint(vk)
        if (math.Pi - angleP(ring(pts(prvIdx(pi))), ring(vi), ring(maxIx)) < eps) {
          pts(pi) = maxIx; 1
        } else if (math.Pi - angleP(ring(maxIx), ring(vk), ring(pts(nxtIdx(pk)))) < eps) {
          pts(pk) = maxIx; 1
        } else { pts.insert(pk, maxIx); 2 }
      } else 0
    }
    var cur = 0
    while (!verified(pts(cur))) {
      var prv = prvIdx(cur); val nxt = nxtIdx(cur)
      val vPrv = pts(prv); val vCur = pts(cur); val vNxt = pts(nxt)
      if (!pt1s.contains(vPrv))
        pt1s(vPrv) = calcNewPoint(ring, pts(prvIdx(prv)), vPrv, vCur, scale)
      if (!pt1s.contains(vCur))
        pt1s(vCur) = calcNewPoint(ring, vPrv, vCur, vNxt, scale)
      if (!pt1s.contains(vNxt))
        pt1s(vNxt) = calcNewPoint(ring, vCur, vNxt, pts(nxtIdx(nxt)), scale)
      var changed = false
      if (angleP(pt1s(vPrv), pt1s(vCur), pt1s(vNxt)) < math.Pi / 3) {
        if ((n + vCur - vPrv) % n > 1) {
          val insPos = cur
          val r = insertBetween(prv, cur)
          if (r == 2) { // inserted before cur; track both node positions
            cur += 1
            if (insPos <= prv) prv += 1 // wrap-around insert at index 0
          }
          changed |= r > 0
        }
        val nxt2 = nxtIdx(cur)
        if ((n + pts(nxt2) - pts(cur)) % n > 1)
          changed |= insertBetween(cur, nxt2) > 0
      }
      if (!changed) {
        verified(pts(cur)) = true
        cur = nxtIdx(cur)
      } else if (!verified(pts(prv))) {
        // the C++ backs up to the (possibly slid) previous node; after a
        // type-2 insert that node sits one further back — prv tracks it
        cur = prv
      }
    }
    // totality guard: the C++ copies pt1s[i] (default-constructing a
    // (0,0) for an index voided late); recompute instead of emitting junk
    val out = pts.toList
    out.zipWithIndex.map { case (i, p) =>
      pt1s.getOrElse(i, calcNewPoint(ring,
        out((p + out.length - 1) % out.length), i,
        out((p + 1) % out.length), scale))
    }
  }

  /** buildingSimplify (geo_polygon.h:333-372): the full V3 pipeline over
    * a dense boundary ring. Returns Vector.empty when fewer than 3
    * corners are found (the reference drops such outlines). */
  def buildingSimplify(ring: Vector[Double2], scale: Int = 36): Vector[Double2] = {
    val corners = findCorners(ring, scale)
    if (corners.size < 3) return Vector.empty
    val withMissing = addMissingPoints(ring, corners, 0.5 * scale)
    val improved = improvePoints(ring, withMissing, math.max(1, scale / 3))
    vwReduce(improved.toVector, scale * 0.25)
  }

  /** Point-in-ring ray cast (exact for half-integer probes against
    * integer/rational ring vertices). */
  private def insideRing(pt: Double2, ring: Vector[Double2]): Boolean = {
    var c = false
    val n = ring.length
    var i = 0; var j = n - 1
    while (i < n) {
      val (xi, yi) = ring(i); val (xj, yj) = ring(j)
      if (((yi > pt._2) != (yj > pt._2)) &&
        (pt._1 < (xj - xi) * (pt._2 - yi) / (yj - yi) + xi)) c = !c
      j = i; i += 1
    }
    c
  }

  /** Shared WKT coordinate formatter: integer-valued doubles collapse
    * to integer literals. The SINGLE source of truth — RefTrace and
    * both serializers here use it, so formatting stays bit-identical
    * across every polygon product. */
  def fmtCoord(d: Double): String =
    if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Closed-ring WKT fragment `(x1 y1, ..., x1 y1)` via [[fmtCoord]]. */
  def ringWkt(r: Vector[Double2]): String =
    (r :+ r.head).map(p => s"${fmtCoord(p._1)} ${fmtCoord(p._2)}")
      .mkString("(", ", ", ")")

  /** Component cells -> the reference's simplified building outline
    * (buildingSimplify over every ring; shells with < 3 corners are
    * dropped, like the reference's empty-ring outlines). Hole
    * assignment happens on the RAW lattice rings (exact probes), then
    * each ring is simplified. Returns None when no shell survives. */
  def toWktBuilding(cells: PackedCells, scale: Int = 36): Option[String] = {
    val rs = rings(cells).map(r => r.map(p => (p._1.toDouble, p._2.toDouble)))
    val (shells, holes) = rs.partition(r => signedAreaD(r) > 0)
    val shellsBySize = shells.zipWithIndex.sortBy { case (s, _) => math.abs(signedAreaD(s)) }
    val holeOf = holes.map { h =>
      val a = h.head; val b = h(1)
      val mid = ((a._1 + b._1) / 2.0, (a._2 + b._2) / 2.0)
      val d = (b._1 - a._1, b._2 - a._2)
      val probe = (mid._1 + 0.5 * d._2, mid._2 - 0.5 * d._1)
      val shell = shellsBySize.find { case (s, _) => insideRing(probe, s) }
      shell.map(_._2).getOrElse(0) -> h
    }
    val polys = shells.zipWithIndex.flatMap { case (s, i) =>
      val simp = buildingSimplify(s, scale)
      if (simp.length < 3) None
      else {
        val hs = holeOf.filter(_._1 == i)
          .map(h => buildingSimplify(h._2, scale)).filter(_.length >= 3)
        Some((ringWkt(simp) +: hs.map(ringWkt)).mkString("(", ", ", ")"))
      }
    }
    if (polys.isEmpty) None else Some(s"MULTIPOLYGON (${polys.mkString(", ")})")
  }

  /** Component cells -> WKT MULTIPOLYGON (shells CCW + their holes).
    * `cornerScale` engages the buildingSimplify-style corner pass. */
  def toWkt(cells: PackedCells, minArea: Double = 0.0,
            cornerScale: Double = 0.0): String = {
    val rs = rings(cells).map(r => r.map(p => (p._1.toDouble, p._2.toDouble)))
      .map(mergeCollinear)
      .map(r => if (cornerScale > 0) cornerSimplify(r, cornerScale) else r)
      .map(r => if (minArea > 0) vwReduce(r, minArea) else r)
    val (shells, holes) = rs.partition(r => signedAreaD(r) > 0)
    def inside(pt: Double2, ring: Vector[Double2]): Boolean = {
      // ray cast
      var c = false
      val n = ring.length
      var i = 0; var j = n - 1
      while (i < n) {
        val (xi, yi) = ring(i); val (xj, yj) = ring(j)
        if (((yi > pt._2) != (yj > pt._2)) &&
          (pt._1 < (xj - xi) * (pt._2 - yi) / (yj - yi) + xi)) c = !c
        j = i; i += 1
      }
      c
    }
    // probe strictly inside the hole: the void-cell center right of the
    // hole ring's first edge (hole rings have the void region on their
    // right). Half-integer coords never graze ring vertices -> the ray
    // cast is exact. Smallest containing shell wins (nesting).
    val shellsBySize = shells.zipWithIndex.sortBy { case (s, _) => math.abs(signedAreaD(s)) }
    val holeOf = holes.map { h =>
      val a = h.head; val b = h(1)
      val mid = ((a._1 + b._1) / 2.0, (a._2 + b._2) / 2.0)
      val d = (b._1 - a._1, b._2 - a._2)
      val probe = (mid._1 + 0.5 * d._2, mid._2 - 0.5 * d._1)
      val shell = shellsBySize.find { case (s, _) => inside(probe, s) }
      shell.map(_._2).getOrElse(0) -> h
    }
    val polys = shells.zipWithIndex.map { case (s, i) =>
      val hs = holeOf.filter(_._1 == i).map(_._2)
      (ringWkt(s) +: hs.map(ringWkt)).mkString("(", ", ", ")")
    }
    s"MULTIPOLYGON (${polys.mkString(", ")})"
  }

  private def signedAreaD(ring: Vector[Double2]): Double = {
    var s = 0.0
    var i = 0
    while (i < ring.length) {
      val a = ring(i); val b = ring((i + 1) % ring.length)
      s += a._1 * b._2 - b._1 * a._2
      i += 1
    }
    s
  }

  /** Default per-component cell cap for [[outlines]] — the reference's
    * region cap 10000/gsd² at its finest documented gsd (0.05 m). */
  final val DefaultMaxCells = 4000000L

  /** Labeled cells (gx, gy, label) -> one WKT outline row per label.
    * Labels with more than `maxCells` cells are refused (null wkt, size
    * reported) rather than gathered into a single task. */
  def outlines(labeled: DataFrame, minArea: Double = 0.0,
               maxCells: Long = DefaultMaxCells): DataFrame = {
    val spark = labeled.sparkSession
    import spark.implicits._
    val cells = labeled.select(col("gx").cast("long"), col("gy").cast("long"),
      col("label").cast("long"))
    val sizes = cells.groupBy("label").agg(count(lit(1)).as("n_cells"))
    val refused = sizes.filter(col("n_cells") > maxCells)
      .select(col("label"), col("n_cells"),
        lit(null).cast("string").as("wkt"))
    val traced = cells
      .join(sizes.filter(col("n_cells") <= maxCells).select("label"),
        Seq("label"), "left_semi")
      .select("gx", "gy", "label") // using-join moves the key first
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .mapGroups { (label, it) =>
        val cs = PackedCells.fromIterator(it.map(c => (c._1, c._2)))
        (label, cs.size.toLong, toWkt(cs, minArea))
      }
      .toDF("label", "n_cells", "wkt")
    traced.unionByName(refused)
  }

  /** Labeled cells -> V3 buildingSimplify outlines (one row per label
    * whose simplification keeps at least one shell — the reference
    * drops empty outlines, createOutlines `shr3d.cpp:510-529`). Same
    * gather and refusal bounds as [[outlines]]. */
  def outlinesSimplified(labeled: DataFrame, scale: Int = 36,
                         maxCells: Long = DefaultMaxCells): DataFrame = {
    val spark = labeled.sparkSession
    import spark.implicits._
    val cells = labeled.select(col("gx").cast("long"), col("gy").cast("long"),
      col("label").cast("long"))
    val sizes = cells.groupBy("label").agg(count(lit(1)).as("n_cells"))
    cells
      .join(sizes.filter(col("n_cells") <= maxCells).select("label"),
        Seq("label"), "left_semi")
      .select("gx", "gy", "label")
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroups { (label, it) =>
        val cs = PackedCells.fromIterator(it.map(c => (c._1, c._2)))
        toWktBuilding(cs, scale).map(w => (label, cs.size.toLong, w)).iterator
      }
      .toDF("label", "n_cells", "wkt")
  }
}
