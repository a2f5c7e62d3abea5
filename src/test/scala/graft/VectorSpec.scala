package graft

import graft.vector.Vectorize
import org.locationtech.jts.geom.GeometryFactory
import org.locationtech.jts.io.WKTReader
import org.scalatest.funsuite.AnyFunSuite

class VectorSpec extends AnyFunSuite {

  private val reader = new WKTReader(new GeometryFactory())
  private def geom(cells: Set[(Long, Long)], minArea: Double = 0.0) =
    reader.read(Vectorize.toWkt(cells, minArea))

  test("single cell -> unit square") {
    val g = geom(Set((3L, 4L)))
    assert(g.isValid && g.getArea == 1.0)
    assert(g.getNumGeometries == 1)
  }

  test("2x2 block") {
    val g = geom(Set((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L)))
    assert(g.isValid && g.getArea == 4.0)
    // collinear merge: square has 4 corners + closing point
    assert(g.getGeometryN(0).asInstanceOf[org.locationtech.jts.geom.Polygon]
      .getExteriorRing.getNumPoints == 5)
  }

  test("L-shape area and validity") {
    val cells = (for (x <- 0L to 3L) yield (x, 0L)).toSet ++
      (for (y <- 1L to 3L) yield (0L, y)).toSet
    val g = geom(cells)
    assert(g.isValid && g.getArea == cells.size.toDouble)
  }

  test("cells at negative coordinates trace like any other") {
    val g = geom(Set((0L, 0L), (0L, -1L), (-2L, 3L)))
    assert(g.isValid && g.getArea == 3.0 && g.getNumGeometries == 2)
  }

  test("donut -> polygon with one hole") {
    val cells = (for (x <- 0L to 4L; y <- 0L to 4L
                      if !(x >= 1 && x <= 3 && y >= 1 && y <= 3) || (x, y) == ((2L, 2L))
                      ) yield (x, y)).toSet -- Set((2L, 2L))
    // ring of width 1 around a 3x3 hole... build explicitly:
    val ring = (for (x <- 0L to 4L; y <- 0L to 4L
                     if x == 0 || x == 4 || y == 0 || y == 4) yield (x, y)).toSet
    val g = geom(ring)
    assert(g.isValid && g.getArea == ring.size.toDouble)
    val poly = g.getGeometryN(0).asInstanceOf[org.locationtech.jts.geom.Polygon]
    assert(poly.getNumInteriorRing == 1)
  }

  test("diagonal pair -> two shells") {
    val g = geom(Set((0L, 0L), (1L, 1L)))
    assert(g.getNumGeometries == 2)
    assert(g.getArea == 2.0)
  }

  test("checkerboard 3x3 traces without crossing") {
    val cells = (for (x <- 0L until 3L; y <- 0L until 3L
                      if (x + y) % 2 == 0) yield (x, y)).toSet
    val g = geom(cells)
    assert(g.getArea == cells.size.toDouble)
  }

  test("vw simplification shrinks staircase but keeps area approx") {
    // diagonal staircase of cells: exact area n, simplified ring smaller
    val cells = (for (i <- 0L until 12L; d <- 0L to 1L) yield (i + d, i)).toSet
    val full = geom(cells)
    val simp = geom(cells, minArea = 0.6)
    assert(full.getArea == cells.size.toDouble)
    assert(simp.getNumPoints < full.getNumPoints)
    assert(math.abs(simp.getArea - full.getArea) / full.getArea < 0.35)
  }

  test("corner simplify reduces a jagged rectangle to ~4 corners") {
    // a 20x12 rectangle with a one-cell sawtooth on the top edge
    val cells = (for {
      y <- 0L until 12L; x <- 0L until 20L
    } yield (x, y)).toSet ++ (for (x <- 0L until 20L if x % 2 == 0) yield (x, 12L)).toSet
    val plain = reader.read(Vectorize.toWkt(cells))
    val simplified = reader.read(Vectorize.toWkt(cells, cornerScale = 4.0))
    assert(plain.getNumPoints > simplified.getNumPoints)
    assert(simplified.getNumPoints <= 9, s"still ${simplified.getNumPoints} points")
    // area stays near the rectangle's
    assert(math.abs(simplified.getArea - plain.getArea) / plain.getArea < 0.15)
  }

  test("random blob: area == cell count, all cell centers covered") {
    val r = new scala.util.Random(11)
    var cells = Set((10L, 10L))
    (0 until 200).foreach { _ =>
      val c = cells.toSeq(r.nextInt(cells.size))
      cells += ((c._1 + r.nextInt(3) - 1, c._2 + r.nextInt(3) - 1))
    }
    val g = geom(cells)
    assert(g.isValid)
    assert(g.getArea == cells.size.toDouble)
    val gf = new GeometryFactory()
    cells.foreach { c =>
      val p = gf.createPoint(new org.locationtech.jts.geom.Coordinate(
        c._1 + 0.5, c._2 + 0.5))
      assert(g.covers(p), s"center of $c not covered")
    }
  }
}
