package graft.cc

import graft.cc.ScanlineFill.CellIn
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.DataFrame

/**
 * G5 object interior fill, reference-faithful variant (pubgeo
 * `src/shr3d/shr3d.cpp:626-788`, `fillObjectBounds` +
 * `findObjectBoundsInColumn`): per labeled object over the DENSE working
 * DTM,
 *
 *  - row pass: between the first and last object cell of each bbox row
 *    (or from/to the image edge when the object touches it), every cell
 *    STRICTLY higher than the row's outside ground level
 *    (MAX of the DTM just left of the first and just right of the last
 *    object cell) is marked IN_ONE;
 *  - column pass: same spans by column; a cell above the column ground
 *    level that is an object cell OR already IN_ONE becomes ACCEPTED;
 *  - dilation: ACCEPTED spreads TEMP to its (2*rad+1)^2 clamped
 *    neighborhood (rad = dhBins), and TEMP inside the bbox expanded by
 *    rad+1 becomes ACCEPTED (the reference's "erode" block, which is in
 *    fact a bounded dilation);
 *  - the object's void contribution = ACCEPTED ∪ remaining IN_ONE
 *    (everything the reference's finishLabelImage maps to 1).
 *
 * Documented re-spec vs the reference: objects are processed
 * INDEPENDENTLY and their void sets unioned, where the reference
 * processes them in scan order against one shared newLabelImage — its
 * only cross-object couplings (an earlier object's IN_ONE/OBJECT marks
 * visible to a later object's passes) are order-dependent and cannot be
 * reproduced by any partitioning-independent engine.
 *
 * Distribution: [[ScanlineFill]]'s gather ([[ScanlineFill.gather]])
 * with a margin of rad+1 — bbox(+rad+1) exploded to covering tile keys,
 * DTM cells equi-joined on tile, exact containment as a post-filter —
 * then one mapGroups per label. Upstream region caps
 * (ConnectedComponents maxCount) bound per-group memory.
 */
object FillObjectBounds {

  private final val InOne: Byte = 1
  private final val Accepted: Byte = 2
  private final val Temp: Byte = 3

  /** Returns the voided lattice cells (gx, gy) across all objects. */
  def apply(labeled: DataFrame /* gx, gy, label */,
            dtm: DataFrame /* gx, gy, v — dense */,
            bounds: Bounds, rad: Int): DataFrame = {
    val spark = labeled.sparkSession
    import spark.implicits._
    val w = bounds.w.toLong
    val h = bounds.h.toLong
    // gather margin: dilation writes up to bbox + rad + 1
    ScanlineFill.gather(labeled, dtm, rad + 1).groupByKey(_.label).flatMapGroups { (_, it) =>
      fillOne(it.toArray, w, h, rad)
    }.toDF("gx", "gy").distinct()
  }

  /** The per-object local pass (pure; exposed for direct spec testing). */
  def fillOne(cells: Array[CellIn], w: Long, h: Long,
              radL: Int): Iterator[(Long, Long)] = {
    {
      val vAt = new java.util.HashMap[Long, java.lang.Integer](cells.length * 2)
      val objAt = new java.util.HashSet[Long]()
      var xmin = Long.MaxValue; var xmax = Long.MinValue
      var ymin = Long.MaxValue; var ymax = Long.MinValue
      cells.foreach { c =>
        val k = (c.gx << 32) | c.gy
        vAt.put(k, c.v)
        if (c.isObj) {
          objAt.add(k)
          if (c.gx < xmin) xmin = c.gx
          if (c.gx > xmax) xmax = c.gx
          if (c.gy < ymin) ymin = c.gy
          if (c.gy > ymax) ymax = c.gy
        }
      }
      if (objAt.isEmpty) Iterator.empty
      else {
        @inline def key(x: Long, y: Long) = (x << 32) | y
        @inline def dv(x: Long, y: Long): Int = {
          val r = vAt.get(key(x, y)); if (r == null) 0 else r.intValue()
        }
        @inline def isObj(x: Long, y: Long) = objAt.contains(key(x, y))
        val state = new java.util.HashMap[Long, java.lang.Byte]()
        @inline def st(x: Long, y: Long): Byte = {
          val r = state.get(key(x, y)); if (r == null) 0 else r.byteValue()
        }

        val j1 = math.max(0L, ymin - 1); val j2 = math.min(ymax + 1, h - 1)
        val i1 = math.max(0L, xmin - 1); val i2 = math.min(xmax + 1, w - 1)

        // findObjectBoundsInColumn (shr3d.cpp:626-653)
        def colBounds(column: Long): Option[(Long, Long)] = {
          var lo = -1L
          var j = j1
          while (j <= j2 && lo < 0) { if (isObj(column, j)) lo = j; j += 1 }
          if (lo < 0) None
          else {
            var hi = j2
            while (hi >= lo && !isObj(column, hi)) hi -= 1
            Some((lo, hi))
          }
        }
        val ledge = if (xmin - 1 <= 0) colBounds(0) else None
        val redge = if (xmax + 1 >= w - 1) colBounds(w - 1) else None

        // row pass
        var j = j1
        while (j <= j2) {
          var start = -1L
          if (ledge.exists(b => j >= b._1 && j <= b._2)) start = 0
          else {
            var i = i1
            while (i <= i2 && start < 0) { if (isObj(i, j)) start = i; i += 1 }
          }
          if (start >= 0) {
            var stop = -1L
            if (redge.exists(b => j >= b._1 && j <= b._2)) stop = w - 1
            else {
              var i = i2
              while (i >= i1 && stop < 0) { if (isObj(i, j)) stop = i; i -= 1 }
            }
            if (!(start == 0 && stop == w - 1)) {
              val ground =
                if (start == 0) dv(stop + 1, j)
                else if (stop == w - 1) dv(start - 1, j)
                else math.max(dv(start - 1, j), dv(stop + 1, j))
              var i = start
              while (i <= stop) {
                if (dv(i, j) > ground && !isObj(i, j)) state.put(key(i, j), InOne)
                i += 1
              }
            }
          }
          j += 1
        }

        // column pass
        var i = i1
        while (i <= i2) {
          colBounds(i) match {
            case Some((start, stop)) if !(start == 0 && stop == h - 1) =>
              val ground =
                if (start == 0) dv(i, stop + 1)
                else if (stop == h - 1) dv(i, start - 1)
                else math.max(dv(i, start - 1), dv(i, stop + 1))
              var jj = start
              while (jj <= stop) {
                if (dv(i, jj) > ground && (isObj(i, jj) || st(i, jj) == InOne))
                  state.put(key(i, jj), Accepted)
                jj += 1
              }
            case _ =>
          }
          i += 1
        }

        // dilation of ACCEPTED by rad (TEMP), then TEMP -> ACCEPTED in the
        // expanded bbox (shr3d.cpp:749-779)
        j = j1
        while (j <= j2) {
          var i = i1
          while (i <= i2) {
            if (st(i, j) == Accepted) {
              var jj = math.max(0L, j - radL)
              val jmax = math.min(j + radL, h - 1)
              val imin = math.max(0L, i - radL)
              val imax = math.min(i + radL, w - 1)
              while (jj <= jmax) {
                var ii = imin
                while (ii <= imax) {
                  if (st(ii, jj) != Accepted) state.put(key(ii, jj), Temp)
                  ii += 1
                }
                jj += 1
              }
            }
            i += 1
          }
          j += 1
        }
        val ex1 = math.max(0L, xmin - radL - 1); val ex2 = math.min(xmax + radL + 1, w - 1)
        val ey1 = math.max(0L, ymin - radL - 1); val ey2 = math.min(ymax + radL + 1, h - 1)
        val out = Array.newBuilder[(Long, Long)]
        val sIt = state.entrySet().iterator()
        while (sIt.hasNext) {
          val e = sIt.next()
          val x = e.getKey >>> 32
          val y = e.getKey & 0xFFFFFFFFL
          val s = e.getValue.byteValue()
          val voided =
            s == Accepted || s == InOne ||
              (s == Temp && x >= ex1 && x <= ex2 && y >= ey1 && y <= ey2)
          if (voided) out += ((x, y))
        }
        out.result().iterator
      }
    }
  }
}
