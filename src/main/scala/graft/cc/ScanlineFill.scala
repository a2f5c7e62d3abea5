package graft.cc

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * G5 scanline object fill (pubgeo `src/shr3d/shr3d.cpp:626-788`,
 * fillObjectBounds + findObjectBoundsInColumn): per labeled object, scan
 * each bbox row and column between the first and last labeled cell; a
 * cell inside the span is accepted when the DSM says it stands higher
 * (by > dz) than the "ground level" just outside the span, and BOTH the
 * row and the column pass agree. Accepted cells join the object.
 *
 * Re-spec over the sparse grid (frozen, mirrored by the spec):
 *  - span ground level per row y = min of the DSM values at
 *    (xmin-1, y) and (xmax+1, y), whichever exist; rows with neither
 *    skip; columns symmetric;
 *  - void DSM cells inside the span are never accepted.
 *
 * Distribution: objects are bbox-bounded and small (G2 caps region
 * size), so each object's bbox block is gathered per label and scanned
 * locally in mapGroups (SURVEY.md §2.8 G5 locality). The gather,
 * [[gather]] with a margin of 1, is the one both G5 fills share: a
 * TILE equi-join, not a range theta-join — each bbox (+margin)
 * explodes to its covering tile keys and DSM cells join on their tile,
 * O(cells + bbox-covered cells), never O(cells x objects), with the
 * exact bbox containment as a post-filter on the equi-join output.
 */
object ScanlineFill {

  final case class CellIn(label: Long, gx: Long, gy: Long, v: Int, isObj: Boolean)
  final case class Filled(gx: Long, gy: Long, label: Long)

  /** Tile edge for the bbox-cover equi-join. */
  final val GatherTile = 64

  /** The G5 gather: per object of `labeled`, the `grid` cells of its
    * bbox grown by `margin` on every side, each flagged with whether it
    * is an object cell. Each bbox (+margin, clamped at 0 — grid coords
    * are non-negative) explodes to its covering [[GatherTile]] keys and
    * grid cells equi-join on their tile; the exact bbox containment is a
    * post-filter on the join output. */
  def gather(labeled: DataFrame /* gx, gy, label */, grid: DataFrame /* gx, gy, v */,
             margin: Int): Dataset[CellIn] = {
    val spark = labeled.sparkSession
    import spark.implicits._
    val t = GatherTile
    val m = margin
    val bboxTiles = labeled.groupBy("label")
      .agg(min("gx").as("xmin"), max("gx").as("xmax"),
        min("gy").as("ymin"), max("gy").as("ymax"))
      .withColumn("tx", explode(sequence(
        expr(s"greatest(0L, xmin - $m) div $t"), expr(s"(xmax + $m) div $t"))))
      .withColumn("ty", explode(sequence(
        expr(s"greatest(0L, ymin - $m) div $t"), expr(s"(ymax + $m) div $t"))))
    grid.withColumn("tx", expr(s"cast(gx as long) div $t"))
      .withColumn("ty", expr(s"cast(gy as long) div $t"))
      .join(bboxTiles, Seq("tx", "ty"))
      .filter(col("gx") >= col("xmin") - m && col("gx") <= col("xmax") + m &&
        col("gy") >= col("ymin") - m && col("gy") <= col("ymax") + m)
      .join(labeled.withColumn("isObj", lit(true)), Seq("gx", "gy", "label"), "left")
      .select(col("label"), col("gx"), col("gy"), col("v").cast("int"),
        coalesce(col("isObj"), lit(false)).as("isObj"))
      .as[CellIn]
  }

  def apply(labeled: DataFrame /* gx, gy, label */, dsm: DataFrame /* gx, gy, v */,
            dzRaw: Int): DataFrame = {
    val spark = labeled.sparkSession
    import spark.implicits._
    val filled = gather(labeled, dsm, 1).groupByKey(_.label).flatMapGroups { (label, it) =>
      val cells = it.toArray
      val byPos = cells.map(c => (c.gx, c.gy) -> c).toMap
      val obj = cells.filter(_.isObj)
      def pass(major: CellIn => Long, minor: CellIn => Long,
               at: (Long, Long) => Option[CellIn]): Set[(Long, Long)] = {
        obj.groupBy(major).iterator.flatMap { case (m, line) =>
          val lo = line.map(minor).min
          val hi = line.map(minor).max
          val ground = Seq(at(m, lo - 1), at(m, hi + 1)).flatten
            .filter(!_.isObj).map(_.v)
          if (ground.isEmpty) Iterator.empty
          else {
            val g = ground.min
            ((lo + 1) until hi).iterator.flatMap { k =>
              at(m, k) match {
                case Some(c) if !c.isObj && c.v > g + dzRaw => Some((c.gx, c.gy))
                case _ => None
              }
            }
          }
        }.toSet
      }
      val rowAcc = pass(_.gy, _.gx, (y, x) => byPos.get((x, y)))
      val colAcc = pass(_.gx, _.gy, (x, y) => byPos.get((x, y)))
      (rowAcc & colAcc).iterator.map { case (x, y) => Filled(x, y, label) }
    }.toDF("gx", "gy", "label")

    labeled.select("gx", "gy", "label").unionByName(filled)
  }
}
