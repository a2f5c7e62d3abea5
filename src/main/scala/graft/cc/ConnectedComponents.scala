package graft.cc

import graft.dedup.DupClusters
import graft.stencil.DenseGrid
import graft.stencil.TileStencil.Bounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed 8-connected component labeling (SURVEY.md §2.8 G1/G2;
 * reference: two-pass union-find CCL, pubgeo `src/common/Image.h:255-326`
 * + `disjoint_set.h:59-121`, and dz-constrained region growing,
 * `src/shr3d/shr3d.cpp:790-885`).
 *
 * Canonical labels: every component is labeled by the minimum cell id
 * (gy * W + gx) it contains — partitioning-independent, unlike the
 * reference's scan-order label numbering (SURVEY.md §7.4 risk 2; the
 * reference's own labels are erased by its G6 pass anyway).
 *
 * Algorithm (classic Spark CCL, built from the engine's two labeling
 * cores):
 *  1. per-tile labels: each tile's cells fill a [[DenseGrid]] sized to
 *     the bbox of the tile's occupied cells (at most tileSize²) and are
 *     labeled by `DenseGrid.labels`; bbox indices are row-major like
 *     cell ids, so each tile component's label maps back to its minimum
 *     cell id;
 *  2. cross-tile equivalence edges from border-cell adjacency (one
 *     self-join restricted to border cells);
 *  3. the (O(perimeter)) seam graph is resolved by
 *     [[graft.dedup.DupClusters.components]] — one task under the
 *     strategy gate, its pointer-jumping loop above it, and an error,
 *     not half-merged labels, if that loop does not converge; labels
 *     with no seam edge keep their own;
 *  4. one join to relabel cells.
 *
 * `maxDz`: optional G2 semantics — cells connect only when
 * |v(a) - v(b)| <= maxDz.
 *
 * `maxCount`: optional G2 region cap (pubgeo `src/shr3d/shr3d.cpp:
 * 872-875,913`, maxCount = 10000/gsd²). The reference stops its BFS at
 * maxCount cells and the scan loop then opens NEW objects for the
 * remainder, so one giant region becomes several bounded objects. The
 * deterministic re-spec here: cells of an over-cap component are ranked
 * in canonical cell-id order and split into chunks of maxCount, each
 * chunk relabeled by its minimum cell id — same bound (no object
 * exceeds maxCount, every cell stays labeled), partitioning-independent
 * chunk membership (unlike the reference's scan-order BFS crops). The
 * rank runs in a sort-based window, so a continent-sized component
 * spills to disk instead of materializing in one task — this cap is
 * what makes every downstream per-object mapGroups memory-safe.
 */
object ConnectedComponents {

  final case class Cell(gx: Long, gy: Long, v: Int)
  final case class Labeled(gx: Long, gy: Long, v: Int, lbl: Long)

  /** `diag = false` restricts adjacency to 4-connectivity (the
    * reference's BACKGROUND labeling in `Image.h:288-297` — holes are
    * 4-connected while foreground objects are 8-connected).
    * Grids within the strategy gate (`DenseGrid.fits`) label in ONE
    * task (`DenseGrid.labels` over the whole lattice — a 722-cell
    * raster should not pay tile shuffles); larger grids take the tiled
    * path. Both asserted equal in CcSpec. */
  def label(cells: DataFrame, bounds: Bounds, tileSize: Int = 128,
            maxDz: Option[Int] = None, maxCount: Option[Long] = None,
            diag: Boolean = true): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val t = tileSize
    val w = bounds.w
    if (DenseGrid.fits(spark, bounds))
      return DenseGrid.task(Seq(cells), bounds) { g =>
        val lbl = g(0).labels(maxDz, maxCount, diag)
        g(0).cells.map(c => (c.gx, c.gy, c.v, lbl((c.gy * w + c.gx).toInt).toLong))
      }.toDF("gx", "gy", "v", "label")

    val ds = cells.select(col("gx").cast("long"), col("gy").cast("long"),
      col("v").cast("int")).as[Cell]

    // ---- 1. per-tile labels on the bbox of the tile's occupied cells ----
    val local = ds.groupByKey(c => ((c.gx / t) << 32) | (c.gy / t))
      .flatMapGroups { (_, it) =>
        val arr = it.toArray
        val x0 = arr.iterator.map(_.gx).min; val y0 = arr.iterator.map(_.gy).min
        val bw = (arr.iterator.map(_.gx).max - x0 + 1).toInt
        val g = new DenseGrid(bw, (arr.iterator.map(_.gy).max - y0 + 1).toInt)
        arr.foreach(c => g.set(g.index((c.gx - x0).toInt, (c.gy - y0).toInt), c.v))
        // bbox indices are row-major like cell ids: the minimum index of
        // a component maps to its minimum cell id
        val lbl = g.labels(maxDz, None, diag)
        arr.iterator.map { c =>
          val l = lbl(g.index((c.gx - x0).toInt, (c.gy - y0).toInt))
          Labeled(c.gx, c.gy, c.v, (y0 + l / bw) * w + x0 + l % bw)
        }
      }.toDF("gx", "gy", "v", "lbl").localCheckpoint()

    // ---- 2. cross-tile equivalence edges ----
    val border = local.filter(
      (col("gx") % t === 0) || (col("gx") % t === t - 1) ||
        (col("gy") % t === 0) || (col("gy") % t === t - 1)).localCheckpoint()
    val offsets = (if (diag)
      Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))
    else Seq((-1, 0), (0, -1), (0, 1), (1, 0))).toDF("dx", "dy")
    val a = border.select(col("gx").as("ax"), col("gy").as("ay"),
      col("v").as("av"), col("lbl").as("la"))
    val b = border.select(col("gx").as("bx"), col("gy").as("by"),
      col("v").as("bv"), col("lbl").as("lb"))
    var edges = a.crossJoin(broadcast(offsets))
      .join(b, col("bx") === col("ax") + col("dx") && col("by") === col("ay") + col("dy")
        && (floor(col("bx") / t) =!= floor(col("ax") / t)
          || floor(col("by") / t) =!= floor(col("ay") / t)))
    edges = maxDz match {
      case Some(dz) => edges.filter(abs(col("av") - col("bv")) <= dz)
      case None => edges
    }

    // ---- 3. resolve the seam graph; labels with no seam edge keep theirs ----
    val rep = DupClusters.components(edges.select(col("la"), col("lb")).distinct())
    val full = local.join(rep, local("lbl") === rep("id"), "left")
      .select(col("gx"), col("gy"), col("v"), coalesce(col("cluster"), col("lbl")).as("label"))

    // ---- 4. optional region cap (canonical chunking, see object doc) ----
    applyCap(full, w, maxCount)
  }

  /** Cell-id block size for the two-stage rank: local ranks sort at most
    * one block per (label, block) window partition (~8 MB of rows), so
    * no single task ever sorts a whole continent-sized component. */
  private val CapRankBlock: Long = 1L << 20

  private def applyCap(full: DataFrame, w: Long,
                       maxCount: Option[Long]): DataFrame = {
    maxCount match {
      case None => full
      case Some(cap) =>
        require(cap > 0)
        import org.apache.spark.sql.expressions.Window
        // Two-stage rank (cid is monotone in (tid, cid-within-tid), so
        // block offset + local rank == the global row_number):
        //  1. rank within (label, cid-block) — partitions bounded by the
        //     block size regardless of component size;
        //  2. per-(label, block) counts -> running prefix offsets, a
        //     window over the tiny counts table (one row per block);
        //  3. chunk = (offset + local rank - 1) div cap, canonical chunk
        //     label = min cid — that window partitions by (label, chunk),
        //     bounded by cap.
        val cells = full.withColumn("cid", col("gy") * w + col("gx"))
          .withColumn("tid", expr(s"cid div $CapRankBlock"))
        val wLocal = Window.partitionBy(col("label"), col("tid")).orderBy(col("cid"))
        val local = cells.withColumn("lr", row_number().over(wLocal))
        val wPrefix = Window.partitionBy(col("label")).orderBy(col("tid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val offsets = cells.groupBy("label", "tid").agg(count(lit(1)).as("tn"))
          .withColumn("off", sum(col("tn")).over(wPrefix) - col("tn"))
          .select("label", "tid", "off")
        val wChunk = Window.partitionBy(col("label"), col("chunk"))
        local.join(offsets, Seq("label", "tid"))
          .withColumn("chunk", expr(s"(off + lr - 1) div $cap"))
          .withColumn("newLabel", min(col("cid")).over(wChunk))
          .select(col("gx"), col("gy"), col("v"), col("newLabel").as("label"))
    }
  }
}
