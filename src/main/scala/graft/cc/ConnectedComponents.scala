package graft.cc

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
 * Algorithm (classic Spark CCL):
 *  1. per-tile local CCL (union-find inside flatMapGroups, zero halo);
 *  2. cross-tile equivalence edges from border-cell adjacency (one
 *     self-join restricted to border cells);
 *  3. min-label propagation with pointer jumping on the (small) label
 *     graph until fixpoint — O(log diameter) rounds, each
 *     localCheckpoint'ed;
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
    * task (`DenseGrid.labels`, a single union-find sweep — a 722-cell
    * raster should not pay tile shuffles + pointer-jump rounds); larger
    * grids take the tiled distributed path. Both asserted equal in
    * CcSpec. */
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

    val dzOk: (Int, Int) => Boolean = maxDz match {
      case Some(dz) => (a, b) => math.abs(a - b) <= dz
      case None => (_, _) => true
    }

    val ds = cells.select(col("gx").cast("long"), col("gy").cast("long"),
      col("v").cast("int")).as[Cell]

    // ---- 1. per-tile local CCL ----
    val local = ds.groupByKey(c => ((c.gx / t) << 32) | (c.gy / t))
      .flatMapGroups { (_, it) =>
        val arr = it.toArray
        val idx = new java.util.HashMap[java.lang.Long, java.lang.Integer](arr.length * 2)
        arr.zipWithIndex.foreach { case (c, i) => idx.put(c.gy * w + c.gx, i) }
        val parent = Array.tabulate(arr.length)(identity)
        def find(i: Int): Int = {
          var r = i
          while (parent(r) != r) r = parent(r)
          var c = i
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        def union(a: Int, b: Int): Unit = {
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val offs = if (diag) Seq((1, -1), (1, 0), (1, 1), (0, 1))
                   else Seq((1, 0), (0, 1))
        arr.zipWithIndex.foreach { case (c, i) =>
          offs.foreach { case (dx, dy) =>
            val nx = c.gx + dx; val ny = c.gy + dy
            if (nx >= 0 && nx < w && ny >= 0) { // id aliasing guard
              val j = idx.get(ny * w + nx)
              // neighbor must be in the same tile (cross-tile handled below)
              if (j != null && arr(j).gx / t == c.gx / t && arr(j).gy / t == c.gy / t
                && dzOk(c.v, arr(j).v)) union(i, j.intValue())
            }
          }
        }
        val rootMin = new java.util.HashMap[java.lang.Integer, java.lang.Long]()
        arr.zipWithIndex.foreach { case (c, i) =>
          val r = find(i)
          val id = c.gy * w + c.gx
          val cur = rootMin.get(r)
          if (cur == null || id < cur.longValue()) rootMin.put(r, id)
        }
        arr.zipWithIndex.iterator.map { case (c, i) =>
          Labeled(c.gx, c.gy, c.v, rootMin.get(find(i)).longValue())
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
    val edgeDf = edges.select(col("la"), col("lb")).distinct().localCheckpoint()

    // ---- 3. min-label propagation + pointer jumping ----
    var rep = local.select(col("lbl").as("l")).distinct()
      .withColumn("r", col("l")).localCheckpoint()
    var converged = false
    var round = 0
    while (!converged && round < 64) {
      val viaEdges = edgeDf
        .join(rep.withColumnRenamed("l", "lb2").withColumnRenamed("r", "rb"),
          col("lb") === col("lb2"))
        .select(col("la").as("l"), col("rb").as("r"))
      val stepped = rep.select("l", "r").unionByName(viaEdges)
        .groupBy("l").agg(min("r").as("r"))
      // pointer jumping: r <- rep(r)
      val jumped = stepped
        .join(stepped.select(col("l").as("r"), col("r").as("r2")), Seq("r"), "left")
        .select(col("l"), coalesce(col("r2"), col("r")).as("r"))
        .localCheckpoint()
      val changed = jumped.as("n").join(rep.as("o"), col("n.l") === col("o.l"))
        .filter(col("n.r") =!= col("o.r")).count()
      rep = jumped
      converged = changed == 0
      round += 1
    }

    // ---- 4. relabel ----
    val full = local.join(rep, local("lbl") === rep("l"))
      .select(col("gx"), col("gy"), col("v"), col("r").as("label"))

    // ---- 5. optional region cap (canonical chunking, see object doc) ----
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
