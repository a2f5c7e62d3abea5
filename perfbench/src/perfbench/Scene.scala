package perfbench

import graft.align.Align3d
import graft.api.Shr3d
import graft.grid.Gridding
import graft.ingest.WebPages.splitmix64
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** A seeded lidar-like scene on a `size` x `size`-cell, 1 m grid:
  * sloping terrain, flat-roofed block buildings (no ground returns under
  * a roof), tree discs (a mix of canopy and ground returns) and void
  * patches with no returns at all. Heights stay inside the engine's
  * standard quantization range [0, 20) m. */
final case class SceneDef(size: Int, seed: Long,
                          boxes: Array[(Double, Double, Double, Double, Double)],
                          trees: Array[(Double, Double, Double, Double)],
                          voids: Array[(Double, Double, Double)]) {
  def ground(x: Double, y: Double): Double =
    1.5 + 1.5 * x / size + 0.8 * y / size + 0.4 * math.sin(x / 23.0) * math.cos(y / 17.0)

  private def u(id: Long, stream: Int, i: Int): Double =
    (splitmix64(splitmix64(seed ^ (stream.toLong << 40) ^ id) + i) >>> 11) * (1.0 / (1L << 53))

  /** Return `id` of point stream `stream` (one stream per lidar pass), or
    * None when it falls in a void. */
  def point(id: Long, stream: Int): Option[(Double, Double, Double)] = {
    val x = u(id, stream, 0) * size
    val y = u(id, stream, 1) * size
    if (voids.exists { case (cx, cy, r) => (x - cx) * (x - cx) + (y - cy) * (y - cy) < r * r }) None
    else {
      val noise = (u(id, stream, 2) - 0.5) * 0.06
      val roof = boxes.collectFirst {
        case (x0, y0, x1, y1, h) if x >= x0 && x < x1 && y >= y0 && y < y1 =>
          ground((x0 + x1) / 2, (y0 + y1) / 2) + h
      }
      val z = roof.getOrElse {
        trees.collectFirst {
          case (cx, cy, r, h) if (x - cx) * (x - cx) + (y - cy) * (y - cy) < r * r &&
              u(id, stream, 3) < 0.7 =>
            val d2 = ((x - cx) * (x - cx) + (y - cy) * (y - cy)) / (r * r)
            ground(x, y) + h * math.sqrt(1 - d2) * (0.75 + 0.25 * u(id, stream, 4))
        }.getOrElse(ground(x, y))
      }
      Some((x, y, z + noise))
    }
  }
}

object SceneDef {
  def generate(size: Int, seed: Long): SceneDef = {
    val rnd = new java.util.SplittableRandom(seed)
    def in(lo: Double, hi: Double) = lo + rnd.nextDouble() * (hi - lo)
    val area = size.toDouble * size
    val boxes = Array.fill((area / 1100).toInt) {
      val (w, h) = (in(7, 18), in(7, 18))
      val (x0, y0) = (in(4, size - 4 - w), in(4, size - 4 - h))
      (x0, y0, x0 + w, y0 + h, in(5, 11))
    }
    val trees = Array.fill((area / 500).toInt)((in(3, size - 3), in(3, size - 3), in(1.5, 3.5), in(4, 9)))
    val voids = Array.fill((area / 5000).toInt + 1)((in(0, size), in(0, size), in(2, 6)))
    SceneDef(size, seed, boxes, trees, voids)
  }
}

/** `scene`: every SHR3D product over the seeded scene, then ALIGN3D of
  * a second, shifted lidar pass of the same scene against the first. */
object Scene {
  val Size = 128
  val PointsPerCell = 4
  val TileSize = 64
  val AlignCfg = Align3d.Config(gsd = 1.0, maxT = 4.0, numSamples = 2000)

  /** Product name -> span name, in forcing order. */
  private val products: Seq[(String, Shr3d.Products => DataFrame)] = Seq(
    "shr3d.dsm" -> (_.dsm), "shr3d.minGrid" -> (_.minGrid), "shr3d.dsm2" -> (_.dsm2),
    "shr3d.min2" -> (_.min2), "shr3d.classifyGround" -> (_.classifyGroundResult.dtm),
    "shr3d.dtm" -> (_.dtm), "shr3d.classification" -> (_.classification),
    "shr3d.buildingLabels" -> (_.buildingLabels), "shr3d.outlines" -> (_.outlines))

  /** The injected shift of the second pass, from the seed: whole cells
    * in x/y (non-zero, inside the 9 x 9 offset window), decimetres in z. */
  def shift(seed: Long): (Double, Double, Double) = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    def cells = (rnd.nextInt(3) + 1) * (if (rnd.nextBoolean()) 1 else -1)
    val dz = (rnd.nextInt(6) + 3) / 10.0 * (if (rnd.nextBoolean()) 1 else -1)
    (cells.toDouble, cells.toDouble, dz)
  }

  private def cloud(spark: SparkSession, sd: SceneDef, stream: Int,
                    d: (Double, Double, Double)): DataFrame = {
    import spark.implicits._
    spark.range(sd.size.toLong * sd.size * PointsPerCell).as[Long]
      .flatMap(id => sd.point(id, stream))
      .toDF("x", "y", "z")
      .select(col("x") + d._1 as "x", col("y") + d._2 as "y", col("z") + d._3 as "z")
  }

  /** Forces every product in order (each is pinned by the engine, so a
    * forced product is materialized); returns the pass time. */
  private def productPass(ctx: Ctx, p: Shr3d.Products): Double = {
    val t0 = System.nanoTime()
    products.foreach { case (span, get) =>
      ctx.tracer.span(span) {
        val df = get(p)
        if (span == "shr3d.outlines") df.count() // the only unpinned product
        ()
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Row counts of every product plus DSM and DTM value sums, in one
    * action. */
  private def fingerprint(p: Shr3d.Products): Seq[Long] = {
    val parts = products.zipWithIndex.map { case ((_, get), i) =>
      get(p).agg(count(lit(1)).as("v")).select(lit(i).as("i"), col("v"))
    } ++ Seq(p.dsm, p.dtm).zipWithIndex.map { case (g, i) =>
      g.agg(sum(col("v").cast("long")).as("v")).select(lit(products.size + i).as("i"), col("v"))
    }
    parts.reduce(_ unionAll _).collect().sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
  }

  private def align(ctx: Ctx, ref: DataFrame, tgt: DataFrame): (Align3d.Result, Double) = {
    val t0 = System.nanoTime()
    val res =
      if (!ctx.trace) Align3d.run(ctx.spark, ref, tgt, AlignCfg)._1
      else {
        val st = ctx.tracer.span("align.stage")(Align3d.stage(ctx.spark, ref, tgt, AlignCfg))
        val rows = ctx.tracer.span("align.offsetStats")(Align3d.offsetStats(st, AlignCfg).collect())
        st.refDsm.unpersist(); st.tgtDsm.unpersist()
        Align3d.resultFromStats(rows, AlignCfg)
      }
    (res, (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val d = shift(ctx.seed)
    val cfg = Shr3d.Config(spec = Gridding.GridSpec(0.0, 0.0, 1.0), tileSize = TileSize,
      openLabels = true, boundsOpt = Some((Size + 2, Size + 2)))
    // set-up: generate and pin both passes (twice, median time)
    val ((ref, tgt), stageS) = ctx.stageRepeated("scene", 2) { _ =>
      val sd = SceneDef.generate(Size, ctx.seed)
      val r = cloud(spark, sd, 1, (0, 0, 0)).localCheckpoint()
      val t = cloud(spark, sd, 2, d).localCheckpoint()
      (r, t)
    }
    val pts = ref.select(col("x").as("lon"), col("y").as("lat"), col("z"))
    val tw = System.nanoTime()
    val warm = Shr3d.run(spark, pts, cfg)
    ctx.tracer.untraced(productPass(ctx, warm))
    val expected = fingerprint(warm)
    val heapMb = ctx.heapAfterGcMb() // every product of `warm` is pinned
    ctx.tracer.untraced(align(ctx, ref, tgt))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = ctx.sessionSeconds + stageS + warmS - ctx.heapSampleSeconds

    def checkAlign(r: Align3d.Result): Boolean = {
      val ok = math.abs(r.tx + d._1) <= AlignCfg.gsd && math.abs(r.ty + d._2) <= AlignCfg.gsd &&
        math.abs(r.tz + d._3) <= 0.3
      if (!ok) System.err.println(s"perfbench: align recovered $r for injected shift $d")
      ok
    }

    val prodS, alignS, untracedS, tracedS = mutable.ArrayBuffer[Double]()
    var lastAlign: Option[Align3d.Result] = None
    def onePass(i: Int, traced: Boolean): Unit = {
      val tag = if (traced) "traced" else "untraced"
      ctx.attempt(s"scene $tag product pass $i") {
        val p = Shr3d.run(spark, pts, cfg)
        val s =
          if (traced) ctx.tracer.span("scene.pass")(productPass(ctx, p))
          else ctx.tracer.untraced(productPass(ctx, p))
        (if (traced) tracedS else if (ctx.trace) untracedS else prodS) += s
        val f = fingerprint(p)
        if (f != expected) System.err.println(s"perfbench: scene products $f, expected $expected")
        f == expected
      }
      if (!ctx.trace || traced) ctx.attempt(s"scene align $i") {
        val (r, s) = align(ctx, ref, tgt)
        alignS += s
        lastAlign = Some(r)
        checkAlign(r)
      }
    }
    if (!ctx.trace) ctx.loop(2)(i => onePass(i, traced = false))
    else ctx.loop(2) { i => onePass(i, traced = false); onePass(i, traced = true) }

    val report = mutable.ArrayBuffer[String](
      f"scene: ${Size}x$Size cells, $PointsPerCell points/cell, seed ${ctx.seed}; " +
        s"products (rows..., dsm sum, dtm sum) ${expected.mkString(" ")}",
      s"scene: injected shift $d, align recovered ${lastAlign.map(r =>
        f"(${r.tx}%.2f, ${r.ty}%.2f, ${r.tz}%.2f)").getOrElse("-")}",
      f"scene: setup ${setupS}%.2f s (session ${ctx.sessionSeconds}%.2f, staging median ${stageS}%.2f, warm-up ${warmS}%.2f)")
    if (!ctx.trace)
      report += f"scene: ${prodS.size} product passes, median ${Stats.median(prodS.toSeq)}%.3f s; " +
        f"align median ${Stats.median(alignS.toSeq)}%.3f s; heap ${heapMb}%.0f MB"
    else report ++= Report.overhead("scene", untracedS.toSeq, tracedS.toSeq)
    Result(
      endToEnd = if (ctx.trace) Map.empty else Map(
        "setup_s" -> setupS, "pass_s" -> Stats.median(prodS.toSeq),
        "op_s" -> Stats.median(alignS.toSeq), "peak_mem_mb" -> heapMb),
      layerExtras = Map.empty,
      report = report.toSeq)
  }
}
