package perfbench

import graft.api.Flagship
import graft.grid.Gridding
import graft.ingest.WebPages
import graft.join.{Aoi, SpatialJoins}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** `pages`: the flagship path, composed from the same public calls as
  * `Flagship.run` (latest-capture dedup + geocode + cell id, persisted;
  * kept count + checksum; then PIP hits and the DSM grid in one action),
  * over seeded pages staged into this run's own directory. */
object Pages {
  /** Docs per run; `--docs` overrides. */
  val DefaultDocs = 100000L
  val Files = 64
  /** JIT and codegen settle over the first passes */
  val WarmupPasses = 4

  /** At seed 42 with 2M docs every pass must reproduce `Flagship.run`'s
    * pip_hits / grid_cells / grid checksum. */
  val RefSeed = 42L
  val RefDocs = 2000000L
  val RefSinks = (422254L, 245861L, 14900432127L)

  final case class Sinks(kept: Long, keptSum: Long, pip: Long, cells: Long, checksum: Long)

  /** Seeded pages as `Files` parquet files (the layout
    * `Flagship.stageInput` writes), in a directory of this run only. */
  def stage(spark: SparkSession, dir: Path, nDocs: Long, seed: Long): String = {
    WebPages.generate(spark, nDocs, seed).toDF()
      .repartition(Files).write.parquet(dir.toString)
    dir.toString
  }

  private def keptAgg(geo: DataFrame) =
    geo.agg(count(lit(1)).as("n"), sum(pmod(col("kept_hash"), lit(1000000007L))).as("ksum"))
      .head()

  private def persisted(spark: SparkSession, path: String): DataFrame =
    Flagship.geocodedFromParquet(spark, path).persist(StorageLevel.MEMORY_AND_DISK)

  /** One untraced pass, shaped like `Flagship.run`: returns the sinks,
    * the pass time, the time of its PIP + DSM action, and (when `sample`)
    * the heap sampled while the geocoded set is still pinned. */
  def pass(ctx: Ctx, path: String, sample: Boolean = false): (Sinks, Double, Double, Option[Double]) = {
    val t0 = System.nanoTime()
    val geo = persisted(ctx.spark, path)
    try {
      val kept = keptAgg(geo)
      val t1 = System.nanoTime()
      val pipRow = SpatialJoins.pipJoin(geo, Aoi.defs)
        .agg(count(lit(1)).as("a"), lit(0L).as("b"))
        .select(lit("pip").as("k"), col("a"), col("b"))
      val dsmRow = Gridding.dsm(Gridding.points(geo))
        .agg(count(lit(1)).as("a"), sum(col("v")).as("b"))
        .select(lit("dsm").as("k"), col("a"), col("b"))
      val tail = pipRow.unionAll(dsmRow).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val t2 = System.nanoTime()
      val mem = if (sample) Some(ctx.heapAfterGcMb()) else None
      (Sinks(kept.getLong(0), kept.getLong(1), tail("pip")._1, tail("dsm")._1, tail("dsm")._2),
        (t2 - t0) / 1e9, (t2 - t1) / 1e9, mem)
    } finally { geo.unpersist(blocking = true); () }
  }

  /** One traced pass: each layer call in its own span, so the PIP join
    * and the DSM grid run as two actions. Returns the sinks and the pass
    * time. */
  def tracedPass(ctx: Ctx, path: String): (Sinks, Double) = {
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val (geo, kept) = tr.span("pages.geocode") {
      val g = persisted(ctx.spark, path)
      (g, keptAgg(g))
    }
    try {
      val pip = tr.span("pages.pipJoin")(SpatialJoins.pipJoin(geo, Aoi.defs).count())
      val dsm = tr.span("pages.dsmGrid") {
        Gridding.dsm(Gridding.points(geo)).agg(count(lit(1)), sum(col("v"))).head()
      }
      (Sinks(kept.getLong(0), kept.getLong(1), pip, dsm.getLong(0), dsm.getLong(1)),
        (System.nanoTime() - t0) / 1e9)
    } finally { geo.unpersist(blocking = true); () }
  }

  def run(ctx: Ctx): Result = {
    val nDocs = ctx.docsOverride.getOrElse(DefaultDocs)
    val (path, stageS) = ctx.stageRepeated("pages", 1)(d => stage(ctx.spark, d, nDocs, ctx.seed))
    // warm-up passes fix the expected sinks for every later pass
    val tw = System.nanoTime()
    val expected = pass(ctx, path)._1
    // the heap sample comes early, so later warm-up passes absorb its GCs
    val heapMb = pass(ctx, path, sample = true)._4.get
    for (_ <- 2 until WarmupPasses) pass(ctx, path)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = ctx.sessionSeconds + stageS + warmS - ctx.heapSampleSeconds

    def check(what: String, s: Sinks): Boolean = {
      val ok = s == expected && ((ctx.seed, nDocs) != (RefSeed, RefDocs) ||
        (s.pip, s.cells, s.checksum) == RefSinks)
      if (!ok) System.err.println(s"perfbench: pages $what sinks $s, expected $expected")
      ok
    }

    val passS, tailS, untracedS, tracedS = mutable.ArrayBuffer[Double]()
    if (!ctx.trace) {
      ctx.loop(3) { i =>
        ctx.attempt(s"pages pass $i") {
          val (s, p, t, _) = pass(ctx, path)
          passS += p; tailS += t
          check(s"pass $i", s)
        }
      }
    } else {
      // alternate untraced and traced passes so drift hits both alike
      ctx.loop(3) { i =>
        ctx.attempt(s"pages untraced pass $i") {
          val (s, p, _, _) = pass(ctx, path)
          untracedS += p
          check(s"untraced pass $i", s)
        }
        ctx.attempt(s"pages traced pass $i") {
          val (s, p) = ctx.tracer.span("pages.pass")(tracedPass(ctx, path))
          tracedS += p
          check(s"traced pass $i", s)
        }
      }
    }
    val report = mutable.ArrayBuffer[String](
      s"pages: $nDocs docs, seed ${ctx.seed}, ${ctx.cores} cores; sinks kept=${expected.kept} " +
        s"pip_hits=${expected.pip} grid_cells=${expected.cells} checksum=${expected.checksum}",
      f"pages: setup ${setupS}%.2f s (session ${ctx.sessionSeconds}%.2f, staging median ${stageS}%.2f, warm-up ${warmS}%.2f)")
    if (!ctx.trace) {
      val med = Stats.median(passS.toSeq)
      report += f"pages: ${passS.size} passes, median ${med}%.3f s = ${nDocs / med}%.0f docs/s; " +
        f"PIP+DSM action median ${Stats.median(tailS.toSeq)}%.3f s; heap ${heapMb}%.0f MB; " +
        s"passes ${passS.map(x => f"$x%.3f").mkString(" ")}"
    } else report ++= Report.overhead("pages", untracedS.toSeq, tracedS.toSeq)
    Result(
      endToEnd = if (ctx.trace) Map.empty else Map(
        "setup_s" -> setupS, "pass_s" -> Stats.median(passS.toSeq),
        "op_s" -> Stats.median(tailS.toSeq), "peak_mem_mb" -> heapMb),
      layerExtras = Map.empty,
      report = report.toSeq)
  }
}
