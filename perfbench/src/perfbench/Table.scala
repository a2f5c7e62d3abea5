package perfbench

import graft.api.Flagship
import graft.meta.Snapshots
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `table`: the deduped, geocoded pages of `pages` (same seed) as a
  * snapshot table clustered on the cell id. Each round commits a fresh
  * clustered base, reads seeded cell windows through the footer stats,
  * upserts a seeded recrawl batch, reads the windows again, and reads
  * the base snapshot back by time travel. */
object Table {
  val DefaultDocs = 40000L
  val TableFiles = 32
  val Windows = 4
  val TimeTravelReads = 2
  /** one url in `RecrawlMod` is recrawled per round (0.5%) */
  val RecrawlMod = 200
  val Name = "pages"

  private def dataFiles(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet
    finally s.close()
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val nDocs = ctx.docsOverride.getOrElse(DefaultDocs)
    // set-up: stage the pages, dedup + geocode them and pin the result
    val (geo, stageS) = ctx.stageRepeated("table-input", 1) { dir =>
      val path = Pages.stage(spark, dir, nDocs, ctx.seed)
      Flagship.geocodedFromParquet(spark, path).localCheckpoint()
    }
    val tw = System.nanoTime()
    // the window oracle: one full scan of the cell ids
    val cells = geo.select("cell").collect().map(_.getLong(0)).sorted
    val n = cells.length.toLong
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val span = math.max(1, cells.length / 200)
    val windows = Seq.fill(Windows) {
      val i = rnd.nextInt(cells.length - span)
      val (lo, hi) = (cells(i), cells(i + span - 1))
      def firstAtLeast(v: Long) = {
        val j = java.util.Arrays.binarySearch(cells, v)
        var k = if (j < 0) -j - 1 else j
        while (k > 0 && cells(k - 1) == v) k -= 1
        k
      }
      (lo, hi, (firstAtLeast(hi + 1) - firstAtLeast(lo)).toLong)
    }

    val roundS, mergeS, readMs = mutable.ArrayBuffer[Double]()
    var heapMb = 0.0
    val readRatio, mergeRatio = mutable.ArrayBuffer[Double]()

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    def readWindows(root: String, phase: String): Unit =
      windows.zipWithIndex.foreach { case ((lo, hi, want), i) =>
        ctx.attempt(s"table $phase read $i") {
          val ((got, rep), s) = timed(tr.span("meta.readPruned") {
            val (df, rep) = Snapshots.readPruned(spark, root, Name, "cell", lo, hi)
            (df.count(), rep)
          })
          readMs += s * 1000
          readRatio += rep.keptFiles.toDouble / rep.totalFiles
          got == want
        }
      }

    /** One round; returns its wall time. Only rounds with `keep` add
      * to the round and merge samples. */
    def round(r: Int, keep: Boolean, sampleHeap: Boolean = false): Double = {
      val root = ctx.work.resolve(s"table-$r").toString
      val t0 = System.nanoTime()
      var base: Option[Snapshots.Manifest] = None
      ctx.attempt(s"table commit $r") {
        val m = tr.span("meta.commitClustered") {
          Snapshots.commitClustered(geo, root, Name, s"pages seed ${ctx.seed}",
            Seq("cell"), Seq("cell"), TableFiles)
        }
        base = Some(m)
        m.rows == n
      }
      readWindows(root, s"round $r base")
      val batch = geo
        .filter(pmod(xxhash64(col("doc_id"), lit(ctx.seed), lit(r)), lit(RecrawlMod)) === 0)
        .withColumn("kept_hash", xxhash64(col("kept_hash"), lit(r)))
      ctx.attempt(s"table merge $r") {
        val (m, s) = timed(tr.span("meta.merge") {
          val m = Snapshots.merge(spark, root, Name, batch, Seq("doc_id"))
          Snapshots.indexStats(spark, root, Name, m.snapshotId, Seq("cell"))
          m
        })
        if (keep) mergeS += s
        base.foreach { b =>
          val before = dataFiles(b.dataPath)
          mergeRatio += (before -- dataFiles(m.dataPath)).size.toDouble / before.size
        }
        m.rows == n
      }
      readWindows(root, s"round $r merged")
      for (i <- 0 until TimeTravelReads) ctx.attempt(s"table time travel $r.$i") {
        tr.span("meta.timeTravel") {
          base.flatMap(b => Snapshots.at(root, Name, b.snapshotId))
            .exists(m => m.rows == n && Snapshots.read(spark, m).count() == n)
        }
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (keep) roundS += s
      if (sampleHeap) heapMb = ctx.heapAfterGcMb()
      // merged keys carry the upserted values
      ctx.attempt(s"table merged values $r") {
        val latest = Snapshots.read(spark, Snapshots.latest(root, Name).get)
        val want = batch.count()
        want > 0 && latest.join(batch.select("doc_id", "kept_hash"),
          Seq("doc_id", "kept_hash"), "left_semi").count() == want
      }
      Main.deleteTree(Paths.get(root))
      s
    }

    ctx.tracer.untraced(round(-1, keep = false, sampleHeap = true))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = ctx.sessionSeconds + stageS + warmS - ctx.heapSampleSeconds
    readMs.clear(); readRatio.clear(); mergeRatio.clear()
    val untracedS = mutable.ArrayBuffer[Double]()
    if (!ctx.trace) ctx.loop(2)(r => round(r, keep = true))
    else ctx.loop(2) { r =>
      // alternate an untraced and a traced round for the overhead report
      untracedS += ctx.tracer.untraced(round(2 * r, keep = false))
      round(2 * r + 1, keep = true)
    }

    val report = mutable.ArrayBuffer[String](
      s"table: $n rows from $nDocs docs, seed ${ctx.seed}, $TableFiles files, $Windows windows " +
        s"of ~$span rows read twice per round, $TimeTravelReads time-travel reads",
      f"table: setup ${setupS}%.2f s (session ${ctx.sessionSeconds}%.2f, staging median ${stageS}%.2f, warm-up ${warmS}%.2f)",
      f"table: ${roundS.size} rounds, median ${Stats.median(roundS.toSeq)}%.3f s; merge median " +
        f"${Stats.median(mergeS.toSeq)}%.3f s; window read median ${Stats.median(readMs.toSeq)}%.1f ms, " +
        f"p90 ${Stats.quantile(readMs.toSeq, 0.9)}%.1f ms over ${readMs.size} reads; heap ${heapMb}%.0f MB")
    if (ctx.trace) report ++= Report.overhead("table", untracedS.toSeq, roundS.toSeq)
    Result(
      endToEnd = if (ctx.trace) Map.empty else Map(
        "setup_s" -> setupS, "pass_s" -> Stats.median(roundS.toSeq),
        "op_s" -> Stats.median(mergeS.toSeq), "peak_mem_mb" -> heapMb),
      layerExtras = Map(
        "meta.readPruned.files_ratio" -> Stats.median(readRatio.toSeq),
        "meta.readPruned.p90_ms" -> Stats.quantile(readMs.toSeq, 0.9),
        "meta.merge.files_ratio" -> Stats.median(mergeRatio.toSeq)),
      report = report.toSeq)
  }
}
