package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Report {
  /** Tracing overhead: traced minus untraced median pass wall time. */
  def overhead(workload: String, untraced: Seq[Double], traced: Seq[Double]): Seq[String] = {
    val (u, t) = (Stats.median(untraced), Stats.median(traced))
    Seq(f"$workload: tracing overhead: untraced pass median ${u}%.3f s (${untraced.size} passes), " +
      f"traced ${t}%.3f s (${traced.size}), difference ${t - u}%+.3f s (${(t - u) / u * 100}%+.1f%%)")
  }
}

/** Everything a workload needs: the session, its seed and time budget,
  * a per-run scratch directory, and the tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: Path, val cores: Int,
                val sessionSeconds: Double, val docsOverride: Option[Long]) {
  val tracer = new Tracer(spark.sparkContext, trace, s"${Main.runId}")

  /** Failed or wrong-result operations against operations attempted. */
  var attempted = 0L
  var failed = 0L

  /** Runs one checked operation: it fails when it throws or its check
    * returns false. */
  def attempt(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: $what threw: $e")
        false
    }
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: $what failed its check")
    }
  }

  /** Seconds spent in [[heapAfterGcMb]]: instrumentation, kept out of
    * `setup_s`. */
  var heapSampleSeconds = 0.0

  /** Heap in use after full collections, in MB. Cached and pinned
    * blocks live in this heap (local mode), so a sample taken while the
    * workload's data is pinned covers Spark storage memory too. The
    * context cleaner drops the blocks of unreachable datasets only after
    * a collection has found them, asynchronously, so collections repeat
    * until the heap stops shrinking. Workloads take it during warm-up: a
    * forced full collection shrinks the young generation and slows the
    * next few passes by up to ~20%. */
  def heapAfterGcMb(): Double = {
    val t0 = System.nanoTime()
    def collected(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var last = collected()
    var settled = false
    var rounds = 0
    while (!settled && rounds < 8) {
      Thread.sleep(250)
      val now = collected()
      settled = now > last * 0.99
      last = math.min(last, now)
      rounds += 1
    }
    heapSampleSeconds += (System.nanoTime() - t0) / 1e9
    last
  }

  /** Closed loop, one client: run `pass` back to back until `seconds`
    * have elapsed and at least `minPasses` passes are done. */
  def loop(minPasses: Int)(pass: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass(i)
      i += 1
    }
    i
  }

  /** Runs `stage` `times` times into fresh directories (each previous one
    * removed); returns the last result and the median staging time. */
  def stageRepeated[A](name: String, times: Int)(stage: Path => A): (A, Double) = {
    val secs = mutable.ArrayBuffer[Double]()
    var last: Option[(Path, A)] = None
    for (i <- 0 until times) {
      last.foreach { case (p, _) => Main.deleteTree(p) }
      val dir = work.resolve(s"$name-$i")
      val t0 = System.nanoTime()
      val a = stage(dir)
      secs += (System.nanoTime() - t0) / 1e9
      last = Some((dir, a))
    }
    (last.get._2, Stats.median(secs.toSeq))
  }
}

/** A workload's result: end-to-end metrics (untraced run), per-layer
  * extras beyond the span counters (traced run), and the report lines
  * printed above the result. */
final case class Result(endToEnd: Map[String, Double],
                        layerExtras: Map[String, Double],
                        report: Seq[String])

object Main {
  val runId: String = java.util.UUID.randomUUID().toString.take(8)

  final case class Metric(name: String, unit: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"), Metric("pass_s", "s"), Metric("op_s", "s"),
    Metric("peak_mem_mb", "MB"))

  private val spanNames: Seq[String] = Seq(
    "pages.geocode", "pages.pipJoin", "pages.dsmGrid",
    "shr3d.dsm", "shr3d.minGrid", "shr3d.dsm2", "shr3d.min2",
    "shr3d.classifyGround", "shr3d.dtm", "shr3d.classification",
    "shr3d.buildingLabels", "shr3d.outlines",
    "align.stage", "align.offsetStats",
    "meta.commitClustered", "meta.merge", "meta.readPruned", "meta.timeTravel")

  val PerLayer: Seq[Metric] =
    spanNames.flatMap { s =>
      Seq(Metric(s"$s.s", "s"), Metric(s"$s.jobs", "count"),
        Metric(s"$s.tasks", "count"), Metric(s"$s.core_util", "ratio"),
        Metric(s"$s.shuffle_mb", "MB"), Metric(s"$s.spill_mb", "MB")) ++
        (if (s.startsWith("pages.")) Seq(Metric(s"$s.skew", "ratio")) else Nil)
    } ++ Seq(
      Metric("meta.readPruned.files_ratio", "ratio"),
      Metric("meta.readPruned.p90_ms", "ms"),
      Metric("meta.merge.files_ratio", "ratio"))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        graft.core.SessionDefaults.ExcludedOptimizerRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // bounded job/stage/query history, so the heap figure does not grow
      // with the number of passes a run completes (no effect on execution)
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.sql.GraftFunctions.register(s)
    s
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def json(correct: Boolean, attempted: Long, failed: Long,
                   metrics: Seq[(Metric, Double)]): String = {
    val ms = metrics.map { case (m, v) =>
      s""""${m.name}": {"value": ${fmt(v)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("workdir")).toAbsolutePath
    val traceOut = opts.get("trace-out").map(Paths.get(_))
    val cores = Runtime.getRuntime.availableProcessors()
    val run: Ctx => Result = workload match {
      case "pages" => Pages.run
      case "scene" => Scene.run
      case "table" => Table.run
      case other => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(work)
    val spark = session(cores, work)
    try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val ctx = new Ctx(spark, seed, seconds, trace, work, cores, sessionS,
        opts.get("docs").map(_.toLong))
      val r = run(ctx)
      val metrics =
        if (!trace) EndToEnd.map(m => m -> r.endToEnd(m.name))
        else {
          val layer = ctx.tracer.layerMetrics(cores) ++ r.layerExtras
          traceOut.foreach(ctx.tracer.write)
          PerLayer.map(m => m -> layer.getOrElse(m.name, 0.0))
        }
      ctx.tracer.close()
      r.report.foreach(println)
      if (trace) metrics.foreach { case (m, v) =>
        if (v != 0.0) println(f"  ${m.name}%-36s ${fmt(v)} ${m.unit}")
      }
      println(json(ctx.failed == 0, ctx.attempted, ctx.failed, metrics))
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }
}
