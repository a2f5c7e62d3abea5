package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graftx.Bridge
import scala.collection.mutable

/** One traced call into a layer: name, wall interval, the span that
  * caused it (-1 for a root) and the run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task counters of one stage. */
final class StageCounters {
  var tasks = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
}

/** Collects job starts (with the submitting thread's span property) and
  * per-stage task counters. Attribution to spans happens in [[Tracer]]
  * after the bus is drained. */
final class SpanListener extends SparkListener {
  /** (span property or -1, submission time ms, stage ids), in job order */
  val jobs = mutable.ArrayBuffer[(Int, Long, Seq[Int])]()
  val stages = mutable.Map[Int, StageCounters]()

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val p = Option(j.properties).flatMap(ps => Option(ps.getProperty(Tracer.Key)))
    jobs += ((p.map(_.toInt).getOrElse(-1), j.time, j.stageIds))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val c = stages.getOrElseUpdate(t.stageId, new StageCounters)
    c.tasks += 1
    c.taskMs += t.taskInfo.duration
    val m = t.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }
}

/** Span recorder for the traced run. Disabled, `span` only runs its
  * body, so the untraced passes execute the same code. Spans are kept in
  * memory and written once, at exit.
  *
  * A job is charged to the span named by its job-local property when
  * it was submitted inside that span's interval. Otherwise (a job from a
  * pooled driver thread, whose inherited property can be stale or
  * absent) it is charged to the innermost span open at its submission
  * time. A stage is charged to the span of the first job that lists it. */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  private var recording = enabled

  /** Runs `body` with span recording off: the untraced half of a traced
    * run, for the tracing-overhead comparison. */
  def untraced[A](body: => A): A = {
    val was = recording
    recording = false
    try body finally recording = was
  }

  def span[A](name: String)(body: => A): A =
    if (!recording) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        runId, System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Tracer.Key, prev)
      }
    }

  private def covers(s: Span, ms: Long): Boolean = s.startMs <= ms && ms <= s.endMs

  /** span id -> (jobs, stage counters) */
  private def attribute(): Map[Int, (Int, Seq[StageCounters])] = listener.synchronized {
    val stageSpan = mutable.LinkedHashMap[Int, Int]()
    val jobCount = mutable.Map[Int, Int]().withDefaultValue(0)
    for ((prop, ms, stageIds) <- listener.jobs) {
      val byProp = spans.lift(prop).filter(covers(_, ms))
      // innermost = latest-started span covering the submission time
      val owner = byProp.orElse(spans.filter(covers(_, ms)).lastOption)
      owner.foreach { s =>
        jobCount(s.id) += 1
        stageIds.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = s.id)
      }
    }
    spans.map { s =>
      val st = stageSpan.collect { case (stage, id) if id == s.id => stage }
        .flatMap(listener.stages.get).toSeq
      s.id -> (jobCount(s.id), st)
    }.toMap
  }

  /** Per-span-name counters over every recorded instance of the span:
    * `.s` is the median instance wall time; `.jobs`, `.tasks`,
    * `.shuffle_mb` (shuffle bytes written) and `.spill_mb` (bytes spilled
    * to disk) are means per instance; `.core_util` is task run time over
    * (wall x cores); `.skew` is the median over instances of max / median
    * task time in the instance's largest stage (by summed task time). */
  def layerMetrics(cores: Int): Map[String, Double] = {
    Bridge.drainListenerBus(sc)
    val byId = attribute()
    spans.groupBy(_.name).flatMap { case (name, inst) =>
      val n = inst.size.toDouble
      val per = inst.map(s => byId(s.id))
      val stagesOf = per.map(_._2)
      def total(f: StageCounters => Long): Double = stagesOf.map(_.map(f).sum).sum.toDouble
      val wallMs = inst.map(_.seconds * 1000).sum
      val skews = stagesOf.map { sts =>
        if (sts.isEmpty) 1.0
        else {
          val ms = sts.maxBy(_.taskMs.sum).taskMs.sorted
          val med = Stats.median(ms.map(_.toDouble).toSeq)
          if (med <= 0) 1.0 else ms.last / med
        }
      }
      Map(
        s"$name.s" -> Stats.median(inst.map(_.seconds).toSeq),
        s"$name.jobs" -> per.map(_._1).sum / n,
        s"$name.tasks" -> total(_.tasks) / n,
        s"$name.core_util" -> (if (wallMs <= 0) 0.0 else total(_.runMs) / (wallMs * cores)),
        s"$name.shuffle_mb" -> total(_.shuffleWriteBytes) / n / 1e6,
        s"$name.spill_mb" -> total(_.spillBytes) / n / 1e6,
        s"$name.skew" -> Stats.median(skews.toSeq))
    }
  }

  /** Every span as one JSON line. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""run": "${s.runId}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  final val Key = "perfbench.span"
}
