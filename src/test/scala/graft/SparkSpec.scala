package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        graft.core.SessionDefaults.ExcludedOptimizerRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfSmoke = "/root/testdata/sf0.001"

  /** Runs `body` with the strategy gate (`DenseGrid.ThresholdKey`) set
    * to `n` — 0 forces every distributed path, `Long.MaxValue` every
    * dense one — then restores the previous setting. Gates read it when
    * an operator builds its DataFrame, so build and collect inside. */
  def withDenseThreshold[T](n: Long)(body: => T): T =
    withConf(graft.stencil.DenseGrid.ThresholdKey, n.toString)(body)

  /** Runs `body` with the session setting `key` set to `value`, then
    * restores (or unsets) it. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Spark jobs launched inside each labelled block, run in order: a
    * listener keyed by a job-local property, read after draining the
    * listener bus (the listener is asynchronous). */
  def jobsPer(blocks: (String, () => Any)*): Map[String, Int] = {
    val sc = spark.sparkContext
    val key = "graft.test.jobBlock"
    val jobs = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        Option(j.properties).flatMap(ps => Option(ps.getProperty(key)))
          .foreach(b => jobs(b) += 1)
      }
    }
    sc.addSparkListener(listener)
    try {
      blocks.foreach { case (name, run) =>
        sc.setLocalProperty(key, name)
        try run() finally sc.setLocalProperty(key, null)
      }
      Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.synchronized(blocks.map { case (name, _) => name -> jobs(name) }.toMap)
  }
}
