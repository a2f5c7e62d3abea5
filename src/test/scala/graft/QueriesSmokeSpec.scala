package graft

import graft.index.{CellFunctions, Cells}
import org.apache.spark.sql.functions._

/** Every registered query runs and returns rows on the smoke SF; the
  * codegen'd cell expression agrees with the Scala model; results are
  * identical at different parallelism (the north rule's determinism
  * requirement, tested cheaply here and at scale in the bench). */
class QueriesSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.defs.foreach { d =>
    test(s"${d.name} runs and returns rows") {
      val df = d.run(spark, sfSmoke)
      assert(df.count() > 0)
    }
  }

  test("SideTables.stage writes one file and reads back exactly its rows") {
    import graft.queries.SideTables
    val dir = java.nio.file.Files.createTempDirectory("graft-stage")
      .resolve("t").toString
    val df = spark.range(0L, 1000L, 1L, 7)
      .select(col("id"), (col("id") % 13).as("k"), col("id").cast("string").as("s"))
    assert(df.rdd.getNumPartitions == 7)
    val back = SideTables.stage(df, dir)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    assert(back.schema == spark.read.parquet(dir).schema)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) == 1)
    val small = df.filter(col("id") < 10)
    SideTables.stage(small, dir)
    val reread = spark.read.parquet(dir)
    assert(reread.exceptAll(small).isEmpty && small.exceptAll(reread).isEmpty)
  }

  test("cell expression matches Scala model") {
    import spark.implicits._
    val pts = Seq.tabulate(500) { i =>
      val lon = (i * 16807 % 360000) / 1000.0 - 180.0
      val lat = (i * 48271 % 170000) / 1000.0 - 85.0
      (lon, lat)
    }
    val got = pts.toDF("lon", "lat")
      .withColumn("cell", CellFunctions.cellId(col("lon"), col("lat"), 10))
      .select("cell").as[Long].collect().toSeq
    val want = pts.map { case (lon, lat) => Cells.encode(lon, lat, 10) }
    assert(got == want)
  }

  test("cellParent column matches Cells.parent") {
    import spark.implicits._
    val cells = Seq.tabulate(200)(i =>
      Cells.encode((i * 131 % 360) - 180.0 + 0.5, (i * 37 % 170) - 85.0 + 0.25, 12))
    val got = cells.toDF("cell")
      .withColumn("p", CellFunctions.cellParent(col("cell"), 3))
      .select("p").as[Long].collect().toSeq
    assert(got == cells.map(Cells.parent(_, 3)))
  }

  test("dsm grid identical at local[2] vs current parallelism") {
    val a = SparkEntry.queries("q_dsm_grid")(spark, sfSmoke)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q_dsm_grid")(spark, sfSmoke)
      .repartition(13).sort("gx", "gy") // force a different physical shuffle
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
