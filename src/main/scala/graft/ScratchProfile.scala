package graft
import graft.api.Flagship
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc plan/stage profiler (not part of the driver contract).
  * `runMain graft.ScratchProfile [plans|minhash]` */
object ScratchProfile {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("plans")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules", graft.core.SessionDefaults.ExcludedOptimizerRules)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"===== $name =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(j.stageIds.size)
        }
      })
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val (j0, s0) = (jobs.get(), stages.get())
      val n = f
      // job/stage counts come from the async listener: drain it first
      org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark.sparkContext)
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s  (n=$n, " +
        s"jobs=${jobs.get() - j0}, stages=${stages.get() - s0})")
    }
    mode match {
      case "q" =>
        // generic: SPARK_GRAFT_PROFILE_QUERIES=q_a,q_b [SPARK_GRAFT_SF_DIR=...]
        // prints the formatted plan and 3 timed runs per query
        val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        graft.queries.SideTables.setTokenFromSfDir(dir)
        val names = sys.env.getOrElse("SPARK_GRAFT_PROFILE_QUERIES", "")
          .split(",").filter(_.nonEmpty)
        names.foreach { n =>
          show(n, SparkEntry.queries(n)(spark, dir))
          (1 to 3).foreach { i =>
            time(s"$n $i")(SparkEntry.queries(n)(spark, dir).count())
            // bench hygiene: drop the query's localCheckpoint blocks so
            // position in the list stops confounding later readings
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(blocking = false))
            spark.catalog.clearCache()
          }
        }
      case "ccab" =>
        // A/B the CC label strategies (dense single-task vs tiled
        // distributed) on the q_cc_labels input
        val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        import graft.cc.ConnectedComponents
        import graft.grid.Gridding
        import graft.stencil.TileStencil.Bounds
        val (w, h) = Gridding.boundsFor(Gridding.WorldGrid)
        def subset = Gridding.dsm(Gridding.points(
          graft.core.Geo.withGeo(graft.core.Tables.documents(spark, dir)
            .filter(col("doc_id") < 150))))
        def hygiene(): Unit = {
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          spark.catalog.clearCache()
        }
        (1 to 4).foreach { i =>
          time(s"dense $i")(ConnectedComponents.label(subset, Bounds(w, h),
            tileSize = 16).orderBy(col("gx"), col("gy")).count()); hygiene()
        }
        (1 to 4).foreach { i =>
          time(s"tiled $i")(ConnectedComponents.label(subset, Bounds(w, h),
            tileSize = 16, denseThreshold = 0L)
            .orderBy(col("gx"), col("gy")).count()); hygiene()
        }
        (1 to 2).foreach { i =>
          time(s"input only $i")(subset.count()); hygiene()
        }
      case "alignstats" =>
        // the align offset-stats plan (the distributed part of both
        // align queries; their returned DFs are post-collect literals)
        val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        val cfg = graft.align.Align3d.Config(gsd = 120.0, maxT = 360.0,
          numSamples = 2000, maxDzMeters = 25.0)
        val pts = graft.core.Geo.withGeo(graft.core.Tables.documents(spark, dir))
          .select((col("lon") * 10.0).as("x"), (col("lat") * 10.0).as("y"), col("z"))
        val tgt = pts.select((col("x") + 240.0).as("x"), (col("y") - 120.0).as("y"),
          (col("z") + 0.5).as("z"))
        val t0 = System.nanoTime()
        val st = graft.align.Align3d.stage(spark, pts, tgt, cfg)
        val stats = graft.align.Align3d.offsetStats(st, cfg)
        show("align_offset_stats", stats)
        println(f"stage+plan wall ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        (1 to 3).foreach { i =>
          val t1 = System.nanoTime()
          val st2 = graft.align.Align3d.stage(spark, pts, tgt, cfg)
          val n = graft.align.Align3d.offsetStats(st2, cfg).count()
          println(f"align stats run $i ${(System.nanoTime() - t1) / 1e9}%8.3f s (n=$n)")
          st2.refDsm.unpersist(); st2.tgtDsm.unpersist()
        }
        st.refDsm.unpersist(); st.tgtDsm.unpersist()
      case "fill" =>
        val dir = "/root/testdata/sf0.1"
        (1 to 4).foreach(i =>
          time(s"q_fill_enclosed $i")(
            SparkEntry.queries("q_fill_enclosed")(spark, dir).count()))
        (1 to 3).foreach(i =>
          time(s"q_fill_pyramid $i")(
            SparkEntry.queries("q_fill_pyramid")(spark, dir).count()))
      case "minhash" =>
        val dir = "/root/testdata/sf0.1"
        val docs = graft.core.Tables.documents(spark, dir)
        time("docs scan")(docs.count())
        val sh3 = graft.text.TextOps.shingles3(docs)
        time("shingles3 arrays")(sh3.count())
        val exploded = sh3.select(col("doc_id"), explode(col("shingles")).as("s"))
        time("explode")(exploded.count())
        val hashed = exploded.withColumn("hv",
          graft.text.TextOps.hexToLong(md5(col("s")), 8))
        time("md5+conv")(hashed.agg(sum("hv")).count())
        (1 to 6).foreach(i =>
          time(s"full minhash $i")(graft.dedup.Dedup.minhashSignatures(docs).count()))
        (1 to 3).foreach(i =>
          time(s"explode $i")(sh3.select(col("doc_id"),
            explode(col("shingles")).as("s")).count()))
        (1 to 3).foreach(i =>
          time(s"md5 only $i")(exploded.select(md5(col("s"))).count()))
        show("minhash plan", graft.dedup.Dedup.minhashSignatures(docs))
      case _ =>
        val dir = "/root/testdata/sf0.01"
        show("q3_top_revenue", SparkEntry.queries("q3_top_revenue")(spark, dir))
        show("q_pip_join", SparkEntry.queries("q_pip_join")(spark, dir))
        show("q_dsm_grid", SparkEntry.queries("q_dsm_grid")(spark, dir))
        val staged = Flagship.stageInput(spark, 100000)
        show("flagship", Flagship.geocodedFromParquet(spark, staged))
    }
    spark.stop()
  }
}
