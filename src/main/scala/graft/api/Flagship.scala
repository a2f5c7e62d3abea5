package graft.api

import graft.grid.Gridding
import graft.index.CellFunctions
import graft.ingest.WebPages
import graft.join.{Aoi, SpatialJoins}
import graft.meta.FileStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * The BASELINE.md benchmark pipeline (the authoritative metric's job):
 * Common-Crawl-shaped pages -> url-dedup (latest capture) -> geocode ->
 * H3/S2 cell encode -> point-in-polygon join vs the AOI set -> DSM
 * max-grid -> count + checksum sinks.
 *
 * Scale shape: one generation scan (stands in for the 100 TB parquet
 * scan; html/text are dropped immediately after the dedup tie-break so
 * the shuffle carries ~60 bytes/row), ONE wide shuffle for the dedup
 * window, a broadcast PIP join (no point shuffle), and one hash
 * aggregate for the grid (map-side partial combine). The persisted
 * intermediate avoids re-generating for the two sinks.
 */
object Flagship {

  final case class FlagshipResult(
      docs: Long, dedupedDocs: Long, pipHits: Long, gridCells: Long,
      gridChecksum: Long, keptContentChecksum: Long, seconds: Double)

  /** Stage the generated table as parquet once (the stand-in for the
    * Iceberg Common-Crawl table); timed runs only read it. */
  def stageInput(spark: SparkSession, nDocs: Long, seed: Long = 42L): String = {
    val path = s"/tmp/graft_bench_pages_${seed}_$nDocs"
    val success = java.nio.file.Paths.get(path, "_SUCCESS")
    if (!java.nio.file.Files.exists(success)) {
      // 64 files so any local[N] (N <= 64) gets full scan parallelism
      WebPages.generate(spark, nDocs, seed).toDF()
        .repartition(64)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** The geocoded pages of a staged parquet directory. The schema comes
    * from one footer on the driver, so planning runs no Spark job. */
  def geocodedFromParquet(spark: SparkSession, path: String): DataFrame =
    geocodedFrom(spark.read.schema(FileStats.schema(spark, path)).parquet(path))

  def geocoded(spark: SparkSession, nDocs: Long): DataFrame =
    geocodedFrom(WebPages.generate(spark, nDocs).toDF())

  private[graft] def geocodedFrom(pagesIn: DataFrame): DataFrame = {
    // content hash = xxhash64, not md5: both are engine-internal dedup
    // tie-breaks, but xxhash64 is whole-stage-codegen'd and ~10x faster
    // over the ~3 KB text payloads that dominate this scan (the hash is
    // the flagship's hottest expression)
    val pages = pagesIn
      .select(col("url"), col("warc_ts"), xxhash64(col("text")).as("th"))
    // latest-capture dedup as a hash aggregate (max_by on the
    // (warc_ts, content-hash) struct): map-side partial combine means the
    // shuffle carries one candidate per (url, input partition) instead of
    // every capture — and no sort, unlike the row_number window form.
    val deduped = pages
      .groupBy(col("url"))
      .agg(max(struct(col("warc_ts"), col("th"))).as("latest"))
      .select(col("url"), col("latest.th").as("kept_hash"))
    deduped
      .withColumn("h", abs(xxhash64(col("url"))))
      .withColumn("lon", (col("h") % 360000L) / lit(1000.0) - lit(180.0))
      .withColumn("lat", (col("h") / 360000L % 170000L) / lit(1000.0) - lit(85.0))
      .withColumn("z", (col("h") / 61200000000L % 20000L) / lit(1000.0))
      .withColumn("doc_id", xxhash64(col("url")))
      .withColumn("cell", CellFunctions.cellId(col("lon"), col("lat"), 10))
      // kept_hash stays in the output: the deduped CONTENT is the
      // pipeline's product, so Catalyst cannot prune text/warc_ts out of
      // the scan and rewrite the max_by into a bare DISTINCT (it does
      // exactly that if kept_hash is dropped here — measured and kept as
      // a regression guard in FlagshipSpec).
      .select(col("doc_id"), col("lon"), col("lat"), col("z"), col("cell"),
        col("kept_hash"))
  }

  def run(spark: SparkSession, nDocs: Long): FlagshipResult = {
    val path = stageInput(spark, nDocs)
    // per-stage wall times to stderr (diagnostic only, never in the JSON)
    val trace = sys.env.get("SPARK_GRAFT_FLAGSHIP_TRACE").contains("1")
    def traced[A](label: String)(body: => A): A =
      if (!trace) body
      else {
        val s0 = System.nanoTime()
        val r = body
        System.err.println(
          f"FLAGSHIP TRACE $label: ${(System.nanoTime() - s0) / 1e9}%.3f s")
        r
      }
    val t0 = System.nanoTime()
    val geo = geocodedFromParquet(spark, path).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val kept = traced("dedup+persist+keptAgg") {
        geo.agg(count(lit(1)).as("n"),
          // exact mod-prime sum: order-free, never overflows at 10^12 rows
          sum(pmod(col("kept_hash"), lit(1000000007L))).as("ksum"))
          .head()
      }
      // PIP hit count and DSM cells/checksum in ONE action: both consume
      // the now-materialized cache, and a union of their one-row
      // aggregates halves the driver-side constant cost (plan + schedule
      // + broadcast rounds) that the 2-vs-8-core efficiency ratio is most
      // sensitive to — it is the part of the wall time that does NOT
      // shrink with cores. Values are bit-identical to the separate
      // actions (FlagshipSpec pins pip_hits/grid_cells/checksum).
      val tail = traced("pipJoin+dsmGrid") {
        val pipRow = SpatialJoins.pipJoin(geo, Aoi.defs)
          .agg(count(lit(1)).as("a"), lit(0L).as("b"))
          .select(lit("pip").as("k"), col("a"), col("b"))
        val dsmRow = Gridding.dsm(Gridding.points(geo))
          .agg(count(lit(1)).as("a"), sum(col("v")).as("b"))
          .select(lit("dsm").as("k"), col("a"), col("b"))
        pipRow.unionAll(dsmRow).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      }
      val secs = (System.nanoTime() - t0) / 1e9
      FlagshipResult(nDocs, kept.getLong(0), tail("pip")._1, tail("dsm")._1,
        tail("dsm")._2, kept.getLong(1), secs)
    } finally { geo.unpersist(blocking = true); () }
  }
}
