package graft.grid

import graft.core.Quant
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Splat-gridding: the Spark re-expression of the reference's
 * point -> raster accumulation (pubgeo `src/common/orthoimage.h:372-420`,
 * operator A1 in SURVEY.md §2.3).
 *
 * Reference semantics: each point lands in pixel (px, py) and splats into
 * the 2x2 block [px..px+1] x [py..py+1]; per pixel the MAX (DSM) or MIN
 * (MIN grid) of the quantized z survives; absent pixels are void.
 *
 * Spark-first design: the dense raster becomes a sparse long table of
 * cells `(gx, gy, v)`. The splat is a 4-way `explode` (a Generator, no
 * shuffle), the accumulation a hash aggregate with map-side partial
 * combine — at 100 TB this is one shuffle keyed by (gx, gy), and AQE
 * coalesces/splits post-shuffle partitions. No driver-side state.
 *
 * That is the path for grids above the dense gate and for callers with
 * no lattice bounds (the queries, the flagship). SHR3D and ALIGN3D
 * grids below the gate fold their points straight into the lattice
 * instead (`DenseGrid.accumulate`, the same rows), in the task of the
 * product chain that consumes them.
 */
object Gridding {

  /** World grid used by the standard queries: 0.5-degree pixels anchored
    * at (-180, -85) — matches the geocode's lat range so no clipping is
    * required (the reference clips at the raster edge instead). */
  final case class GridSpec(lon0: Double = -180.0, lat0: Double = -85.0, gsd: Double = 0.5)
  final val WorldGrid: GridSpec = GridSpec()

  /** Adds base pixel (bx, by) and quantized elevation qz to a DataFrame
    * with lon/lat/z columns. */
  def points(df: DataFrame, spec: GridSpec = WorldGrid): DataFrame =
    df.withColumn("bx", floor((col("lon") - lit(spec.lon0)) / lit(spec.gsd)).cast("long"))
      .withColumn("by", floor((col("lat") - lit(spec.lat0)) / lit(spec.gsd)).cast("long"))
      .withColumn("qz", Quant.q(col("z")))

  /** 2x2 splat (orthoimage.h:400-409): one input row -> 4 grid rows. */
  def splat2x2(pts: DataFrame): DataFrame = {
    val offsets = array(
      struct(lit(0L).as("dx"), lit(0L).as("dy")),
      struct(lit(0L).as("dx"), lit(1L).as("dy")),
      struct(lit(1L).as("dx"), lit(0L).as("dy")),
      struct(lit(1L).as("dx"), lit(1L).as("dy")))
    pts.select(col("*"), explode(offsets).as("sp"))
      .withColumn("gx", col("bx") + col("sp.dx"))
      .withColumn("gy", col("by") + col("sp.dy"))
      .drop("sp")
  }

  /** DSM: per-cell max of quantized z over the splatted points.
    *
    * max commutes with the splat, so the plan aggregates the raw points
    * per BASE cell first (map-side partial combine collapses the point
    * count to <= #occupied cells before any shuffle), then splats the
    * aggregated cells 4x and re-aggregates — identical result, 4x less
    * explode fan-out and a shuffle bounded by grid size, not input size. */
  def dsm(pts: DataFrame): DataFrame = aggThenSplat(pts, max)

  /** MIN grid: per-cell min (pubgeo `orthoimage.h:394-398` mode MIN). */
  def minGrid(pts: DataFrame): DataFrame = aggThenSplat(pts, min)

  private def aggThenSplat(pts: DataFrame,
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val base = pts.groupBy("bx", "by").agg(f(col("qz")).as("qz"))
    splat2x2(base).groupBy("gx", "gy").agg(f(col("qz")).as("v"))
  }

  /** Exact per-cell median, upper-middle convention `sorted[n/2]`
    * (pubgeo A8/A9, `src/align3d/align3d.cpp:87`). Exactness requires a
    * real sort per group — `approx_percentile` is NOT acceptable
    * (SURVEY.md §2.3 A8). Cell populations are bounded by the splat
    * fan-out, so collect_list per cell is safe. */
  def medianGrid(pts: DataFrame): DataFrame =
    splat2x2(pts).groupBy("gx", "gy")
      .agg(element_at(
        sort_array(collect_list(col("qz"))),
        (floor(count(lit(1)) / 2) + 1).cast("int")).as("v"))

  /** Grid zip J1 (pubgeo `orthoimage.h:612-647`): cell-wise a - b with
    * unsigned clamp at 0. Both sides share the (gx, gy) partitioning, so
    * after the aggregations this is a co-partitioned join. */
  def zipSubClamp(a: DataFrame, b: DataFrame): DataFrame =
    a.withColumnRenamed("v", "va")
      .join(b.withColumnRenamed("v", "vb"), Seq("gx", "gy"))
      .select(col("gx"), col("gy"),
        greatest(lit(0L), col("va") - col("vb")).as("v"))

  // ---- DuckDB-SQL duals ----------------------------------------------

  def bxSql(lon: String, spec: GridSpec = WorldGrid): String =
    s"CAST(floor((($lon) - (${spec.lon0})) / ${spec.gsd}) AS BIGINT)"

  def bySql(lat: String, spec: GridSpec = WorldGrid): String =
    s"CAST(floor((($lat) - (${spec.lat0})) / ${spec.gsd}) AS BIGINT)"

  /** CTE fragment: documents -> splatted (doc_id, qz, gx, gy). */
  def splatCte: String = splatCte(WorldGrid)

  def splatCte(spec: GridSpec): String = {
    import graft.core.Geo
    s"""pts AS (SELECT doc_id, ${Geo.lonSql("doc_id")} AS lon,
       |  ${Geo.latSql("doc_id")} AS lat, ${Geo.zSql("doc_id")} AS z FROM documents),
       |base AS (SELECT doc_id, ${Quant.qSql("z")} AS qz,
       |  ${bxSql("lon", spec)} AS bx, ${bySql("lat", spec)} AS by FROM pts),
       |splat AS (SELECT doc_id, qz, bx + dx AS gx, by + dy AS gy
       |  FROM base CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) sp(dx, dy))""".stripMargin
  }

  /** Cell-lattice bounds for a spec (with +2 slack for the 2x2 splat). */
  def boundsFor(spec: GridSpec): (Int, Int) =
    (math.ceil(360.0 / spec.gsd).toInt + 2, math.ceil(170.0 / spec.gsd).toInt + 2)
}
