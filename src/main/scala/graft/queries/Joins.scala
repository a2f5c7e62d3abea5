package graft.queries

import graft.core.{Geo, Tables}
import graft.join.{Aoi, SpatialJoins}
import org.apache.spark.sql.functions._

/** North-rule spatial joins (SURVEY.md §2.4 J4/J5) with brute-force
  * DuckDB oracles. */
object Joins {

  private val ptsCte =
    s"""pts AS (SELECT doc_id, ${Geo.lonSql("doc_id")} AS lon,
       |  ${Geo.latSql("doc_id")} AS lat FROM documents)""".stripMargin

  /** Point-in-polygon join against the built-in AOI set. The oracle is
    * per-AOI strict inequalities / cross-product sign tests; the engine
    * is the generic cell-candidate + JTS path — results must agree
    * exactly (AOI vertices are chosen off the doc coordinate lattice). */
  val q_pip_join: QueryDef = QueryDef.sqlChecked(
    "q_pip_join",
    s"""WITH $ptsCte
       |SELECT aoi_id, doc_id FROM (
       |${Aoi.oracleHitsSql}
       |) hits ORDER BY aoi_id, doc_id""".stripMargin) { (s, dir) =>
    val pts = Geo.withGeo(Tables.documents(s, dir)).select("doc_id", "lon", "lat")
    SpatialJoins.pipJoin(pts, Aoi.defs)
      .select(col("aoi_id"), col("doc_id"))
      .orderBy(col("aoi_id"), col("doc_id"))
  }

  /** kNN join: 8 fixed query points, k=5, vs brute force in SQL. */
  val q_knn_join: QueryDef = {
    val qs = SpatialJoins.DefaultKnnQueries
    val valuesSql = qs.map(q => s"(${q.qid}, ${q.qlon}, ${q.qlat})").mkString(", ")
    QueryDef.sqlChecked(
      "q_knn_join",
      s"""WITH $ptsCte,
         |q(qid, qlon, qlat) AS (VALUES $valuesSql),
         |d AS (SELECT qid, doc_id,
         |  (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat) AS d2
         |  FROM pts CROSS JOIN q)
         |SELECT qid, doc_id, d2, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, doc_id) AS rn
         |  FROM d) t
         |WHERE rn <= 5 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      val pts = Geo.withGeo(Tables.documents(s, dir)).select("doc_id", "lon", "lat")
      SpatialJoins.knnJoin(s, pts, qs, k = 5)
    }
  }

  /** Radius join: every (query, doc) pair within 8 coordinate degrees,
    * vs the brute-force cross-join filter. d2 is the same
    * subtract-square-add expression on both sides, so the doubles are
    * bit-identical. */
  val q_radius_join: QueryDef = {
    val qs = SpatialJoins.DefaultKnnQueries
    val radius = 8.0
    val valuesSql = qs.map(q => s"(${q.qid}, ${q.qlon}, ${q.qlat})").mkString(", ")
    QueryDef.sqlChecked(
      "q_radius_join",
      s"""WITH $ptsCte,
         |q(qid, qlon, qlat) AS (VALUES $valuesSql)
         |SELECT qid, doc_id,
         |  (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat) AS d2
         |FROM pts CROSS JOIN q
         |WHERE (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat)
         |  <= ${radius * radius}
         |ORDER BY qid, doc_id""".stripMargin) { (s, dir) =>
      val pts = Geo.withGeo(Tables.documents(s, dir)).select("doc_id", "lon", "lat")
      SpatialJoins.radiusJoin(pts, qs, radius)
        .select(col("qid"), col("doc_id"), col("d2"))
        .orderBy(col("qid"), col("doc_id"))
    }
  }

  /** PIP with the polygon table as a DataFrame and a SHUFFLE candidate
    * join (the large-AOI-set plan shape — see
    * [[SpatialJoins.pipJoinLarge]]); must equal the broadcast path and
    * the strict-predicate dual exactly. */
  val q_pip_large: QueryDef = QueryDef.sqlChecked(
    "q_pip_large",
    s"""WITH $ptsCte
       |SELECT aoi_id, doc_id FROM (
       |${Aoi.oracleHitsSql}
       |) hits ORDER BY aoi_id, doc_id""".stripMargin) { (s, dir) =>
    val pts = Geo.withGeo(Tables.documents(s, dir)).select("doc_id", "lon", "lat")
    SpatialJoins.pipJoinLarge(pts, Aoi.df(s))
      .select(col("aoi_id"), col("doc_id"))
      .orderBy(col("aoi_id"), col("doc_id"))
  }

  /** Zonal statistics: per AOI polygon, count/min/max/sum of the DSM
    * cells it covers — raster⟷vector composed end to end (burn the
    * polygons, grid the points, co-partitioned cell join, aggregate).
    * The dual burns via the strict center predicates (centers at
    * x.25/x.75 never hit the .0005 AOI boundaries) and recomputes the
    * DSM from the raw documents. */
  val q_zonal_stats: QueryDef = QueryDef.sqlChecked(
    "q_zonal_stats",
    s"""WITH ${graft.grid.Gridding.splatCte},
       |g AS (SELECT gx, gy, max(qz) AS v FROM splat GROUP BY gx, gy),
       |lattice AS (
       |  SELECT x.range AS gx, y.range AS gy,
       |    -180.0 + (x.range + 0.5) * 0.5 AS lon,
       |    -85.0 + (y.range + 0.5) * 0.5 AS lat
       |  FROM range(0, 722) x, range(0, 342) y),
       |burn AS (
       |${Aoi.defs.map(a =>
            s"SELECT ${a.aoiId} AS aoi_id, gx, gy FROM lattice WHERE ${a.oracleSqlPredicate}")
           .mkString("\nUNION ALL\n")})
       |SELECT aoi_id, count(*) AS n_cells, min(v) AS min_v, max(v) AS max_v,
       |  CAST(sum(v) AS BIGINT) AS sum_v
       |FROM burn JOIN g USING (gx, gy)
       |GROUP BY aoi_id ORDER BY aoi_id""".stripMargin) { (s, dir) =>
    val dsm = graft.grid.Gridding.dsm(
      graft.grid.Gridding.points(Geo.withGeo(Tables.documents(s, dir))))
    val zones = graft.vector.Rasterize.geo(s,
      Aoi.defs.map(a => (a.aoiId.toLong, a.wkt)), -180.0, -85.0, 0.5)
    SpatialJoins.zonalStats(dsm, zones.select("id", "gx", "gy"))
      .select(col("id").cast("int").as("aoi_id"), col("n_cells"),
        col("min_v"), col("max_v"), col("sum_v"))
      .orderBy(col("aoi_id"))
  }

  /** Vector -> raster: burn the AOI set onto the world grid (cell
    * centers at x.25/x.75 degrees never hit the .0005-offset AOI
    * boundaries, so JTS covers == the strict SQL predicates). */
  val q_rasterize_aoi: QueryDef = QueryDef.sqlChecked(
    "q_rasterize_aoi",
    s"""WITH lattice AS (
       |  SELECT x.range AS gx, y.range AS gy,
       |    -180.0 + (x.range + 0.5) * 0.5 AS lon,
       |    -85.0 + (y.range + 0.5) * 0.5 AS lat
       |  FROM range(0, 722) x, range(0, 342) y),
       |pts AS (SELECT gx AS doc_id, lon, lat, gx, gy FROM lattice)
       |SELECT aoi_id, gx, gy FROM (
       |${Aoi.defs.map(a =>
            s"SELECT ${a.aoiId} AS aoi_id, gx, gy FROM pts WHERE ${a.oracleSqlPredicate}")
           .mkString("\nUNION ALL\n")}
       |) hits ORDER BY aoi_id, gx, gy""".stripMargin) { (s, dir) =>
    graft.vector.Rasterize.geo(s,
        Aoi.defs.map(a => (a.aoiId.toLong, a.wkt)), -180.0, -85.0, 0.5)
      .select(col("id").cast("int").as("aoi_id"), col("gx"), col("gy"))
      .orderBy(col("aoi_id"), col("gx"), col("gy"))
  }

  /** J4 as a REAL stream (§2.12 x §2.4): the documents table is staged
    * into a file-source directory, streamed through
    * `StreamOps.pipEnrich` (stream-static broadcast cell join + exact
    * JTS test, stateless — no watermark or state store), and the
    * append-mode memory sink is aggregated per AOI afterwards. The dual
    * replays the strict SQL predicates batch-side, so the check pins
    * that streaming emission neither loses nor duplicates a hit:
    * (n, id_sum) per AOI is bit-exact against the batch semantics. */
  val q_stream_pip: QueryDef = QueryDef.sqlChecked(
    "q_stream_pip",
    s"""WITH $ptsCte
       |SELECT aoi_id, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum FROM (
       |${Aoi.oracleHitsSql}
       |) hits GROUP BY aoi_id ORDER BY aoi_id""".stripMargin) { (s, dir) =>
    val pts = Geo.withGeo(QueryDef.streamSource(s, QueryDef.streamInput(dir, "documents")))
      .select("doc_id", "lon", "lat")
    val hits = graft.streaming.StreamOps.pipEnrich(pts)
    QueryDef.streamToMemory(hits, "stream_pip_out").groupBy(col("aoi_id"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("aoi_id"))
  }

  /** Stream-STREAM interval join as a REAL streaming run: view events
    * join click events of the same user within 600 s, both sides
    * file-source streams with watermarks, state evicted by the range
    * condition (see `StreamOps.intervalJoin`). The DuckDB dual replays
    * the interval join batch-side; `lag_sec` subtracts epoch doubles in
    * both engines (micros/1e6, identical IEEE op), so the check pins
    * that stream-stream buffering neither loses nor duplicates a pair. */
  val q_stream_join: QueryDef = QueryDef.sqlChecked(
    "q_stream_join",
    """WITH v AS (SELECT user_id, event_id AS view_id, ts AS vts
      |  FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, event_id AS click_id, ts AS cts
      |  FROM events WHERE event_type = 'click')
      |SELECT v.user_id, v.view_id, c.click_id,
      |  epoch(c.cts) - epoch(v.vts) AS lag_sec
      |FROM v JOIN c ON c.user_id = v.user_id
      |  AND c.cts >= v.vts AND c.cts <= v.vts + INTERVAL 600 SECOND
      |ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val events = QueryDef.streamInput(dir, "events")
    def src() = QueryDef.streamSource(s, events)
    // ts is TIMESTAMP_NTZ; session TZ is UTC so the cast matches epoch()
    val views = src().filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").cast("timestamp").as("vts"))
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").cast("timestamp").as("cts"))
    val joined = graft.streaming.StreamOps.intervalJoin(
        views, clicks, "user_id", "c_user_id", "vts", "cts",
        withinSec = 600, watermark = "1 hour")
      .select(col("user_id"), col("view_id"), col("click_id"),
        (col("cts").cast("double") - col("vts").cast("double")).as("lag_sec"))
    QueryDef.streamToMemory(joined, "stream_join_out")
      .orderBy(col("user_id"), col("view_id"), col("click_id"))
  }

  val all: Seq[QueryDef] =
    Seq(q_pip_join, q_pip_large, q_knn_join, q_radius_join, q_zonal_stats,
      q_rasterize_aoi, q_stream_pip, q_stream_join, q_zonal_mode)

  /** Zonal majority ([[SpatialJoins.zonalMode]]): per AOI polygon, the
    * most frequent 10-meter elevation band of the DSM cells it covers
    * — (count desc, band asc) tie-break via one `max_by` over the
    * (zone, band) count table; the dual replays the vote with a
    * row_number window. */
  lazy val q_zonal_mode: QueryDef = QueryDef.sqlChecked(
    "q_zonal_mode",
    s"""WITH ${graft.grid.Gridding.splatCte},
       |g AS (SELECT gx, gy, max(qz) // 20000 AS v FROM splat
       |  GROUP BY gx, gy),
       |lattice AS (
       |  SELECT x.range AS gx, y.range AS gy,
       |    -180.0 + (x.range + 0.5) * 0.5 AS lon,
       |    -85.0 + (y.range + 0.5) * 0.5 AS lat
       |  FROM range(0, 722) x, range(0, 342) y),
       |burn AS (
       |${Aoi.defs.map(a =>
          s"SELECT ${a.aoiId} AS aoi_id, gx, gy FROM lattice WHERE ${a.oracleSqlPredicate}")
         .mkString("\nUNION ALL\n")}),
       |cnts AS (SELECT aoi_id, v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM burn JOIN g USING (gx, gy) GROUP BY aoi_id, v),
       |r AS (SELECT aoi_id, v, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY aoi_id) AS BIGINT) AS n_cells,
       |    row_number() OVER (PARTITION BY aoi_id
       |                       ORDER BY cnt DESC, v) AS rn
       |  FROM cnts)
       |SELECT aoi_id, v AS mode_v, cnt AS mode_n, n_cells
       |FROM r WHERE rn = 1 ORDER BY aoi_id""".stripMargin) { (s, dir) =>
    val dsm = graft.grid.Gridding.dsm(
        graft.grid.Gridding.points(Geo.withGeo(Tables.documents(s, dir))))
      .withColumn("v", expr("v div 20000"))
    val zones = graft.vector.Rasterize.geo(s,
      Aoi.defs.map(a => (a.aoiId.toLong, a.wkt)), -180.0, -85.0, 0.5)
    SpatialJoins.zonalMode(dsm, zones.select("id", "gx", "gy"))
      .select(col("id").cast("int").as("aoi_id"), col("mode_v"),
        col("mode_n"), col("n_cells"))
      .orderBy(col("aoi_id"))
  }
}
