package graft.queries

import graft.align.Align3d
import graft.core.{Geo, Tables}
import org.apache.spark.sql.functions._

/** ALIGN3D as driver-visible queries: the geocoded doc points are the
  * reference; the target is the same cloud with a known injected shift.
  *
  * - q_align_offset: the end-to-end result row (argmin + Newton peak
  *   step over the stats table).
  * - q_align_rms: the per-offset stats table (odx, ody, n, med, rms,
  *   complete) — the L4 walk-until-valid cap, A9 median + robust RMS,
  *   and J2/J7 probe joins.
  *
  * Both are bit-exactly oracle-checked: `stageAndStats` stages the
  * reference and target DSMs and the seeded sample list as side tables
  * ([[SideTables.stage]], one write after another on the calling
  * thread, so each job carries that thread's job-local properties), and
  * the DuckDB duals replay the stats with row_number + list_sort.
  */
object AlignQueries {

  private val cfg = Align3d.Config(gsd = 120.0, maxT = 360.0, numSamples = 2000,
    maxDzMeters = 25.0)

  private def clouds(s: org.apache.spark.sql.SparkSession, dir: String) = {
    // local metric-ish frame from a dense doc subregion
    val pts = Geo.withGeo(Tables.documents(s, dir))
      .select((col("lon") * 10.0).as("x"), (col("lat") * 10.0).as("y"), col("z"))
    // inject exactly (+2, -1) grid cells and +0.5 m
    val tgt = pts.select((col("x") + 240.0).as("x"), (col("y") - 120.0).as("y"),
      (col("z") + 0.5).as("z"))
    (pts, tgt)
  }

  /** Fixed side-table root the oracle SQL reads back (the engine query
    * overwrites it on every run, before the oracle executes). */
  final val SideRoot = SideTables.root("align_side")

  private val maxSteps = math.ceil(cfg.maxT / cfg.gsd).toInt // 3 -> 7x7 offsets

  /** WITH-body computing the per-offset stats table `stats(odx, ody, n,
    * med, rms, complete)` from the staged side-tables — shared by both
    * align duals. */
  private def statsCtes: String = {
    val n = cfg.numSamples
    val oneMeterRaw = math.floor(1.0 / graft.core.Quant.Scale)
    s"""ref AS (SELECT * FROM '$SideRoot/ref_dsm/*.parquet'),
       |tgt AS (SELECT * FROM '$SideRoot/tgt_dsm/*.parquet'),
       |smp AS (SELECT * FROM '$SideRoot/samples/*.parquet'),
       |offs AS (SELECT x.range AS odx, y.range AS ody
       |  FROM range(${-maxSteps}, ${maxSteps + 1}) x,
       |       range(${-maxSteps}, ${maxSteps + 1}) y),
       |probe AS (SELECT o.odx, o.ody, s.sid, r.rv - t.tv AS diff
       |  FROM smp s
       |  JOIN ref r ON r.gx = s.sgx AND r.gy = s.sgy
       |  CROSS JOIN offs o
       |  JOIN tgt t ON t.gx = s.sgx + o.odx AND t.gy = s.sgy + o.ody),
       |capped AS (SELECT odx, ody, diff,
       |    row_number() OVER (PARTITION BY odx, ody ORDER BY sid) AS rn
       |  FROM probe),
       |g AS (SELECT odx, ody, list_sort(list(diff)) AS arr, count(*) AS n
       |  FROM capped WHERE rn <= $n GROUP BY odx, ody
       |  HAVING count(*) >= $n),
       |m AS (SELECT odx, ody, n, arr,
       |  arr[CAST(floor(n / 2) AS INT) + 1] AS med FROM g),
       |d AS (SELECT odx, ody, n, med,
       |  list_sort(list_transform(arr, x -> abs(x - med))) AS dev FROM m),
       |stats AS (SELECT odx, ody, n, CAST(med AS BIGINT) AS med,
       |  CAST(dev[CAST(floor(n * 0.67) AS INT) + 1] AS BIGINT) AS rms,
       |  CAST(len(list_filter(dev, x -> x < $oneMeterRaw)) AS DOUBLE)
       |    / ${n.toDouble} AS complete
       |FROM d)""".stripMargin
  }

  private def stageAndStats(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val (pts, tgt) = clouds(s, dir)
    val st = Align3d.stage(s, pts, tgt, cfg)
    SideTables.stage(st.refDsm, s"$SideRoot/ref_dsm")
    SideTables.stage(st.tgtDsm, s"$SideRoot/tgt_dsm")
    SideTables.stage(st.samples, s"$SideRoot/samples")
    (st, Align3d.offsetStats(st, cfg))
  }

  /** End-to-end result row — ALSO bit-exact now: the argmin with the
    * reference tie-break and the full 2D Newton peak step are scalar
    * arithmetic over the stats CTE, replayed in SQL with the identical
    * IEEE op sequence (missing 3x3 neighbors contribute 0.0 like the
    * reference's zero-initialized rmsArray; a best cell on the search
    * border skips interpolation). */
  val q_align_offset: QueryDef = {
    val scale = "(22.0 / 65535.0)" // Quant.Scale, same double on both sides
    def f(dx: Int, dy: Int): String =
      if (dx == 0 && dy == 0) "CAST(b.rms AS DOUBLE)"
      else s"""COALESCE((SELECT CAST(s.rms AS DOUBLE) FROM stats s
              | WHERE s.odx = b.odx + $dx AND s.ody = b.ody + $dy), 0.0)""".stripMargin
    QueryDef.sqlChecked(
      "q_align_offset",
      s"""WITH ${statsCtes},
         |b AS (SELECT * FROM stats
         |  ORDER BY rms, odx * odx + ody * ody, odx, ody LIMIT 1),
         |nb AS (SELECT b.*,
         |  (${f(1, 0)} - ${f(-1, 0)}) / 2.0 AS gx,
         |  (${f(0, 1)} - ${f(0, -1)}) / 2.0 AS gy,
         |  ${f(1, 0)} + ${f(-1, 0)} - 2.0 * ${f(0, 0)} AS dxx,
         |  ${f(0, 1)} + ${f(0, -1)} - 2.0 * ${f(0, 0)} AS dyy,
         |  (${f(1, 1)} - ${f(1, -1)} - ${f(-1, 1)} + ${f(-1, -1)}) / 4.0 AS dxy
         |  FROM b),
         |pk AS (SELECT nb.*, dxx * dyy - dxy * dxy AS det FROM nb),
         |sub AS (SELECT pk.*,
         |  CASE WHEN abs(odx) = $maxSteps OR abs(ody) = $maxSteps OR det = 0.0
         |    THEN 0.0 ELSE -(dyy * gx - dxy * gy) / det END AS sx,
         |  CASE WHEN abs(odx) = $maxSteps OR abs(ody) = $maxSteps OR det = 0.0
         |    THEN 0.0 ELSE -(dxx * gy - dxy * gx) / det END AS sy
         |  FROM pk)
         |SELECT -(odx + sx) * ${cfg.gsd} AS tx,
         |  -(ody + sy) * ${cfg.gsd} AS ty,
         |  CAST(med AS DOUBLE) * $scale AS tz,
         |  CAST(rms AS DOUBLE) * $scale AS rms_m,
         |  complete AS completeness,
         |  n AS n_valid
         |FROM sub""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (st, stats) = stageAndStats(s, dir)
      val rows = stats.collect()
      st.refDsm.unpersist(); st.tgtDsm.unpersist()
      val res = Align3d.resultFromStats(rows, cfg)
      Seq((res.tx, res.ty, res.tz, res.rmsMeters, res.completeness, res.nValid))
        .toDF("tx", "ty", "tz", "rms_m", "completeness", "n_valid")
    }
  }

  val q_align_rms: QueryDef = QueryDef.sqlChecked(
    "q_align_rms",
    s"""WITH ${statsCtes}
       |SELECT * FROM stats ORDER BY odx, ody""".stripMargin) { (s, dir) =>
    val (st, stats) = stageAndStats(s, dir)
    // materialize the tiny stats table, then release the cached DSMs —
    // they must not stay pinned for the rest of the session
    val out = stats.orderBy(col("odx"), col("ody")).localCheckpoint()
    st.refDsm.unpersist()
    st.tgtDsm.unpersist()
    out
  }

  val all: Seq[QueryDef] = Seq(q_align_offset, q_align_rms)
}
