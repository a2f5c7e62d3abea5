package graft.queries

import graft.core.Tables
import graft.temporal.{AsOf, Cusum, RangeJoin}
import org.apache.spark.sql.functions._

/**
 * Temporal (as-of) join over the events table: for every click, the
 * most recent purchase by the same user at or before the click time —
 * the "state as the crawler saw it" join shape (page content as of a
 * capture, price as of an order). The DuckDB dual uses the native
 * `ASOF LEFT JOIN`, so the engine's union+running-window implementation
 * ([[graft.temporal.AsOf]]) is pinned bit-exactly against a second,
 * independently-implemented as-of semantics.
 *
 * The build side is pre-aggregated to one row per (user, ts) — max value
 * — because "the row at time t" must be unique for as-of to be
 * well-defined on either engine. Timestamps flow as epoch seconds
 * (TIMESTAMP_NTZ -> UTC instant, matching DuckDB `epoch()`, same as
 * q_sessionize).
 */
object TemporalQueries {

  val q_asof_join: QueryDef = QueryDef.sqlChecked(
    "q_asof_join",
    """WITH e AS (SELECT event_id, user_id, event_type, value,
      |                  epoch(ts) AS tsec FROM events),
      |probe AS (SELECT event_id, user_id, tsec FROM e
      |          WHERE event_type = 'click'),
      |build AS (SELECT user_id, tsec, max(value) AS purchase_value
      |          FROM e WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.tsec,
      |       b.tsec AS tsec_build, b.purchase_value
      |FROM probe p ASOF LEFT JOIN build b
      |  ON p.user_id = b.user_id AND p.tsec >= b.tsec
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      col("ts").cast("timestamp").cast("double").as("tsec"))
    val probe = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "tsec")
    val build = e.filter(col("event_type") === "purchase")
      .groupBy("user_id", "tsec").agg(max("value").as("purchase_value"))
    AsOf.joinAsOf(probe, build, Seq("user_id"), "tsec", Seq("purchase_value"))
      .select("event_id", "user_id", "tsec", "tsec_build", "purchase_value")
      .orderBy("event_id")
  }

  /** Banded range join ([[graft.temporal.RangeJoin]]): purchases within
    * the hour before each click, per user — bucketized to a hash
    * equi-join on (user, time-bucket) + exact range filter, while the
    * DuckDB dual states the raw interval predicate directly, so the
    * bucket expansion's correctness (window fully covered, no double
    * matches) is what the bit-compare pins. Aggregates are count/max
    * (order-independent) — never an order-sensitive double sum. */
  val q_range_join: QueryDef = QueryDef.sqlChecked(
    "q_range_join",
    """WITH e AS (SELECT event_id, user_id, event_type, value,
      |                  epoch(ts) AS tsec FROM events),
      |c AS (SELECT event_id, user_id, tsec FROM e
      |      WHERE event_type = 'click'),
      |p AS (SELECT user_id, tsec, value FROM e
      |      WHERE event_type = 'purchase')
      |SELECT c.event_id, count(*) AS n_purch, max(p.value) AS max_value
      |FROM c JOIN p ON c.user_id = p.user_id
      | AND p.tsec >= c.tsec - 3600 AND p.tsec <= c.tsec
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      col("ts").cast("timestamp").cast("double").as("tsec"))
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "tsec")
    val purchases = e.filter(col("event_type") === "purchase")
      .select("user_id", "tsec", "value")
    RangeJoin.joinRange(clicks, purchases, Seq("user_id"), "tsec",
        lo = -3600.0, hi = 0.0)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_purch"), max("value").as("max_value"))
      .orderBy("event_id")
  }

  /** Fixed-point PageRank (graft.graph.PageRank) over the click graph
    * derived from the event log: per user ordered by (ts, event_id),
    * an edge from each event's page (`props.k`) to the next. Integer
    * div/mul/sum only — the dual unrolls the identical recurrence, so
    * an iterative graph algorithm lands bit-exact. */
  val q_pagerank: QueryDef = {
    val S = graft.graph.PageRank.Scale
    def iter(k: Int): String =
      s"""r$k AS (SELECT n.node,
         |    CAST((15 * $S + 85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(r.r // deg.d) AS BIGINT) AS s
         |    FROM e JOIN r${k - 1} r ON r.node = e.src
         |    JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    QueryDef.sqlChecked(
      "q_pagerank",
      s"""WITH ev AS (SELECT user_id, event_id, ts,
         |    CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS page
         |  FROM events),
         |e AS (SELECT src, dst FROM (
         |  SELECT page AS src,
         |    lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM ev) z WHERE dst IS NOT NULL),
         |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT node, CAST($S AS BIGINT) AS r FROM n),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT node, r AS rank_fp, r / $S AS rank FROM r3
         |ORDER BY node""".stripMargin) { (s, dir) =>
      val edges = graft.graph.PageRank.clickEdges(Tables.events(s, dir),
        regexp_extract(col("props"), "(\\d+)", 1).cast("long"),
        col("user_id"), col("ts"), col("event_id"))
      graft.graph.PageRank.pageRank(edges, iters = 3).orderBy(col("node"))
    }
  }

  /** Weekly cohort retention: cohort = a user's first-event epoch week,
    * and for every (cohort, k) the distinct users active k weeks later —
    * the standard growth-analytics triangle. Week bucketing floors
    * epoch/604800 IDENTICALLY on both engines (floor of an IEEE double
    * division, then an exact cast); counts are exact integers. Scale
    * shape: one per-user min agg, one user-key equi-join, one
    * count-distinct agg — all hash-based, nothing windowed. */
  val q_retention: QueryDef = QueryDef.sqlChecked(
    "q_retention",
    """WITH e AS (SELECT user_id,
      |    CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id)
      |SELECT c.cohort, e.wk - c.cohort AS k,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN c ON c.user_id = e.user_id
      |GROUP BY c.cohort, e.wk - c.cohort
      |ORDER BY cohort, k""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir).select(col("user_id"),
      floor(col("ts").cast("timestamp").cast("double") / 604800d)
        .cast("long").as("wk"))
    val c = e.groupBy("user_id").agg(min("wk").as("cohort"))
    e.join(c, "user_id")
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("k"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort"), col("k"))
  }

  /** Ordered conversion funnel signup -> click -> purchase: a user
    * reaches stage s only via events in causal order (each stage's
    * earliest event at-or-after the previous stage's). Per-user stage
    * times are min-aggregates + two user-key joins (no windows, no
    * per-user sort); the final histogram is 4 exact rows with one IEEE
    * division for the conversion rate. */
  val q_funnel: QueryDef = QueryDef.sqlChecked(
    "q_funnel",
    """WITH e AS (SELECT user_id, event_type, epoch(ts) AS tsec FROM events),
      |u AS (SELECT DISTINCT user_id FROM e),
      |s1 AS (SELECT user_id, min(tsec) AS t1 FROM e
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(tsec) AS t2 FROM e
      |       JOIN s1 ON s1.user_id = e.user_id
      |       WHERE event_type = 'click' AND tsec >= t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(tsec) AS t3 FROM e
      |       JOIN s2 ON s2.user_id = e.user_id
      |       WHERE event_type = 'purchase' AND tsec >= t2 GROUP BY e.user_id),
      |st AS (SELECT u.user_id,
      |  CASE WHEN s3.user_id IS NOT NULL THEN 3
      |       WHEN s2.user_id IS NOT NULL THEN 2
      |       WHEN s1.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage
      |  FROM u LEFT JOIN s1 ON s1.user_id = u.user_id
      |         LEFT JOIN s2 ON s2.user_id = u.user_id
      |         LEFT JOIN s3 ON s3.user_id = u.user_id),
      |tot AS (SELECT count(*) AS n FROM u)
      |SELECT stage, count(*) AS n_users,
      |  count(*) / (SELECT n FROM tot) AS frac
      |FROM st GROUP BY stage ORDER BY stage""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      col("ts").cast("timestamp").cast("double").as("tsec"))
    val u = e.select("user_id").distinct()
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("tsec").as("t1"))
    val s2 = e.join(s1, "user_id")
      .filter(col("event_type") === "click" && col("tsec") >= col("t1"))
      .groupBy("user_id").agg(min("tsec").as("t2"))
    val s3 = e.join(s2, "user_id")
      .filter(col("event_type") === "purchase" && col("tsec") >= col("t2"))
      .groupBy("user_id").agg(min("tsec").as("t3"))
    val total = u.count()
    u.join(s1.select(col("user_id"), lit(1).as("h1")), Seq("user_id"), "left")
      .join(s2.select(col("user_id"), lit(1).as("h2")), Seq("user_id"), "left")
      .join(s3.select(col("user_id"), lit(1).as("h3")), Seq("user_id"), "left")
      .select(when(col("h3").isNotNull, 3)
        .when(col("h2").isNotNull, 2)
        .when(col("h1").isNotNull, 1).otherwise(0).as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
      .select(col("stage"), col("n_users"),
        (col("n_users").cast("double") / lit(total.toDouble)).as("frac"))
      .orderBy(col("stage"))
  }

  /** Per-node triangle counts + clustering coefficient on the click
    * graph ([[graft.graph.Triangles]]): engine = degree-ordered
    * orientation (Suri & Vassilvitskii 2011), dual = the textbook
    * id-ordered three-way self-join (u < v < w by construction of the
    * canonical undirected edge) — different orientations, identical
    * triangle set. */
  val q_triangles: QueryDef = QueryDef.sqlChecked(
    "q_triangles",
    s"""WITH ev AS (SELECT user_id, event_id, ts,
       |    CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS page
       |  FROM events),
       |e AS (SELECT src, dst FROM (
       |  SELECT page AS src,
       |    lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |  FROM ev) z WHERE dst IS NOT NULL),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM e WHERE src <> dst),
       |t AS (SELECT a.u AS x, a.v AS y, b.v AS z
       |  FROM und a JOIN und b ON b.u = a.v
       |  JOIN und c ON c.u = a.u AND c.v = b.v),
       |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
       |  SELECT x AS node FROM t UNION ALL SELECT y FROM t
       |  UNION ALL SELECT z FROM t) GROUP BY node),
       |deg AS (SELECT n AS node, CAST(count(*) AS BIGINT) AS d FROM (
       |  SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY n)
       |SELECT deg.node, coalesce(pn.tri, 0) AS tri, deg.d,
       |  CASE WHEN deg.d >= 2 THEN
       |    CAST(coalesce(pn.tri, 0) * 2 AS DOUBLE)
       |      / CAST(deg.d * (deg.d - 1) AS DOUBLE)
       |  ELSE 0.0 END AS clustering
       |FROM deg LEFT JOIN pn ON pn.node = deg.node
       |ORDER BY deg.node""".stripMargin) { (s, dir) =>
    val edges = graft.graph.PageRank.clickEdges(Tables.events(s, dir),
      regexp_extract(col("props"), "(\\d+)", 1).cast("long"),
      col("user_id"), col("ts"), col("event_id"))
    graft.graph.Triangles.perNode(edges).orderBy(col("node"))
  }

  /** Trajectory line-density raster ([[graft.grid.LineRaster]]): every
    * click edge geocodes its two pages onto the 10-degree lattice and
    * splats the exact discrete segment between them; output is visits
    * per cell. Engine and dual share the [[graft.grid.Rays]] arithmetic
    * (round-half-up parametric line via the sign-safe floor division),
    * so the raster is bit-exact. */
  val q_trajectory_density: QueryDef = {
    def ray(o: String, d: String): String =
      s"""CASE WHEN n = 0 THEN $o ELSE $o
         | + (2*k*($d) + n - ((((2*k*($d) + n) % (2*n)) + 2*n) % (2*n)))
         |   // (2*n) END""".stripMargin.replaceAll("\n", "")
    QueryDef.sqlChecked(
      "q_trajectory_density",
      s"""WITH ev AS (SELECT user_id, event_id, ts,
         |    CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS page
         |  FROM events),
         |e AS (SELECT src, dst FROM (
         |  SELECT page AS src,
         |    lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM ev) z WHERE dst IS NOT NULL),
         |seg AS (SELECT
         |    CAST(floor((${graft.core.Geo.lonSql("src")} - (-180.0)) / 10.0) AS BIGINT) AS x0,
         |    CAST(floor((${graft.core.Geo.latSql("src")} - (-85.0)) / 10.0) AS BIGINT) AS y0,
         |    CAST(floor((${graft.core.Geo.lonSql("dst")} - (-180.0)) / 10.0) AS BIGINT) AS x1,
         |    CAST(floor((${graft.core.Geo.latSql("dst")} - (-85.0)) / 10.0) AS BIGINT) AS y1
         |  FROM e),
         |sk AS (SELECT *, greatest(abs(x1 - x0), abs(y1 - y0)) AS n FROM seg),
         |pts AS (SELECT ${ray("x0", "x1 - x0")} AS gx,
         |    ${ray("y0", "y1 - y0")} AS gy
         |  FROM sk, LATERAL (SELECT unnest(generate_series(0, n)) AS k))
         |SELECT gx, gy, CAST(count(*) AS BIGINT) AS n_visits
         |FROM pts GROUP BY gx, gy ORDER BY gx, gy""".stripMargin) { (s, dir) =>
      import graft.core.Geo
      val e = graft.graph.PageRank.clickEdges(Tables.events(s, dir),
        regexp_extract(col("props"), "(\\d+)", 1).cast("long"),
        col("user_id"), col("ts"), col("event_id"))
      def bx(id: org.apache.spark.sql.Column) =
        floor((Geo.lonCol(id) - lit(-180.0)) / 10.0).cast("long")
      def by(id: org.apache.spark.sql.Column) =
        floor((Geo.latCol(id) - lit(-85.0)) / 10.0).cast("long")
      val segs = e.select(bx(col("src")).as("x0"), by(col("src")).as("y0"),
        bx(col("dst")).as("x1"), by(col("dst")).as("y1"))
      graft.grid.LineRaster.density(segs).orderBy(col("gx"), col("gy"))
    }
  }

  /** Exact integer CUSUM changepoint detection ([[graft.temporal.Cusum]])
    * over per-event-type hourly counts: S = running sum of (cnt − drift),
    * cusum = S − running min S, alarm at cusum ≥ threshold — the
    * textbook `max(0, C+x−k)` recursion unrolled into two scans, each
    * computed two-level (per-(key, 2^4-hour block) local windows + the
    * small per-key block table) so no task ever holds a key's full
    * history. The dual IS the per-key global-window form the engine
    * refuses — DuckDB window sums cast back to BIGINT (the
    * institutionalized q_pack_chunks lesson). */
  val q_cusum: QueryDef = QueryDef.sqlChecked(
    "q_cusum",
    """WITH m AS (SELECT event_type,
      |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, t, cnt,
      |    CAST(sum(cnt - 5) OVER (PARTITION BY event_type ORDER BY t)
      |         AS BIGINT) AS s FROM m)
      |SELECT event_type, t, cnt, s,
      |  CAST(s - min(s) OVER (PARTITION BY event_type ORDER BY t)
      |       AS BIGINT) AS cusum,
      |  (s - min(s) OVER (PARTITION BY event_type ORDER BY t)) >= 15
      |    AS alarm
      |FROM s ORDER BY event_type, t""".stripMargin) { (s, dir) =>
    val counts = Cusum.bucketCounts(Tables.events(s, dir),
      "event_type", "ts", 3600L)
    Cusum.changepoints(counts, "event_type", "t", "cnt",
        drift = 5L, threshold = 15L, bucketShift = 4)
      .orderBy(col("event_type"), col("t"))
  }

  /** Streaming per-window top-k heavy hitters as a REAL multi-batch
    * streaming run ([[graft.streaming.StreamOps.windowTopK]] — chained
    * stateful aggregations: exact windowed counts → bounded-heap TopK,
    * append mode, state k pairs per open window at stage 2). The staged
    * event files flow one-per-trigger in RANDOM time order, so window
    * fragments genuinely cross micro-batches and the heap must merge
    * state-store partials; the watermark delay exceeds the staged span
    * (no fragment may be dropped as late), and a sentinel event staged
    * in a LAST file pushes the final watermark past every real window
    * end. Append therefore emits exactly the top-3 of every real
    * window — the dual, with the sentinel's own (never-finalized)
    * window excluded by its negative user id. */
  val q_stream_topk: QueryDef = {
    val sideRoot = SideTables.root("temporal_side")
    QueryDef.sqlChecked(
      "q_stream_topk",
      s"""WITH e AS (SELECT * FROM '$sideRoot/topk_stream/*.parquet'
         |  WHERE user_id >= 0),
         |c AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS ws,
         |    user_id, CAST(count(*) AS BIGINT) AS cnt
         |  FROM e GROUP BY 1, 2),
         |r AS (SELECT ws, user_id, cnt, row_number() OVER (
         |    PARTITION BY ws ORDER BY cnt DESC, user_id) AS rank FROM c)
         |SELECT ws, CAST(rank AS BIGINT) AS rank, user_id, cnt
         |FROM r WHERE rank <= 3
         |ORDER BY ws, rank""".stripMargin) { (s, dir) =>
      val src = s"$sideRoot/topk_stream"
      val ev = Tables.events(s, dir).select("user_id", "ts")
      ev.repartition(6).write.mode("overwrite").parquet(src)
      // sentinel staged AFTER (later mod time -> processed last): its
      // event time minus the watermark delay finalizes all real
      // windows. Derived from max(ts) so the parquet type (NTZ) matches.
      ev.agg(max(col("ts")).as("ts"))
        .select(lit(-1L).as("user_id"),
          (col("ts") + expr("INTERVAL 401 DAYS")).as("ts"))
        .write.mode("append").parquet(src)
      val top = graft.streaming.StreamOps.windowTopK(
        QueryDef.streamSource(s, src), "ts", "user_id", win = "1 hour", k = 3,
        watermark = "400 days")
      QueryDef.streamToMemory(top, "stream_topk_out").orderBy(col("ws"), col("rank"))
    }
  }

  /** Peak session concurrency per hour — the sweep-line interval
    * overlap count: every event opens a 30-minute session; deltas
    * (+1 at start, −1 at end) aggregate per distinct instant, the
    * running concurrency is the inclusive prefix sum of the nets in
    * time order via [[graft.core.PrefixSum]] (two-level — a naive
    * sweep is THE textbook global-order window), and the per-hour peak
    * is a hash agg over it. End-before-start at a shared instant falls
    * out of per-instant netting: the within-instant maximum is the
    * post-instant value, so abutting sessions never double-count. The
    * dual IS the global-window sweep the engine refuses. */
  val q_peak_concurrency: QueryDef = QueryDef.sqlChecked(
    "q_peak_concurrency",
    """WITH iv AS (SELECT epoch(ts) AS s, epoch(ts) + 1800 AS e
      |  FROM events),
      |d AS (SELECT s AS t, 1 AS dl FROM iv
      |  UNION ALL SELECT e, -1 FROM iv),
      |g AS (SELECT t, CAST(sum(dl) AS BIGINT) AS net FROM d GROUP BY t),
      |r AS (SELECT t, CAST(sum(net) OVER (ORDER BY t) AS BIGINT) AS conc
      |  FROM g)
      |SELECT CAST(floor(t / 3600) AS BIGINT) * 3600 AS hour,
      |  max(conc) AS peak
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val tsec = col("ts").cast("timestamp").cast("double")
    val iv = Tables.events(s, dir).select(tsec.as("s"), (tsec + 1800d).as("e"))
    val deltas = iv.select(col("s").as("t"), lit(1L).as("dl"))
      .unionByName(iv.select(col("e").as("t"), lit(-1L).as("dl")))
      .groupBy("t").agg(sum(col("dl")).as("net"))
    val swept = graft.core.PrefixSum.exclusive(deltas, "t", "net",
        floor(col("t") / 1024d).cast("long"))
      .withColumn("conc", col("prefix") + col("net"))
    swept.groupBy((floor(col("t") / 3600d).cast("long") * 3600)
        .as("hour"))
      .agg(max(col("conc")).as("peak"))
      .orderBy(col("hour"))
  }

  /** Streaming CUSUM changepoint alarms as a REAL multi-batch run
    * ([[graft.streaming.StreamOps.streamCusum]]): per-event-type
    * hourly buckets accumulate in watermark-bounded state and fold
    * into the running (S, min S) carry as the watermark closes them —
    * the same staged-random-files + sentinel protocol as
    * q_stream_topk, so every real bucket finalizes. The dual is the
    * batch CUSUM global-window SQL (q_cusum's form) over the staged
    * rows: the streaming fold must equal the batch recursion bucket
    * for bucket, alarms included. */
  val q_stream_cusum: QueryDef = {
    val sideRoot = SideTables.root("temporal_side")
    QueryDef.sqlChecked(
      "q_stream_cusum",
      s"""WITH e AS (SELECT * FROM '$sideRoot/cusum_stream/*.parquet'
         |  WHERE event_type <> '_sentinel'),
         |m AS (SELECT event_type AS key,
         |    CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS t,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM e GROUP BY 1, 2),
         |s AS (SELECT key, t, cnt,
         |    CAST(sum(cnt - 5) OVER (PARTITION BY key ORDER BY t)
         |         AS BIGINT) AS s FROM m)
         |SELECT key, t, cnt, s,
         |  CAST(s - min(s) OVER (PARTITION BY key ORDER BY t)
         |       AS BIGINT) AS cusum,
         |  (s - min(s) OVER (PARTITION BY key ORDER BY t)) >= 15 AS alarm
         |FROM s ORDER BY key, t""".stripMargin) { (s, dir) =>
      val src = s"$sideRoot/cusum_stream"
      val ev = Tables.events(s, dir).select("event_type", "ts")
      ev.repartition(6).write.mode("overwrite").parquet(src)
      ev.agg(max(col("ts")).as("ts"))
        .select(lit("_sentinel").as("event_type"),
          (col("ts") + expr("INTERVAL 401 DAYS")).as("ts"))
        .write.mode("append").parquet(src)
      val rows = graft.streaming.StreamOps.streamCusum(
        QueryDef.streamSource(s, src), "event_type", "ts", bucketSecs = 3600L,
        drift = 5L, threshold = 15L, watermark = "400 days")
      QueryDef.streamToMemory(rows.toDF(), "stream_cusum_out")
        .filter(col("key") =!= "_sentinel")
        .orderBy(col("key"), col("t"))
    }
  }

  /** Exact simple linear regression per event type — the value trend
    * over time via the closed-form OLS slope/intercept, every moment
    * sum EXACT (x = minute index, y = value in cents; Σxy·n exceeds
    * 2^63 at sf0.1, so sums run in DECIMAL(38,0) on the engine and
    * HUGEINT in the dual — the RingMetrics centroid discipline), and
    * the only IEEE steps are the two final divisions of exact
    * integers. One map-side-combined aggregate per key; no window, no
    * sort, no second pass. */
  val q_linreg: QueryDef = QueryDef.sqlChecked(
    "q_linreg",
    """WITH e AS (SELECT event_type,
      |    CAST(floor(epoch(ts) / 60) AS BIGINT) AS x,
      |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
      |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM e GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
      |  (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
      |     / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE) AS intercept
      |FROM m ORDER BY event_type""".stripMargin) { (s, dir) =>
    val dec: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _.cast("decimal(38,0)")
    val e = Tables.events(s, dir).select(col("event_type"),
      floor(col("ts").cast("timestamp").cast("double") / 60d)
        .cast("long").as("x"),
      round(col("value") * 100).cast("long").as("y"))
    val m = e.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum(dec(col("x"))).as("sx"),
      sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"))
    val num = (dec(col("n")) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val den = (dec(col("n")) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    m.select(col("event_type"), col("n"),
        (num / den).as("slope"),
        ((col("sy").cast("double") - num / den * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"))
      .orderBy(col("event_type"))
  }

  /** Web-graph degree distribution — the first diagnostic any graph
    * pipeline runs (and the skew histogram the salted joins consult):
    * per-direction node degrees of the click graph, then the
    * (direction, degree, node-count) histogram. Two chained hash
    * aggregates per direction, both map-side combined. */
  val q_degree_dist: QueryDef = QueryDef.sqlChecked(
    "q_degree_dist",
    """WITH ev AS (SELECT user_id, event_id, ts,
      |    CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS page
      |  FROM events),
      |e AS (SELECT src, dst FROM (
      |  SELECT page AS src,
      |    lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS dst
      |  FROM ev) z WHERE dst IS NOT NULL),
      |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
      |  FROM e GROUP BY src),
      |id AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS deg
      |  FROM e GROUP BY dst)
      |SELECT 'out' AS dir, deg, CAST(count(*) AS BIGINT) AS n_nodes
      |FROM od GROUP BY deg
      |UNION ALL
      |SELECT 'in', deg, CAST(count(*) AS BIGINT) FROM id GROUP BY deg
      |ORDER BY dir, deg""".stripMargin) { (s, dir) =>
    val edges = graft.graph.PageRank.clickEdges(Tables.events(s, dir),
      regexp_extract(col("props"), "(\\d+)", 1).cast("long"),
      col("user_id"), col("ts"), col("event_id"))
    def hist(key: String, tag: String) = edges
      .groupBy(col(key).as("node")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
      .select(lit(tag).as("dir"), col("deg"), col("n_nodes"))
    hist("src", "out").unionByName(hist("dst", "in"))
      .orderBy(col("dir"), col("deg"))
  }

  val all: Seq[QueryDef] =
    Seq(q_asof_join, q_range_join, q_pagerank, q_retention, q_funnel,
      q_triangles, q_trajectory_density, q_cusum, q_stream_topk,
      q_peak_concurrency, q_stream_cusum, q_linreg, q_degree_dist)
}
