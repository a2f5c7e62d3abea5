package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {

  test("windowed counts over a file-driven stream match batch") {
    val schema = spark.read.parquet(s"$sfSmoke/events.parquet").schema
    // file source needs a directory: stage the single-file table
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfSmoke/events.parquet"),
      dir.resolve("events.parquet"))
    val evStream = spark.readStream.schema(schema).parquet(dir.toString)
    val agg = StreamOps.windowedCounts(evStream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT event_type, sum(n) FROM win_out GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = spark.read.parquet(s"$sfSmoke/events.parquet")
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("streaming latest-capture dedup == batch max_by, state evicted by watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // multi-capture synthetic pages: 40 urls x up to 5 captures,
    // delivered over two micro-batches (captures split arbitrarily)
    val rnd = new scala.util.Random(9)
    val pages = (for {
      u <- 0 until 40
      _ <- 0 to rnd.nextInt(5)
    } yield StreamOps.Page(s"http://site$u/p", 1000L + rnd.nextInt(500),
      rnd.nextInt(1000).toLong - 500L)).toVector
    val (b1, b2) = pages.splitAt(pages.size / 2)

    val input = MemoryStream[StreamOps.Page]
    val out = StreamOps.latestCapture(input.toDS(), evictAfter = "600 seconds")
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("lc_out").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()

      // per url, the emissions are a running max — their max equals the
      // batch max_by over (warc_ts, th) with th a SIGNED LONG (xxhash64
      // encoding), same tie-break as the flagship
      val want = pages.toDF("url", "warc_ts", "th")
        .groupBy("url")
        .agg(max(struct(col("warc_ts"), col("th"))).as("m"))
        .select(col("url"), col("m.warc_ts"), col("m.th"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = spark.sql(
        """SELECT url, m.warc_ts, m.th FROM (
          |  SELECT url, max(struct(warc_ts, th)) AS m FROM lc_out GROUP BY url
          |)""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want)

      val stateAfterLoad =
        q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateAfterLoad == 40L, s"expected 40 live urls, got $stateAfterLoad")

      // advance the event-time watermark far past every capture + TTL:
      // all 40 urls must be evicted from state (plus the new one lives)
      input.addData(StreamOps.Page("http://late/trigger", 100000L, 0L))
      q.processAllAvailable()
      input.addData(StreamOps.Page("http://late/trigger2", 100001L, 0L))
      q.processAllAvailable()
      val stateAfterEvict =
        q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateAfterEvict <= 2L,
        s"watermark eviction left $stateAfterEvict state rows")

      // a re-capture older than the watermark is dropped as late input:
      // no emission with the stale timestamp ever appears
      input.addData(StreamOps.Page("http://site0/p", 900L, 999L))
      q.processAllAvailable()
      val stale = spark.sql(
        "SELECT count(*) FROM lc_out WHERE warc_ts = 900").head().getLong(0)
      assert(stale == 0L, "late re-capture leaked past the watermark")
    } finally q.stop()
  }

  test("replayDedup: cross-batch drops, state evicted, beyond-horizon re-emits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val out = StreamOps.replayDedup(
      input.toDS().toDF("k", "ts"), "ts", Seq("k"), horizon = "100 seconds")
    spark.catalog.dropTempView("rd_out")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("rd_out").start()
    def emitted() = spark.table("rd_out")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    try {
      input.addData(("a", 1000L), ("b", 1001L)); q.processAllAvailable()
      // cross-batch re-delivery within horizon: dropped (state, not
      // batch-local distinct); first copy of c emits
      input.addData(("a", 1000L), ("c", 1002L)); q.processAllAvailable()
      assert(emitted().map(_._1).sorted == Seq("a", "b", "c"))
      val live = q.lastProgress.stateOperators(0).numRowsTotal
      assert(live == 3L, s"expected 3 dedup state rows, got $live")

      // advance the watermark far past every key's ts + horizon:
      // old state evicts, and a re-delivery of `a` WITH A FRESH ts
      // beyond the horizon re-emits (the documented at-least-once
      // residue; its ts must pass the watermark)
      input.addData(("z", 50000L)); q.processAllAvailable()
      input.addData(("z2", 50001L)); q.processAllAvailable()
      val after = q.lastProgress.stateOperators(0).numRowsTotal
      assert(after <= 2L, s"horizon eviction left $after state rows")
      input.addData(("a", 50002L)); q.processAllAvailable()
      assert(emitted().count(_._1 == "a") == 2,
        "beyond-horizon re-delivery must re-emit")
    } finally q.stop()
  }

  test("stream-static PIP enrichment across micro-batches == batch join") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ids = (1L to 4000L).toVector
    val (b1, b2) = ids.splitAt(ids.size / 3) // uneven micro-batches

    val input = MemoryStream[Long]
    val pts = graft.core.Geo.withGeo(input.toDS().toDF("doc_id"))
      .select("doc_id", "lon", "lat")
    val q = StreamOps.pipEnrich(pts)
      .writeStream.outputMode("append")
      .format("memory").queryName("pip_stream_spec").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      // stateless stream-static join: no state store rows at all
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty))
    } finally q.stop()
    val got = spark.table("pip_stream_spec")
      .select("aoi_id", "doc_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val batchPts = graft.core.Geo.withGeo(ids.toDF("doc_id"))
      .select("doc_id", "lon", "lat")
    val want = graft.join.SpatialJoins.pipJoin(batchPts, graft.join.Aoi.defs)
      .select("aoi_id", "doc_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.nonEmpty)
    spark.catalog.dropTempView("pip_stream_spec")
  }

  test("stream-stream interval join == batch join; state bounded by watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // views and clicks over 20 users; clicks land 0..900 s after views,
    // so only the <=600 s ones pair. Batches are time-ordered (the
    // watermark must never drop an in-horizon row).
    val base = 1700000000L
    val views = (0 until 60).map(i =>
      (i.toLong % 20, 1000L + i, new java.sql.Timestamp((base + i * 30) * 1000)))
    val clicks = (0 until 60).map(i =>
      (i.toLong % 20, 2000L + i, new java.sql.Timestamp((base + i * 30 + (i % 10) * 100) * 1000)))
    val (v1, v2) = views.splitAt(30)
    val (c1, c2) = clicks.splitAt(30)

    val vIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def vDf(d: org.apache.spark.sql.DataFrame) =
      d.toDF("user_id", "view_id", "vts")
    def cDf(d: org.apache.spark.sql.DataFrame) =
      d.toDF("c_user_id", "click_id", "cts")
    val joined = StreamOps.intervalJoin(vDf(vIn.toDF()), cDf(cIn.toDF()),
      "user_id", "c_user_id", "vts", "cts", withinSec = 600,
      watermark = "30 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij_out").start()
    try {
      vIn.addData(v1); cIn.addData(c1); q.processAllAvailable()
      vIn.addData(v2); cIn.addData(c2); q.processAllAvailable()
      // the join IS stateful: both sides buffer within the horizon
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
    val got = spark.table("ij_out")
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = StreamOps.intervalJoin(
        vDf(views.toDF()), cDf(clicks.toDF()),
        "user_id", "c_user_id", "vts", "cts", withinSec = 600)
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.nonEmpty)
    spark.catalog.dropTempView("ij_out")
  }

  test("upsertBatch: order-independent winners, replay-idempotent, COW merges") {
    import spark.implicits._
    import graft.meta.Snapshots
    val root = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    def df(rows: (String, Long, String)*) = rows.toDF("url", "ts", "text")
    val order = Seq(col("ts").desc, md5(col("text")).desc)
    // batch 1: initial captures
    StreamOps.upsertBatch(df(("a", 1L, "a1"), ("b", 5L, "b5")),
      root, "t", Seq("url"), order)
    // batch 2: newer capture of a, new url c
    StreamOps.upsertBatch(df(("a", 9L, "a9"), ("c", 2L, "c2")),
      root, "t", Seq("url"), order)
    // batch 3: LATE (older) capture of a — must NOT win; tie on b at
    // ts=5 resolved by md5(text) desc
    StreamOps.upsertBatch(df(("a", 3L, "a3"), ("b", 5L, "b5x")),
      root, "t", Seq("url"), order)
    def state() = Snapshots.read(spark, Snapshots.latest(root, "t").get)
      .as[(String, Long, String)].collect().toSet
    val md5win = Seq("b5", "b5x").maxBy(t =>
      java.security.MessageDigest.getInstance("MD5").digest(t.getBytes)
        .map("%02x".format(_)).mkString)
    val expect = Set(("a", 9L, "a9"), ("b", 5L, md5win), ("c", 2L, "c2"))
    assert(state() == expect)
    // replaying the last batch leaves content unchanged (value-idempotent)
    val idBefore = Snapshots.latest(root, "t").get.snapshotId
    StreamOps.upsertBatch(df(("a", 3L, "a3"), ("b", 5L, "b5x")),
      root, "t", Seq("url"), order)
    assert(state() == expect)
    assert(Snapshots.latest(root, "t").get.snapshotId == idBefore + 1)
  }

  test("stateful sessionization matches the batch window query") {
    import spark.implicits._
    val evs = spark.read.parquet(s"$sfSmoke/events.parquet")
      .select(col("user_id"),
        col("ts").cast("timestamp").cast("double").as("tsec"), col("event_id"))
      .as[StreamOps.Ev]
    // batch ground truth: session count per user (sessions CLOSED by a
    // following gap; the open last session is retained in state)
    val batch = SparkEntry.queries("q_sessionize")(spark, sfSmoke)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = StreamOps.sessionize(evs).collect()
      .groupBy(_.user_id).map { case (u, ss) => u -> ss.length.toLong }
    // streamed emits only closed sessions: batch count - 1 per user
    streamed.foreach { case (u, n) => assert(n == batch(u) - 1, s"user $u") }
    assert(streamed.nonEmpty)
  }

  test("streaming sessionize: idle users' open sessions emitted on timeout, state evicted") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamOps.Ev]
    val out = StreamOps.sessionize(input.toDS(), gapSec = 3600.0)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // user 1: two events in one session; user 2: one event. Both go
      // idle — without eviction their sessions would never be emitted.
      input.addData(StreamOps.Ev(1L, 1000.0, 10L), StreamOps.Ev(1L, 1100.0, 11L),
        StreamOps.Ev(2L, 1200.0, 20L))
      q.processAllAvailable()
      assert(spark.table("sess_out").isEmpty) // sessions still open
      // advance the watermark far past (last event + gap): the advancer
      // batch moves the watermark, the follow-up batch fires timeouts
      input.addData(StreamOps.Ev(99L, 100000.0, 990L)); q.processAllAvailable()
      input.addData(StreamOps.Ev(99L, 100001.0, 991L)); q.processAllAvailable()
      val got = spark.table("sess_out").as[StreamOps.Session]
        .collect().map(s => (s.user_id, s.start, s.end, s.n)).toSet
      assert(got == Set((1L, 1000.0, 1100.0, 2L), (2L, 1200.0, 1200.0, 1L)))
      // only user 99's open session remains in state
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateRows <= 1L, s"timeout eviction left $stateRows state rows")
    } finally q.stop()
    spark.catalog.dropTempView("sess_out")
  }

  test("streaming tile max == batch windowed grid; late points dropped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val spec = graft.grid.Gridding.GridSpec(gsd = 10.0)
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val rnd = new scala.util.Random(4)
    // time-ordered batch split so no b2 row is behind b1's watermark —
    // the dedicated late-point case below covers watermark drops
    val pts = (0 until 300).map { i =>
      (rnd.nextDouble() * 340 - 170, rnd.nextDouble() * 160 - 80,
        rnd.nextDouble() * 20 - 1, ts(rnd.nextInt(240)))
    }.sortBy(_._4.getTime)
    val (b1, b2) = pts.splitAt(150)

    val input = MemoryStream[(Double, Double, Double, java.sql.Timestamp)]
    val stream = StreamOps.tileMax(
      input.toDF().toDF("lon", "lat", "z", "ts"), spec,
      window = "60 minutes", watermark = "30 minutes")
    val q = stream.writeStream.outputMode("update")
      .format("memory").queryName("tile_out").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()

      // running-max emissions: the max per (window, cell) is the final
      // value; equal to the batch windowed grid over the same rows
      val want = graft.grid.Gridding.splat2x2(graft.grid.Gridding.points(
          pts.toDF("lon", "lat", "z", "ts"), spec))
        .groupBy(window(col("ts"), "60 minutes"), col("gx"), col("gy"))
        .agg(max(col("qz")).as("v"))
        .select(col("window.start").cast("long").as("ws"), col("gx"), col("gy"), col("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      val got = spark.sql(
        """SELECT CAST(window.start AS LONG) AS ws, gx, gy, max(v) AS v
          |FROM tile_out GROUP BY 1, 2, 3""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      assert(got == want)

      // a point far older than the watermark (watermark is ~min 240 -
      // 30) must be dropped: no new emission for its window
      val before = spark.sql("SELECT count(*) FROM tile_out").head().getLong(0)
      input.addData(Seq((0.0, 0.0, 19.9, ts(0)))); q.processAllAvailable()
      input.addData(Seq((0.0, 0.0, 19.9, ts(1)))); q.processAllAvailable()
      val after = spark.sql("SELECT count(*) FROM tile_out").head().getLong(0)
      assert(after == before, s"late point leaked: $before -> $after")
      // folding max over a cell's windows recovers the batch DSM cell
      val cell = want.keys.head
      val dsmCell = want.filter { case ((_, gx, gy), _) =>
        gx == cell._2 && gy == cell._3 }.values.max
      val gotCell = spark.sql(
        s"SELECT max(v) FROM tile_out WHERE gx = ${cell._2} AND gy = ${cell._3}")
        .head().getLong(0)
      assert(gotCell == dsmCell)
    } finally q.stop()
  }

  test("runStream: 4 shuffle partitions only during the run, restored after a failing sink; memory reruns replace the table") {
    import graft.queries.QueryDef
    import org.apache.spark.sql.{Dataset, Row}
    val src = java.nio.file.Files.createTempDirectory("graft-run-stream").toString
    spark.range(20L).write.mode("overwrite").parquet(src)
    def stream() = spark.readStream.schema("id LONG").parquet(src)
    val key = "spark.sql.shuffle.partitions"
    withConf(key, "7") {
      var during = ""
      val failing = stream().writeStream.foreachBatch {
        (batch: Dataset[Row], _: Long) =>
          during = batch.sparkSession.conf.get(key)
          throw new IllegalStateException("sink failed")
      }
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        QueryDef.runStream(spark, failing))
      assert(during == "4")
      assert(spark.conf.get(key) == "7")
      assert(QueryDef.streamToMemory(stream(), "run_stream_out").count() == 20)
      assert(QueryDef.streamToMemory(stream().filter(col("id") < 5),
        "run_stream_out").count() == 5)
      assert(spark.conf.get(key) == "7")
    }
  }

  test("snapshot sink: one committed snapshot per micro-batch, replay-idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.meta.Snapshots
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stream-snap").toString

    val input = MemoryStream[(Long, String)]
    val q = StreamOps.snapshotSink(
      input.toDS().toDF("k", "v"), root, "ingest", "snap_sink").start()
    try {
      input.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      input.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()

    val ms = Snapshots.committed(root, "ingest")
    assert(ms.map(_.snapshotId) == Seq(0, 1))
    assert(ms.map(_.rows) == Seq(2, 1))
    assert(ms.map(_.lineage) ==
      Seq("stream:snap_sink:batch-0", "stream:snap_sink:batch-1"))
    // incremental consumer: diff between the two batch states
    val inserts = Snapshots.diff(spark, root, "ingest", 0, 1)
      .filter(col("change") === "insert").count()
    assert(inserts == 1)
    // at-least-once replay of an already-committed batch is a no-op
    val replayed = StreamOps.commitBatch(
      Seq((9L, "x")).toDF("k", "v"), root, "ingest", "snap_sink", 1L)
    assert(replayed.snapshotId == 1 && replayed.rows == 1)
    assert(Snapshots.committed(root, "ingest").size == 2)
    assert(Snapshots.read(spark, Snapshots.latest(root, "ingest").get)
      .as[(Long, String)].collect().toSet == Set((3L, "c")))
  }

  test("windowTopK: chained stateful aggs emit finalized windows, k-bounded, tie-exact") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    // hour 0: user 1 x3, user 2 x3 (tie -> smaller id first), user 3 x2,
    //         user 4 x1 (must be cut by k=3)
    // hour 1: user 5 x2, user 6 x1
    // hour 2: single event (advances watermark past hour 1)
    val h0 = Seq(1L -> 0, 1L -> 1, 1L -> 2, 2L -> 3, 2L -> 4, 2L -> 5,
      3L -> 6, 3L -> 7, 4L -> 8).map { case (u, m) => (u, ts(m)) }
    val h1 = Seq(5L -> 61, 5L -> 62, 6L -> 63).map { case (u, m) => (u, ts(m)) }
    val h2 = Seq((7L, ts(121)))

    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val top = StreamOps.windowTopK(input.toDF().toDF("user_id", "ts"),
      "ts", "user_id", win = "1 hour", k = 3, watermark = "0 seconds")
    val q = top.writeStream.outputMode("append")
      .format("memory").queryName("wtopk_out").start()
    try {
      def rows() = spark.table("wtopk_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      input.addData(h0); q.processAllAvailable()
      assert(rows().isEmpty, "no window finalized yet")
      input.addData(h1); q.processAllAvailable()
      input.addData(h1); q.processAllAvailable() // watermark catches up
      // hour 0 closed: exact counts, tie 1-before-2, user 4 cut
      val w0 = 1700000000000L / 1000 / 3600 * 3600
      assert(rows() === Set((w0, 1L, 1L, 3L), (w0, 2L, 2L, 3L),
        (w0, 3L, 3L, 2L)))
      input.addData(h2); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val got = rows()
      assert(got.filter(_._1 == w0 + 3600) ===
        Set((w0 + 3600, 1L, 5L, 4L), (w0 + 3600, 2L, 6L, 2L)))
      // k bound holds per window
      assert(got.groupBy(_._1).values.forall(_.size <= 3))
    } finally q.stop()
  }

  test("streamCusum: buckets fold at watermark, carry survives idle gaps") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val input = MemoryStream[(String, java.sql.Timestamp)]
    // 1-minute buckets, drift 2, threshold 3
    val rows = StreamOps.streamCusum(input.toDF().toDF("k", "ts"),
      "k", "ts", bucketSecs = 60L, drift = 2L, threshold = 3L,
      watermark = "0 seconds")
    val q = rows.toDF().writeStream.outputMode("append")
      .format("memory").queryName("scusum_out")
      .start()
    def emitted() = spark.table("scusum_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet
    try {
      val t0 = 1700000000000L / 1000 / 60 * 60
      // dip then burst: bucket 0 cnt 1 (S=-1, min=-1), bucket 1 cnt 5
      // (S=2, cusum=3 -> ALARM), bucket 2 cnt 1, long idle gap,
      // bucket 10 cnt 1. Batches split so open buckets merge counts
      // and the watermark (0s delay, lagging one batch) closes them
      // one step behind.
      input.addData(Seq(("a", ts(0)))); q.processAllAvailable()
      input.addData(Seq(("a", ts(1)), ("a", ts(1)), ("a", ts(1)),
        ("a", ts(1)), ("a", ts(1)))); q.processAllAvailable()
      assert(emitted().isEmpty, "nothing closed yet")
      input.addData(Seq(("a", ts(2)))); q.processAllAvailable()
      assert(emitted() === Set(("a", t0, 1L, -1L, 0L, false)))
      input.addData(Seq(("a", ts(10)))); q.processAllAvailable()
      // wm=min2 closed bucket 1: the alarm row
      assert(emitted().contains(("a", t0 + 60, 5L, 2L, 3L, true)))
      input.addData(Seq(("a", ts(20)))); q.processAllAvailable()
      input.addData(Seq(("a", ts(21)))); q.processAllAvailable()
      val got = emitted()
      assert(got.contains(("a", t0 + 120, 1L, 1L, 2L, false)))
      // carry survived the idle gap: bucket 10 continues S from 1
      assert(got.contains(("a", t0 + 600, 1L, 0L, 1L, false)),
        s"carry lost across idle gap: $got")
      assert(got.size === 4, s"unexpected extra rows: $got")
    } finally q.stop()
  }
}
