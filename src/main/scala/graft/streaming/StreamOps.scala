package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming surface (SURVEY.md §2.12: the reference's
 * closest analog is the per-PointView PDAL plugin; the engine provides
 * real streaming for the web-event side of the pipeline).
 *
 * Ops: watermarked tumbling-window aggregation and stateful
 * sessionization via flatMapGroupsWithState — the streaming dual of the
 * batch q_sessionize query (same gap semantics), testable with the
 * file/memory sources (StreamingSpec drives them with
 * processAllAvailable).
 */
object StreamOps {

  /** Tumbling-window counts/sums per event type with a watermark. */
  def windowedCounts(events: DataFrame, window: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** `th` is the content hash as xxhash64 (signed Long) — the SAME
    * encoding and ordering Flagship's batch `max_by` tie-break uses, so
    * the streaming final state is equivalent to the batch dedup for any
    * input, not just string-ordered hashes. */
  final case class Page(url: String, warc_ts: Long, th: Long)
  final case class Latest(url: String, warc_ts: Long, th: Long)

  /** Replay-safe EXACT dedup for an at-least-once ingest stream:
    * re-deliveries of the same content key arriving within `horizon`
    * (event time) of the first copy are dropped; the key's dedup state
    * is evicted once the watermark passes its event time + horizon
    * (`dropDuplicatesWithinWatermark`), so state is bounded by the
    * keys seen inside ONE horizon, never by the 10^12-key space. A
    * re-delivery arriving later than the horizon re-emits — the
    * documented at-least-once residue, absorbed downstream by the
    * idempotent MERGE sinks ([[upsertSink]]). */
  def replayDedup(rows: DataFrame, tsCol: String, keyCols: Seq[String],
                  horizon: String = "7 days"): DataFrame =
    rows.withColumn("_ets", col(tsCol).cast("timestamp"))
      .withWatermark("_ets", horizon)
      .dropDuplicatesWithinWatermark(keyCols)
      .drop("_ets")

  /** Streaming latest-capture url-dedup (the flagship's J6 as a stream):
    * per url, keep the max (warc_ts, content-hash) seen so far and emit
    * the current winner on every update — OutputMode.Update gives the
    * Delta-style upsert stream; the final state equals the batch max_by
    * aggregate (asserted in StreamingSpec).
    *
    * State bound: one (ts, hash) pair per url would otherwise be the
    * whole 10^12-key space. A watermark on warc_ts (`evictAfter` delay)
    * plus EventTimeTimeout evicts a url's state once the watermark
    * passes its last capture + `evictAfter`. The watermark also drops
    * late input older than itself, so eviction never changes an answer
    * the operator would still accept: any re-capture young enough to
    * pass the watermark re-seeds state and wins exactly as the batch
    * aggregate over the retained horizon would. State is therefore
    * bounded by the urls captured within one eviction window. */
  def latestCapture(pages: Dataset[Page],
                    evictAfter: String = "7 days"): Dataset[Latest] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .withColumn("ets", col("warc_ts").cast("timestamp"))
      .withWatermark("ets", evictAfter)
      .as[Page]
      .groupByKey(_.url)
      .flatMapGroupsWithState[Latest, Latest](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (url: String, ps: Iterator[Page], state: GroupState[Latest]) =>
          if (!ps.hasNext) { // timeout fired: watermark passed last capture + TTL
            state.remove()
            Iterator.empty
          } else {
            val incoming = ps.map(p => (p.warc_ts, p.th)).reduce((a, b) =>
              if (a._1 > b._1 || (a._1 == b._1 && a._2 >= b._2)) a else b)
            val best = state.getOption
              .filter(cur => cur.warc_ts > incoming._1 ||
                (cur.warc_ts == incoming._1 && cur.th >= incoming._2))
              .getOrElse(Latest(url, incoming._1, incoming._2))
            state.update(best)
            // input passed the watermark filter, so best.ts*1000 >= wm and
            // the timeout is always in the watermark's future
            state.setTimeoutTimestamp(best.warc_ts * 1000L, evictAfter)
            Iterator.single(best)
          }
      }
  }

  /** Streaming tile aggregation (A1 as a stream): geocoded points
    * (lon, lat, z, ts) stream into the 2x2-splat grid; per (event-time
    * window, cell) running MAX, watermarked so windows close and
    * over-late points are dropped. Emitted closed-window rows equal the
    * batch `groupBy(window(ts), gx, gy).agg(max(qz))` over the retained
    * rows, and folding `max(v)` across a cell's windows recovers the
    * batch DSM (max is associative — the same commuting argument as
    * `Gridding.dsm`'s aggregate-then-splat). State is bounded by
    * (open windows x touched cells), never by the input. */
  def tileMax(pts: DataFrame, spec: graft.grid.Gridding.GridSpec = graft.grid.Gridding.WorldGrid,
              window: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    graft.grid.Gridding.splat2x2(graft.grid.Gridding.points(pts, spec))
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("gx"), col("gy"))
      .agg(max(col("qz")).as("v"))

  /** Streaming per-window top-k heavy hitters — CHAINED stateful
    * aggregations in append mode (Spark's multiple-stateful-operator
    * support): stage 1 keeps exact per-(window, key) counts (state
    * bounded by live keys inside the watermark, evicted at window
    * close), stage 2 folds each closed window's counts through the
    * bounded-heap [[graft.sketch.TopK]] aggregate (state = k pairs per
    * open window — NOT the key space). At 10^12 events/day the emitted
    * stream is k rows per window, and no stage ever re-sorts a window's
    * full key histogram: the heap keeps partial aggregation map-side,
    * identical to the batch q_topk_langs argument. Ties break
    * (cnt desc, key asc), same as the TopK contract. Rows emit when the
    * watermark passes the window end; the same code path runs on a
    * batch frame (window fn + two aggs) for the exactness dual. */
  def windowTopK(events: DataFrame, tsCol: String, keyCol: String,
                 win: String = "1 hour", k: Int = 3,
                 watermark: String = "0 seconds"): DataFrame = {
    val wcol = org.apache.spark.sql.functions.window(col(tsCol), win)
    val counted = events
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermark)
      .groupBy(wcol.as("window"), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
    counted
      .groupBy(org.apache.spark.sql.functions.window(col("window"), win)
        .as("window"))
      .agg(graft.sketch.TopK.topK(col(keyCol), col("cnt"), k).as("top"))
      .select(col("window").getField("start").cast("long").as("ws"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("ws"), (col("pos") + 1).cast("long").as("rank"),
        col("t").getField("item").as(keyCol), col("t").getField("score").as("cnt"))
  }

  /** Stream-static point-in-polygon enrichment (J4 as a stream): a
    * stream of geocoded pages (doc_id, lon, lat) joins the static AOI
    * set through the SAME cell-cover + JTS path the batch join uses
    * ([[graft.join.SpatialJoins.pipJoin]]). The static side (exploded
    * polygon cell covers) is broadcast, the stream side carries one
    * codegen'd cell id and is never shuffled, and the operator is
    * stateless — no watermark or state store — so at 10^12 docs the
    * per-micro-batch cost is a map-side hash probe. Emitted rows equal
    * the batch join over the same input (append mode, exactly one row
    * per (aoi, doc) hit). */
  def pipEnrich(pts: DataFrame, aois: Seq[graft.join.Aoi.AoiDef] = graft.join.Aoi.defs,
                res: Int = 7): DataFrame =
    graft.join.SpatialJoins.pipJoin(pts, aois, res)

  /** Stream-stream interval join (the last §2.12 join shape next to the
    * stateless stream-static [[pipEnrich]]): left rows (e.g. page views)
    * join right rows (e.g. clicks) with the same key when the right
    * event time falls in `[lTs, lTs + withinSec]`. Both sides carry a
    * watermark, and the range condition on the two event-time columns is
    * what lets Spark EVICT state: a buffered row is dropped once the
    * other side's watermark passes its join horizon, so state is bounded
    * by rows inside (watermark delay + withinSec), never by the streams.
    * Works identically on batch frames (same plan semantics) — the spec
    * asserts streaming output == the batch interval join. */
  def intervalJoin(lhs: DataFrame, rhs: DataFrame,
                   lKey: String, rKey: String, lTs: String, rTs: String,
                   withinSec: Int, watermark: String = "1 hour"): DataFrame = {
    val (l, r) =
      if (lhs.isStreaming || rhs.isStreaming)
        (lhs.withWatermark(lTs, watermark), rhs.withWatermark(rTs, watermark))
      else (lhs, rhs)
    l.join(r, expr(
      s"$lKey = $rKey AND $rTs >= $lTs AND $rTs <= $lTs + INTERVAL $withinSec SECOND"))
  }

  /** Commit one micro-batch as the next snapshot of `table`, keyed by
    * (queryName, batchId) in the lineage so a RESTARTED stream replaying
    * a batch (foreachBatch is at-least-once) commits it exactly once —
    * the snapshot layer's atomic manifest is what upgrades the sink to
    * effectively-once. Returns the manifest (fresh or already-present). */
  def commitBatch(batch: DataFrame, root: String, table: String,
                  queryName: String, batchId: Long): graft.meta.Snapshots.Manifest = {
    val lineage = s"stream:$queryName:batch-$batchId"
    graft.meta.Snapshots.committed(root, table).find(_.lineage == lineage)
      .getOrElse(graft.meta.Snapshots.commit(batch, root, table, lineage))
  }

  /** Streaming snapshot sink: every micro-batch becomes one committed
    * snapshot of `root/table` (monotonic ids, atomic manifests), so the
    * downstream side reads the stream INCREMENTALLY through the same
    * snapshot API batch jobs use — [[graft.meta.Snapshots.diff]] between
    * two ids is the change set, `latest` is the newest batch, and a
    * consumer that remembers its last-processed id resumes exactly
    * where it stopped. This is the engine's Iceberg-style streaming
    * ingest (SURVEY.md §2.12): the write path is the batch commit, the
    * streaming runtime only supplies batching + restart replay, and
    * [[commitBatch]]'s lineage key de-duplicates replays. */
  def snapshotSink(df: DataFrame, root: String, table: String,
                   queryName: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .queryName(queryName)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        commitBatch(batch.toDF(), root, table, queryName, batchId)
        ()
      }

  /** Fold one (micro-)batch of upserts into the snapshot table keyed by
    * `keyCols`, keeping the winner per key under `orderCols` (e.g.
    * `Seq(col("warc_ts").desc, md5(col("text")).desc)` — the flagship's
    * latest-capture order) across BOTH the batch and the table's current
    * matching rows. Because the winner is recomputed against current
    * state, the final table is independent of how captures were split
    * across batches and of their arrival ORDER — an old capture arriving
    * late can never overwrite a newer row. Cost per batch: one key
    * semi-join against current state + the COW [[Snapshots.merge]],
    * which rewrites only the files containing matched keys. Value-
    * idempotent: replaying a batch (foreachBatch redelivery after a
    * restart) recomputes the same winners and leaves content unchanged. */
  def upsertBatch(batch: DataFrame, root: String, table: String,
                  keyCols: Seq[String],
                  orderCols: Seq[org.apache.spark.sql.Column])
      : graft.meta.Snapshots.Manifest = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    def winners(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    graft.meta.Snapshots.latest(root, table) match {
      case None =>
        graft.meta.Snapshots.commit(winners(batch), root, table,
          s"upsert-init:$table")
      case Some(m) =>
        val cur = graft.meta.Snapshots.read(spark, m)
        val keys = batch.select(keyCols.map(col): _*).distinct()
        val relevant = cur.join(keys, keyCols, "left_semi")
        val win = winners(
          batch.select(cur.columns.map(col).toSeq: _*).unionByName(relevant))
        // winners() keeps exactly row_number == 1 per key, so the
        // duplicate-key guard can be skipped (one job per micro-batch)
        graft.meta.Snapshots.merge(spark, root, table, win, keyCols,
          deleteMatched = false, sourceKeysUnique = true)
    }
  }

  /** Streaming UPSERT sink — CDC into the Iceberg-style snapshot table:
    * every micro-batch runs [[upsertBatch]], so the downstream reader
    * always sees one row per key (the current winner), unlike
    * [[snapshotSink]] which appends each batch as its own snapshot.
    * This is the streaming face of the flagship's J6 latest-capture
    * dedup with the table itself as the state store: no Spark state,
    * unbounded key space, restart-safe through the committed manifests. */
  def upsertSink(df: DataFrame, root: String, table: String,
                 keyCols: Seq[String],
                 orderCols: Seq[org.apache.spark.sql.Column],
                 queryName: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .queryName(queryName)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsertBatch(batch.toDF(), root, table, keyCols, orderCols)
        ()
      }

  final case class Ev(user_id: Long, tsec: Double, event_id: Long)
  final case class Session(user_id: Long, start: Double, end: Double, n: Long)
  final case class CusumState(s: Long, minS: Long, open: Map[Long, Long])
  final case class CusumRow(key: String, t: Long, cnt: Long, s: Long,
                            cusum: Long, alarm: Boolean)

  /** Streaming CUSUM changepoint alarms — the batch
    * [[graft.temporal.Cusum]] recursion as bounded per-key state:
    * incoming events accumulate into OPEN time-bucket counts; whenever
    * the watermark passes a bucket's end, that bucket can never grow
    * again, so it folds (in bucket order) into the running
    * `(S, min S)` pair and emits its `(cnt, s, cusum, alarm)` row.
    * State per key = two longs + the open buckets inside the watermark
    * horizon — NOT the key's history (the batch op's two-level-scan
    * bound, restated for streams; the two-long `(S, min S)` carry is
    * the irreducible CUSUM memory and persists for the key's
    * lifetime). An EventTimeTimeout at the last open bucket's end
    * flushes idle keys' buckets. Emitted rows for any prefix equal
    * the batch operator over the finalized buckets — q_stream_cusum's
    * dual IS that batch form in SQL. */
  def streamCusum(events: DataFrame, keyCol: String, tsCol: String,
                  bucketSecs: Long, drift: Long, threshold: Long,
                  watermark: String): Dataset[CusumRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    // the watermarked event-time column must survive the projection —
    // event-time timeout resolves against it
    val src = events
      .withColumn("ets", col(tsCol).cast("timestamp"))
      .withWatermark("ets", watermark)
      .select(col(keyCol).cast("string").as("key"),
        floor(col("ets").cast("double") / bucketSecs.toDouble)
          .cast("long").as("bkt"),
        col("ets"))
      .as[(String, Long, java.sql.Timestamp)]
    src.groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[CusumState]) =>
          val st0 = state.getOption.getOrElse(
            CusumState(0L, Long.MaxValue, Map.empty))
          val open = scala.collection.mutable.Map(st0.open.toSeq: _*)
          rows.foreach { case (_, b, _) =>
            open(b) = open.getOrElse(b, 0L) + 1L
          }
          val wmSec = state.getCurrentWatermarkMs() / 1000L
          val (closed, stillOpen) =
            open.toSeq.partition { case (b, _) => (b + 1) * bucketSecs <= wmSec }
          var s = st0.s
          var minS = st0.minS
          val out = closed.sortBy(_._1).map { case (b, cnt) =>
            s += cnt - drift
            if (s < minS) minS = s
            val c = s - minS
            CusumRow(key, b * bucketSecs, cnt, s, c, c >= threshold)
          }
          // the (s, minS) carry IS the series — it persists (2 longs
          // per key, the irreducible CUSUM memory); only open buckets
          // are horizon-bounded, flushed by watermark or timeout
          if (stillOpen.isEmpty) {
            state.update(CusumState(s, minS, Map.empty))
          } else {
            state.update(CusumState(s, minS, stillOpen.toMap))
            val lastEnd = (stillOpen.map(_._1).max + 1) * bucketSecs * 1000L
            state.setTimeoutTimestamp(
              math.max(lastEnd, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  final case class SessState(start: Double, last: Double, n: Long)

  /** Stateful gap-based sessionization (1h gap): emits a session when
    * the gap is exceeded, and — in a real stream — when the watermark
    * passes the open session's last event + gap (EventTimeTimeout), at
    * which point the session can never be extended again: any later
    * event the watermark still admits has `tsec >= wm > last + gap`, so
    * it would have started a NEW session anyway. The timeout therefore
    * emits the open session AND evicts the key, bounding state to users
    * active within one gap of the watermark (without it, 10^12-key
    * streams grow one SessState per user forever). Batch inputs keep the
    * closed-sessions-only contract (no timeouts fire in batch; the spec
    * pins streamed == batch - 1 open session per user, and the streaming
    * idle-eviction case pins the timeout path). */
  def sessionize(events: Dataset[Ev], gapSec: Double = 3600.0): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming
    val src =
      if (streaming)
        events
          .withColumn("ets", col("tsec").cast("timestamp"))
          .withWatermark("ets", s"${math.ceil(gapSec).toLong} seconds")
          .as[Ev]
      else events
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, timeoutConf) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          if (!evs.hasNext) {
            // timeout fired: wm > last + gap, session closed for good
            val st = state.get
            state.remove()
            Iterator.single(Session(uid, st.start, st.last, st.n))
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.tsec, e.event_id))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer[Session]()
            sorted.foreach { e =>
              if (st == null) st = SessState(e.tsec, e.tsec, 1)
              else if (e.tsec - st.last > gapSec) {
                out += Session(uid, st.start, st.last, st.n)
                st = SessState(e.tsec, e.tsec, 1)
              } else st = SessState(st.start, e.tsec, st.n + 1)
            }
            if (st != null) {
              state.update(st)
              if (streaming)
                // input passed the watermark, so last*1000 + gap is
                // always in the watermark's future
                state.setTimeoutTimestamp(
                  (st.last * 1000.0).toLong + (gapSec * 1000.0).toLong)
            }
            out.iterator
          }
      }
  }
}
