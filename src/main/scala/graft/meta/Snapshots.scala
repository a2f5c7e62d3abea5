package graft.meta

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Minimal Iceberg-style snapshot layer over Parquet (SURVEY.md §4.7):
 * no Iceberg jar ships in this environment, so the engine implements
 * the part of the contract the north rule needs — atomic commits,
 * monotonic snapshot ids, lineage recording, and resume-from-last-
 * committed-snapshot.
 *
 * Layout per table:
 *   root/<table>/snap-<id>/          parquet data
 *   root/<table>/_manifests/<id>.json  commit record (written via temp +
 *                                      atomic rename — a crash mid-write
 *                                      never yields a committed manifest)
 *
 * A stage is resumable when a committed manifest exists whose lineage
 * signature (the caller-supplied description of inputs + transform
 * version) matches; otherwise the stage recomputes and commits the next
 * snapshot id. Readers always see the highest committed id.
 */
object Snapshots {

  final case class Manifest(
      table: String, snapshotId: Long, rows: Long, committedAtMs: Long,
      dataPath: String, lineage: String)

  private def manifestDir(root: String, table: String): Path =
    Paths.get(root, table, "_manifests")

  private def fmt(m: Manifest): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    s"""{"table": ${q(m.table)}, "snapshotId": ${m.snapshotId}, "rows": ${m.rows},
       | "committedAtMs": ${m.committedAtMs}, "dataPath": ${q(m.dataPath)},
       | "lineage": ${q(m.lineage)}}""".stripMargin
  }

  private def parse(s: String): Manifest = {
    def str(k: String) = {
      val m = ("\"" + k + "\": \"((?:[^\"\\\\]|\\\\.)*)\"").r.findFirstMatchIn(s)
      m.get.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
    }
    def num(k: String) =
      ("\"" + k + "\": (-?\\d+)").r.findFirstMatchIn(s).get.group(1).toLong
    Manifest(str("table"), num("snapshotId"), num("rows"), num("committedAtMs"),
      str("dataPath"), str("lineage"))
  }

  def committed(root: String, table: String): Seq[Manifest] = {
    val dir = manifestDir(root, table)
    if (!Files.isDirectory(dir)) return Nil
    val stream = Files.list(dir)
    val out = scala.collection.mutable.ArrayBuffer[Manifest]()
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".json"))
          out += parse(new String(Files.readAllBytes(p), "UTF-8"))
      }
    } finally stream.close()
    out.sortBy(_.snapshotId).toSeq
  }

  def latest(root: String, table: String): Option[Manifest] =
    committed(root, table).lastOption

  /** One write-task row in the per-partition metrics table (north rule:
    * "per-partition lineage + row-count/latency metrics"): the task's
    * partition index, rows written, wall-clock, and peak memory. */
  final case class PartitionMetric(
      snapshotId: Long, partition: Int, rows: Long, latencyMs: Long,
      peakMemoryBytes: Long)

  /** Listener capturing per-task output metrics of ONE snapshot write.
    * Scoped to the write's own job via a job-group tag (SparkContext is
    * shared — a concurrent job's tasks must not leak into this
    * snapshot's metrics) and restricted to SUCCESSFUL attempts (a
    * failed attempt that already reported rows would otherwise
    * double-count with its retry; last success wins per partition
    * index). One metric row per write task that produced a file —
    * Spark's write path creates no file (and no output metrics) for an
    * empty partition, so empty partitions have no row by construction,
    * matching the files actually present in the snapshot. */
  private final class WriteMetricsListener(group: String)
      extends org.apache.spark.scheduler.SparkListener {
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val byPartition =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (j.properties != null &&
        group == j.properties.getProperty("spark.jobGroup.id"))
        j.stageIds.foreach(id => stages.add(id))
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (stages.contains(t.stageId) && t.reason == org.apache.spark.Success &&
        t.taskMetrics != null && t.taskMetrics.outputMetrics != null &&
        // only write tasks report OUTPUT bytes (an empty parquet
        // partition still writes its footer; AQE's interim shuffle-stage
        // jobs report only shuffleWriteMetrics) — this keeps zero-ROW
        // write partitions while excluding non-write stages
        t.taskMetrics.outputMetrics.bytesWritten > 0)
        byPartition.put(t.taskInfo.index,
          (t.taskMetrics.outputMetrics.recordsWritten,
            t.taskInfo.duration, t.taskMetrics.peakExecutionMemory))
    def tasks: Seq[(Int, Long, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      byPartition.asScala.toSeq.map { case (p, (n, ms, mem)) => (p, n, ms, mem) }
    }
  }

  /** Write df as the next snapshot of `table` and commit atomically.
    * Alongside the manifest, the write's PER-PARTITION metrics (rows
    * written, task latency, peak memory — captured from the task-end
    * events of the write job) are committed to the metadata sub-table
    * `_metrics/<id>`, queryable via [[metrics]]. */
  def commit(df: DataFrame, root: String, table: String, lineage: String): Manifest = {
    val spark = df.sparkSession
    val id = latest(root, table).map(_.snapshotId + 1).getOrElse(0L)
    val dataPath = Paths.get(root, table, s"snap-$id").toString
    writeWithMetrics(df, root, table, id, dataPath)
    val rows = footerRows(spark, dataPath)
    val m = Manifest(table, id, rows, System.currentTimeMillis(), dataPath, lineage)
    writeManifest(root, m)
    m
  }

  /** Exact row count of a snapshot directory from its parquet FOOTERS
    * (block metadata only, no data pages) — the Iceberg-manifest way to
    * learn a committed snapshot's row count. Replaces the post-write
    * `read.parquet(path).count()` full-scan job the commit path used to
    * run: O(files) local footer reads on the driver, the same order as
    * the manifest listing itself, and exact by the parquet spec (row
    * counts are mandatory block metadata). */
  private def footerRows(spark: SparkSession, dataPath: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    FileStats.dataFiles(conf, dataPath).map(FileStats.rowCount(conf, _)).sum
  }

  /** Write `df` to `dataPath` capturing per-partition write metrics into
    * `_metrics/<id>` (the tail shared by [[commit]] and [[merge]]). */
  private def writeWithMetrics(df: DataFrame, root: String, table: String,
                               id: Long, dataPath: String): Unit = {
    val spark = df.sparkSession
    val group = s"graft-snap-$table-$id-${System.nanoTime()}"
    val listener = new WriteMetricsListener(group)
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, s"snapshot $table/$id", false)
      df.write.mode("overwrite").parquet(dataPath)
    } finally {
      spark.sparkContext.clearJobGroup()
      // drain queued listener events so every write task is captured
      org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val pm = listener.tasks.sortBy(_._1)
      .map { case (p, n, ms, mem) => PartitionMetric(id, p, n, ms, mem) }
    if (pm.nonEmpty)
      SideParquet.replace(spark.sparkContext.hadoopConfiguration,
        Paths.get(root, table, "_metrics", id.toString), MetricsSchema, pm)
  }

  /** Schema of `_metrics/<id>`: the fields of [[PartitionMetric]], in
    * order, with the types the old `toDF().write.parquet` output had, so
    * [[metrics]] reads both. */
  private[graft] val MetricsSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message graft_partition_metrics {
        |  required int64 snapshotId;
        |  required int32 partition;
        |  required int64 rows;
        |  required int64 latencyMs;
        |  required int64 peakMemoryBytes;
        |}""".stripMargin)

  /** Delete a file, or a directory with everything below it. */
  private[meta] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally stream.close()
    }

  /** Commit a manifest record atomically (temp file + atomic rename). */
  /** Publish a manifest with CREATE_NEW semantics: two committers that
    * both derived the same next snapshot id (latest+1) must not silently
    * last-write-win — on Linux ATOMIC_MOVE replaces an existing target,
    * which would drop the first committer's snapshot without any error.
    * A hard link from a unique temp name fails atomically with
    * FileAlreadyExistsException if the id is already taken, so the losing
    * committer gets an exception (Iceberg's optimistic-commit conflict)
    * instead of a lost update. */
  private def writeManifest(root: String, m: Manifest): Unit = {
    val dir = manifestDir(root, m.table)
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".${m.snapshotId}-", ".json.tmp")
    Files.write(tmp, fmt(m).getBytes("UTF-8"))
    val dst = dir.resolve(s"${m.snapshotId}.json")
    try Files.createLink(dst, tmp)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new IllegalStateException(
          s"concurrent commit conflict: snapshot ${m.snapshotId} of " +
            s"'${m.table}' was already committed by another writer", e)
    } finally Files.deleteIfExists(tmp)
  }

  /** The per-partition metrics metadata table across all committed
    * snapshots of `table` (empty df if none recorded). */
  def metrics(spark: SparkSession, root: String, table: String): DataFrame = {
    val base = Paths.get(root, table, "_metrics")
    val dirs =
      if (!Files.isDirectory(base)) Nil
      else {
        val stream = Files.list(base)
        val out = scala.collection.mutable.ArrayBuffer[String]()
        try {
          val it = stream.iterator()
          while (it.hasNext) { val p = it.next(); if (Files.isDirectory(p)) out += p.toString }
        } finally stream.close()
        out.toSeq
      }
    if (dirs.isEmpty) {
      import spark.implicits._
      Seq.empty[PartitionMetric].toDF()
    } else spark.read.parquet(dirs: _*)
  }

  def read(spark: SparkSession, m: Manifest): DataFrame =
    spark.read.parquet(m.dataPath)

  /** Time travel: the table state as of wall-clock `tsMs` — the highest
    * snapshot committed at or before that instant (None when the table
    * had no committed snapshot yet). Reads only manifests; data files of
    * superseded snapshots are never rewritten, so any historical state
    * remains readable until explicitly vacuumed. */
  def asOf(root: String, table: String, tsMs: Long): Option[Manifest] =
    committed(root, table).filter(_.committedAtMs <= tsMs).lastOption

  /** Time travel by snapshot id (exact match). */
  def at(root: String, table: String, snapshotId: Long): Option[Manifest] =
    committed(root, table).find(_.snapshotId == snapshotId)

  /** Incremental read: the row-level change set between two committed
    * snapshot states — `change='delete'` for rows in `fromId` but not
    * `toId`, `change='insert'` for rows in `toId` but not `fromId` (set
    * semantics, like SQL EXCEPT; an updated row appears as one delete +
    * one insert). Pure DataFrame transform — the two states never pass
    * through the driver; the anti-join shuffles hash-partition on the
    * full row, so the diff of two 100 TB states is one co-partitioned
    * pass, not a collect. */
  def diff(spark: SparkSession, root: String, table: String,
           fromId: Long, toId: Long): DataFrame = {
    def state(id: Long): DataFrame = read(spark, at(root, table, id).getOrElse(
      throw new IllegalArgumentException(s"diff: no committed snapshot $id for $table")))
    val (from, to) = (state(fromId), state(toId))
    val cols = from.columns.map(org.apache.spark.sql.functions.col).toSeq
    import org.apache.spark.sql.functions.lit
    from.except(to).select(lit("delete").as("change") +: cols: _*)
      .unionAll(to.except(from).select(lit("insert").as("change") +: cols: _*))
  }

  /** Roll the table back to `snapshotId`: commits a NEW snapshot whose
    * data path points at the old snapshot's files (no data copy, no
    * history rewrite — exactly how Iceberg's rollback works). Readers of
    * `latest` immediately see the old state; the intervening snapshots
    * stay in history for audit until vacuumed. */
  def rollback(root: String, table: String, snapshotId: Long): Manifest = {
    val target = at(root, table, snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"rollback: no committed snapshot $snapshotId for $table"))
    val id = latest(root, table).get.snapshotId + 1
    val m = Manifest(table, id, target.rows, System.currentTimeMillis(),
      target.dataPath, s"rollback-to-$snapshotId:${target.lineage}")
    writeManifest(root, m)
    m
  }

  /** Row-level MERGE into the latest snapshot (the `MERGE INTO` of an
    * Iceberg-style table), copy-on-write at FILE granularity:
    *
    *  - upsert mode (`deleteMatched = false`): every target row whose
    *    key matches a source row is REPLACED by that source row; source
    *    rows with no target match are INSERTED;
    *  - delete mode (`deleteMatched = true`): matched target rows are
    *    dropped, unmatched source keys are no-ops (source may be
    *    key-columns-only).
    *
    * Only data files that actually CONTAIN a matched key are rewritten:
    * one pass over the target tags rows with `input_file_name()` and a
    * key semi-join reduces to the touched-file list, the anti-join +
    * union rewrite reads only those files, and every untouched file is
    * HARD-LINKED into the new snapshot directory — no bytes copied, no
    * history rewrite; the old snapshot stays readable (time travel) and
    * [[vacuum]] stays safe because links keep the shared inodes alive
    * until every referencing snapshot is gone. On an object store the
    * same design carries the untouched-file list in the manifest instead
    * of links (Iceberg's manifest-list), which this layer's single
    * dataPath deliberately simplifies away.
    *
    * Scale shape: the touched-file discovery is one scan with a
    * broadcastable key side (source is the small side of a MERGE by
    * construction — at 100 TB the caller merges a batch of upserts, not
    * a second table of equal size); the rewrite cost is proportional to
    * the TOUCHED data, not the table, which is the point of file-level
    * COW — a key-clustered table (see [[commitClustered]]) localizes
    * matches to few files. The touched-file list itself is O(files)
    * driver memory, the same order as the manifest listing. */
  def merge(spark: SparkSession, root: String, table: String,
            source: DataFrame, keyCols: Seq[String],
            deleteMatched: Boolean = false): Manifest =
    merge(spark, root, table, source, keyCols, deleteMatched, sourceKeysUnique = false)

  /** `sourceKeysUnique = true` lets an engine caller that has JUST
    * deduplicated the source (e.g. [[graft.streaming.StreamOps.upsertBatch]]'s
    * row_number == 1 winners) skip the duplicate-key guard aggregate —
    * one Spark job per merge; semantics are unchanged because the guard
    * can only ever pass for such a source. Not public: an unchecked
    * claim would silently insert several rows per duplicated key. */
  private[graft] def merge(spark: SparkSession, root: String, table: String,
            source: DataFrame, keyCols: Seq[String],
            deleteMatched: Boolean, sourceKeysUnique: Boolean): Manifest = {
    import org.apache.spark.sql.functions.{coalesce, col, count, input_file_name, lit, sum}
    require(keyCols.nonEmpty, "merge: keyCols must be non-empty")
    val src = latest(root, table).getOrElse(throw new IllegalStateException(
      s"merge: no committed snapshot for $table"))
    val target = read(spark, src)
    require(keyCols.forall(target.columns.contains),
      s"merge: key columns $keyCols missing from target ${target.columns.toSeq}")
    if (!deleteMatched)
      require(target.columns.toSet == source.columns.toSet,
        s"merge: source columns ${source.columns.toSeq} must match target " +
          s"${target.columns.toSeq} for upsert")
    // source may be lazily derived/nondeterministic; pin it ONCE so the
    // duplicate-key guard, the touched-file discovery, and the rewrite
    // all see the SAME rows (guarding an unpinned plan could pass or
    // fail against rows the rewrite never sees)
    val pinned = source.localCheckpoint(eager = true)
    val keys = pinned.select(keyCols.map(col): _*).distinct()
    if (!deleteMatched && !sourceKeysUnique) {
      // Iceberg MERGE errors when multiple source rows match one target
      // key; a duplicate-key source here would silently insert several
      // rows per key instead. Enforce the same contract (delete mode is
      // exempt: duplicate keys delete the same rows idempotently). ONE
      // aggregate over the pinned source yields both counts; groupBy
      // keeps NULL-key groups (countDistinct would drop them).
      val cnts = pinned.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("_n"))
        .agg(coalesce(sum(col("_n")), lit(0L)).as("_rows"),
          count(lit(1)).as("_keys"))
        .head()
      val (srcCnt, keyCnt) = (cnts.getLong(0), cnts.getLong(1))
      require(srcCnt == keyCnt,
        s"merge: source has duplicate keys ($srcCnt rows but $keyCnt " +
          s"distinct keys over $keyCols); deduplicate the source first")
    }
    val touched = target.withColumn("_file", input_file_name())
      .join(keys, keyCols, "left_semi")
      .select("_file").distinct()
      .collect().map(_.getString(0)).sorted
    val touchedLocal = touched.map(f =>
      Paths.get(java.net.URI.create(f).getPath))

    val id = src.snapshotId + 1
    val dataPath = Paths.get(root, table, s"snap-$id")
    val survivors =
      if (touched.isEmpty) None
      else Some(spark.read.parquet(touched: _*).join(keys, keyCols, "left_anti"))
    val written = (survivors, deleteMatched) match {
      case (None, true) => None // nothing matched, nothing to write
      case (Some(s), true) => Some(s)
      case (None, false) => Some(pinned.select(target.columns.map(col): _*))
      case (Some(s), false) =>
        Some(s.unionByName(pinned.select(target.columns.map(col): _*)))
    }
    written match {
      case Some(df) => writeWithMetrics(df, root, table, id, dataPath.toString)
      case None => Files.createDirectories(dataPath)
    }
    // hard-link every untouched file of the source snapshot into the new
    // snapshot dir (original names are unique: spark part files carry a
    // per-job uuid, so rewritten and linked names can never collide)
    val touchedSet = touchedLocal.map(_.getFileName.toString).toSet
    val srcDir = Paths.get(src.dataPath)
    val stream = Files.list(srcDir)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        if (name.endsWith(".parquet") && !name.startsWith("_") &&
          !name.startsWith(".") && !touchedSet.contains(name))
          Files.createLink(dataPath.resolve(name), p)
      }
    } finally stream.close()
    val rows = footerRows(spark, dataPath.toString)
    val m = Manifest(table, id, rows, System.currentTimeMillis(),
      dataPath.toString,
      s"merge:${src.snapshotId}:${if (deleteMatched) "delete" else "upsert"}")
    writeManifest(root, m)
    m
  }

  /** Small-file compaction (the `rewrite_data_files` maintenance op of
    * Iceberg-style tables): rewrite the LATEST snapshot's data into
    * `targetFiles` parquet files and commit the result as a new
    * snapshot whose lineage records the source id. Content is
    * row-identical (asserted); readers never block — the fragmented
    * files are immutable and the new manifest lands atomically — and
    * time travel to the pre-compaction state keeps working until
    * [[vacuum]] reclaims it. One round-robin shuffle sized by
    * `targetFiles`; at 100 TB the caller compacts a partition/tile
    * slice at a time, not the whole table. */
  def compact(spark: SparkSession, root: String, table: String,
              targetFiles: Int): Manifest = {
    val src = latest(root, table).getOrElse(throw new IllegalStateException(
      s"compact: no committed snapshot for $table"))
    val c = commit(read(spark, src).repartition(targetFiles), root, table,
      s"compact:${src.snapshotId}")
    if (c.rows != src.rows) {
      // the manifest already landed (commit is atomic); retract it so a
      // corrupt rewrite never stays visible as `latest` — readers fall
      // back to the intact source snapshot. The orphaned data/metrics
      // of the retracted id are unreferenced and harmless.
      Files.deleteIfExists(
        manifestDir(root, table).resolve(s"${c.snapshotId}.json"))
      for (side <- Seq("_metrics", "_filestats"))
        deleteRecursively(Paths.get(root, table, side, c.snapshotId.toString))
      throw new IllegalStateException(
        s"compaction changed row count: ${src.rows} -> ${c.rows}; manifest retracted")
    }
    c
  }

  /** Expire history: drop manifests committed before `olderThanMs` and
    * delete their data directories — UNLESS a surviving manifest still
    * references the same dataPath (rollback aliases paths, so data files
    * are reference-counted by surviving manifests, like Iceberg's
    * expire_snapshots). The latest snapshot always survives. Returns the
    * expired manifests. */
  def vacuum(root: String, table: String, olderThanMs: Long): Seq[Manifest] = {
    val all = committed(root, table)
    if (all.isEmpty) return Nil
    val keepId = all.last.snapshotId
    val (expired, kept) = all.partition(m =>
      m.snapshotId != keepId && m.committedAtMs < olderThanMs)
    val live = kept.map(_.dataPath).toSet
    expired.foreach { m =>
      Files.deleteIfExists(manifestDir(root, table).resolve(s"${m.snapshotId}.json"))
      // metadata side tables of the expired id (metrics, file stats)
      for (side <- Seq("_metrics", "_filestats"))
        deleteRecursively(Paths.get(root, table, side, m.snapshotId.toString))
      if (!live.contains(m.dataPath)) deleteRecursively(Paths.get(m.dataPath))
    }
    expired
  }

  /** Write `df` as the next snapshot CLUSTERED on `orderCols` (range
    * partition into ~`numFiles` files + in-file sort) and index the
    * footer stats of `statCols` — the write shape that makes
    * [[readPruned]] effective: range partitioning gives files DISJOINT
    * key intervals, so a key-range probe intersects O(range/fileSpan)
    * files instead of all of them. Morton-encoded cell ids make this a
    * 2-D spatial clustering (Z-order) for free. */
  def commitClustered(df: DataFrame, root: String, table: String,
                      lineage: String, orderCols: Seq[String],
                      statCols: Seq[String], numFiles: Int): Manifest = {
    import org.apache.spark.sql.functions.col
    val oc = orderCols.map(col)
    val m = commit(
      df.repartitionByRange(numFiles, oc: _*).sortWithinPartitions(oc: _*),
      root, table, lineage)
    indexStats(df.sparkSession, root, table, m.snapshotId, statCols)
    m
  }

  /** Collect + commit footer stats for snapshot `id` (side table
    * `_filestats/<id>`; see [[FileStats]]). Idempotent overwrite. */
  def indexStats(spark: SparkSession, root: String, table: String,
                 id: Long, statCols: Seq[String]): Seq[FileStats.FileStat] = {
    val m = at(root, table, id).getOrElse(throw new IllegalArgumentException(
      s"indexStats: no committed snapshot $id for $table"))
    val stats = FileStats.collect(spark, m.dataPath, statCols)
    if (stats.nonEmpty)
      SideParquet.replace(spark.sparkContext.hadoopConfiguration,
        Paths.get(root, table, "_filestats", id.toString), FileStats.StatsSchema, stats)
    stats
  }

  /** The committed footer stats of snapshot `id` (empty if never
    * indexed). */
  def fileStats(spark: SparkSession, root: String, table: String,
                id: Long): Seq[FileStats.FileStat] = {
    val dir = Paths.get(root, table, "_filestats", id.toString)
    if (!Files.isDirectory(dir)) Nil
    else {
      import spark.implicits._
      spark.read.parquet(dir.toString).as[FileStats.FileStat]
        .collect().toSeq.sortBy(s => (s.path, s.col))
    }
  }

  /** Key-range probe of the LATEST snapshot through its file-level
    * stats: reads only data files whose [min, max] footer interval for
    * `colName` intersects [lo, hi] (files without usable stats are
    * conservatively read), then applies the exact predicate — result is
    * bit-identical to filtering a full scan. Falls back to the full
    * file set when the snapshot was never indexed. */
  def readPruned(spark: SparkSession, root: String, table: String,
                 colName: String, lo: Long, hi: Long)
      : (DataFrame, FileStats.PruneReport) = {
    val m = latest(root, table).getOrElse(throw new IllegalArgumentException(
      s"readPruned: no committed snapshot for $table"))
    val stats = fileStats(spark, root, table, m.snapshotId)
    if (stats.isEmpty) {
      import org.apache.spark.sql.functions.col
      val all = FileStats.dataFiles(
        spark.sparkContext.hadoopConfiguration, m.dataPath).size
      (read(spark, m).where(col(colName) >= lo && col(colName) <= hi),
        FileStats.PruneReport(all, all))
    } else FileStats.readRange(spark, m.dataPath, stats, colName, lo, hi)
  }

  /** Resume point: reuse the latest committed snapshot whose lineage
    * matches, else compute + commit. Returns (df, resumed). */
  def resumeOrCompute(spark: SparkSession, root: String, table: String,
                      lineage: String)(compute: => DataFrame): (DataFrame, Boolean) =
    latest(root, table) match {
      case Some(m) if m.lineage == lineage => (read(spark, m), true)
      case _ =>
        val m = commit(compute, root, table, lineage)
        (read(spark, m), false)
    }
}
