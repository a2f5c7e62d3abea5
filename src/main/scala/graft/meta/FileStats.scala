package graft.meta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics, Statistics}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * File-level min/max statistics for snapshot data files, read from
 * PARQUET FOOTERS ONLY — no data pages are touched, so indexing a
 * snapshot costs O(files), not O(bytes). This is the data-skipping half
 * of the Iceberg table format the snapshot layer stands in for
 * (SURVEY.md §4.7): a range query over a clustered column reads only
 * the files whose [min, max] interval intersects the range.
 *
 * The reference has no file layer at all (it holds one dense raster in
 * RAM); at the 100 TB design point the engine's cell tables are
 * millions of parquet files, and footer pruning is what turns a
 * cell-range probe from a full-table scan into a handful of file reads.
 *
 * Scale shape: footers are read ON THE EXECUTORS (the file list is
 * parallelized, the Hadoop conf rebuilt per partition from a broadcast
 * key/value snapshot), so stat collection for a million-file snapshot
 * is one embarrassingly parallel pass; the stats table itself is ~100
 * bytes per (file, column) and lives next to the manifest as
 * `_filestats/<id>` parquet.
 *
 * Only INT32/INT64 columns carry usable stats here (the engine's
 * cluster keys — cell ids, doc ids, quantized values — are all
 * integral). Files whose footer lacks stats for the probe column are
 * conservatively KEPT by the pruner, so missing or unsupported stats
 * can never change an answer.
 */
object FileStats {

  /** One (file, column) stats row. `hasStats = false` marks a file whose
    * footer carries no usable min/max for `col` (pruner must keep it). */
  final case class FileStat(path: String, rows: Long, col: String,
      min: Long, max: Long, nulls: Long, hasStats: Boolean)

  /** Data files of a snapshot directory (non-hidden `*.parquet`). */
  def dataFiles(conf: Configuration, dataPath: String): Seq[String] = {
    val p = new HPath(dataPath)
    val fs = FileSystem.get(p.toUri, conf)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
      .sorted
  }

  /** Exact row count of one parquet file from its footer block metadata
    * (no data pages read). */
  def rowCount(conf: Configuration, file: String): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file), conf))
    try {
      import scala.jdk.CollectionConverters._
      reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    } finally reader.close()
  }

  /** Footer stats of one file for the requested columns. Row count comes
    * from block metadata (exact); min/max fold across row groups. */
  def ofFile(conf: Configuration, file: String, statCols: Seq[String]): Seq[FileStat] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file), conf))
    try {
      import scala.jdk.CollectionConverters._
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      statCols.map { c =>
        var min = Long.MaxValue
        var max = Long.MinValue
        var nulls = 0L
        var ok = true
        var seen = false
        for (b <- blocks; ch <- b.getColumns.asScala
             if ch.getPath.toDotString == c) {
          seen = true
          val st: Statistics[_] = ch.getStatistics
          if (st == null || st.isEmpty) ok = false
          else {
            nulls += st.getNumNulls
            if (st.hasNonNullValue) st match {
              case l: LongStatistics =>
                min = math.min(min, l.getMin); max = math.max(max, l.getMax)
              case i: IntStatistics =>
                min = math.min(min, i.getMin.toLong); max = math.max(max, i.getMax.toLong)
              case _ => ok = false
            }
          }
        }
        // a column absent from every row group (schema drift) or an
        // all-null column yields no interval -> not prunable, keep file
        if (!seen || min > max) ok = false
        FileStat(file, rows, c,
          if (ok) min else 0L, if (ok) max else 0L, nulls, ok)
      }
    } finally reader.close()
  }

  /** Snapshots at or below this many data files read their footers ON
    * THE DRIVER (no Spark job): the cost is the same O(files) footer
    * I/O the commit path's row-count pass already does driver-side, and
    * scheduling an RDD job for a handful of footers is pure fixed cost.
    * Larger file sets keep the distributed pass. */
  final val DriverFooterGate = 64

  /** Collect footer stats for every data file of `dataPath`, distributed
    * over the executors. The driver only ships the file list and the
    * conf snapshot; each task opens its files' footers locally. */
  def collect(spark: SparkSession, dataPath: String,
              statCols: Seq[String]): Seq[FileStat] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(conf, dataPath)
    if (files.isEmpty) return Nil
    if (files.size <= DriverFooterGate)
      return files.flatMap(f => ofFile(conf, f, statCols))
        .sortBy(s => (s.path, s.col))
    import scala.jdk.CollectionConverters._
    // Configuration is not serializable: ship its entries and rebuild
    val entries = conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toSeq
    val bc = spark.sparkContext.broadcast(entries)
    val cols = statCols
    val slices = math.min(files.size, spark.sparkContext.defaultParallelism)
    spark.sparkContext.parallelize(files, math.max(1, slices))
      .mapPartitions { it =>
        val c = new Configuration(false)
        bc.value.foreach { case (k, v) => c.set(k, v) }
        it.flatMap(f => ofFile(c, f, cols))
      }
      .collect().toSeq.sortBy(s => (s.path, s.col))
  }

  /** Schema of `_filestats/<id>`: the fields of [[FileStat]], in order,
    * with the types the old `toDF().write.parquet` output had, so
    * [[graft.meta.Snapshots.fileStats]] reads both. */
  private[meta] val StatsSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message graft_file_stats {
        |  required binary path (UTF8);
        |  required int64 rows;
        |  required binary col (UTF8);
        |  required int64 min;
        |  required int64 max;
        |  required int64 nulls;
        |  required boolean hasStats;
        |}""".stripMargin)

  /** Prune report: how many data files the range probe actually read. */
  final case class PruneReport(totalFiles: Int, keptFiles: Int) {
    def skipped: Int = totalFiles - keptFiles
  }

  /** The files of `stats` a closed-interval probe [lo, hi] on `colName`
    * must read: every file whose stats interval intersects the range,
    * plus every file with no usable stats for the column (conservative —
    * correctness never depends on stats being present). */
  def prunedFiles(stats: Seq[FileStat], colName: String,
                  lo: Long, hi: Long): Seq[String] = {
    val byFile = stats.filter(_.col == colName).groupBy(_.path)
    val all = stats.map(_.path).distinct
    all.filter { f =>
      byFile.get(f) match {
        case Some(Seq(s)) if s.hasStats => s.max >= lo && s.min <= hi
        case _ => true // no stats row, duplicate rows, or unusable stats
      }
    }.sorted
  }

  /** Empty DataFrame with the parquet schema of `dataPath` (for a probe
    * whose range excludes every file). */
  def emptyLike(spark: SparkSession, dataPath: String): DataFrame =
    spark.read.parquet(dataPath).where(org.apache.spark.sql.functions.lit(false))

  /** Range-probe a snapshot directory through its file stats: read only
    * intersecting files, then apply the exact predicate (file pruning is
    * a superset filter — the predicate still runs, so the result is
    * bit-identical to an unpruned scan). Returns the filtered frame and
    * the prune report. */
  def readRange(spark: SparkSession, dataPath: String, stats: Seq[FileStat],
                colName: String, lo: Long, hi: Long): (DataFrame, PruneReport) = {
    val total = stats.map(_.path).distinct.size
    val kept = prunedFiles(stats, colName, lo, hi)
    val df =
      if (kept.isEmpty) emptyLike(spark, dataPath)
      else spark.read.parquet(kept: _*)
    (df.where(col(colName) >= lo && col(colName) <= hi),
      PruneReport(total, kept.size))
  }
}
