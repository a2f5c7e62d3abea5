package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/**
 * One verifiable engine operation: a Spark implementation plus (where the
 * semantics are ANSI-SQL-expressible) a DuckDB oracle over the same
 * parquet tables. Column names/types and row ordering must agree between
 * the two — the driver hash-compares values after sorting columns by
 * name.
 */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sqlChecked(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))

  def rowsOnly(name: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, None)

  /** Recreate `root` as an empty directory (recursive delete + mkdir) —
    * the shared helper for queries that stage side tables or file-source
    * inputs under a FIXED /tmp root, so repeated runs overwrite instead
    * of accumulating temp copies. */
  def recreateDir(root: String): java.nio.file.Path = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(root))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
  }

  /** A streaming parquet source over the files of directory `src`, one
    * file per micro-batch (in modification order), its schema read from
    * one footer ([[graft.meta.FileStats.schema]]) so no inference job
    * runs. */
  def streamSource(s: SparkSession, src: String): DataFrame =
    s.readStream.schema(graft.meta.FileStats.schema(s, src))
      .option("maxFilesPerTrigger", 1).parquet(src)

  /** The input table `dir/<table>.parquet` copied alone into a fresh
    * side directory, returned for [[streamSource]]: a stream over it is
    * the table as one micro-batch. */
  def streamInput(dir: String, table: String): String = {
    val src = recreateDir(SideTables.root(s"stream_${table}_src"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/$table.parquet"),
      src.resolve(s"$table.parquet"))
    src.toString
  }

  /** Run the streaming query `writer` describes to the end of its input
    * (`AvailableNow`, drained, stopped even when it fails), with
    * `spark.sql.shuffle.partitions` at 4 for the length of the run and
    * restored after. Stateful runs keep state stores per shuffle
    * partition (four per partition for a stream-stream join), each
    * paying a snapshot and a commit per micro-batch whatever its row
    * count; at fixture scale that fixed cost dominated (21.9 s of the
    * round-3 sweep at 32 partitions). */
  def runStream(s: SparkSession, writer: DataStreamWriter[_]): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "4")
    try {
      val q = writer.trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
    } finally s.conf.set(key, prev)
  }

  /** [[runStream]] appending `df` into the memory table `name`, returned
    * as a frame; a run under a name already used replaces its table
    * (the memory sink registers it with create-or-replace). */
  def streamToMemory(df: DataFrame, name: String): DataFrame = {
    val s = df.sparkSession
    runStream(s, df.writeStream.outputMode("append").format("memory").queryName(name))
    s.table(name)
  }
}
