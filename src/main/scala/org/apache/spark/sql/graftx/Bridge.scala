package org.apache.spark.sql.graftx

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/**
 * Minimal public bridge to Spark 4 internals: the `private[sql]` Column
 * <-> Expression converters (`org.apache.spark.sql.classic.ExpressionUtils`),
 * needed to expose custom Catalyst expressions as user-facing Columns, the
 * listener bus, and parquet's footer-to-schema conversion.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until all queued listener events are delivered (the bus is
    * `private[spark]`); used by Snapshots.commit so the write job's
    * task-end metrics are fully captured before they are read. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The Spark schema of one parquet file, read from its footer on the
    * calling thread: the conversion parquet schema inference applies to
    * the file it touches (the Spark schema stored in the footer's
    * key-value metadata if present, else the parquet schema converted
    * under the session's SQLConf), without inference's Spark job. */
  def parquetSchema(spark: SparkSession, conf: Configuration, file: String): StructType = {
    val path = new Path(file)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
