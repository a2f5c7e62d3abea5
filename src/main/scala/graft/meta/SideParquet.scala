package graft.meta

import java.nio.file.{Files, Path}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageType

/** Small metadata side tables (`_metrics/<id>`, `_filestats/<id>`)
  * written and read in-process as plain parquet, instead of scheduling a
  * Spark job for O(partitions) or O(files) rows the driver wrote itself. */
private[graft] object SideParquet {

  /** Replace `dir/part-00000.parquet` with `rows`, one row per case-class
    * instance whose fields (Long, Int, String or Boolean) follow `schema`
    * in order. The rows go to a dot-prefixed temp file in the same
    * directory (hidden from parquet readers), which is renamed over the
    * target only once complete: a reader sees the old file or the new
    * one, never a torn one, and a failure mid-write leaves the old file
    * in place. Any other entry of `dir` is a leftover of an earlier
    * layout and is removed after the swap. */
  def replace(conf: Configuration, dir: Path, schema: MessageType,
              rows: Seq[Product]): Unit = {
    Files.createDirectories(dir)
    val target = dir.resolve("part-00000.parquet")
    val tmp = dir.resolve(s".part-00000.parquet.${java.util.UUID.randomUUID()}.tmp")
    // Hadoop's local file system writes a `.<name>.crc` sidecar
    def crc(p: Path): Path = p.resolveSibling(s".${p.getFileName}.crc")
    try {
      val w = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(new HPath(tmp.toUri), conf))
        .withConf(conf).withType(schema).build()
      val gf = new SimpleGroupFactory(schema)
      try rows.foreach { r =>
        val g = gf.newGroup()
        r.productIterator.zipWithIndex.foreach {
          case (v: Long, i) => g.add(i, v)
          case (v: Int, i) => g.add(i, v)
          case (v: String, i) => g.add(i, v)
          case (v: Boolean, i) => g.add(i, v)
        }
        w.write(g)
      } finally w.close()
      // the old file's checksum goes first, the new one's after the swap:
      // every intermediate state is a whole file with a matching or no
      // checksum
      Files.deleteIfExists(crc(target))
      Files.move(tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
      if (Files.exists(crc(tmp))) Files.move(crc(tmp), crc(target), ATOMIC_MOVE, REPLACE_EXISTING)
    } finally {
      Files.deleteIfExists(tmp)
      Files.deleteIfExists(crc(tmp))
    }
    val stream = Files.list(dir)
    try stream.filter(p => p != target && p != crc(target))
      .forEach(p => Snapshots.deleteRecursively(p))
    finally stream.close()
  }

  /** Every row of every data file in `dir` (names not starting with `_`
    * or `.`, in name order), mapped by `f` — the mirror of [[replace]].
    * Reading all part files, not just `part-00000.parquet`, keeps the
    * older multi-file `toDF().write.parquet` layout readable. */
  def read[T](conf: Configuration, dir: Path)(f: Group => T): Seq[T] = {
    import scala.jdk.CollectionConverters._
    val stream = Files.list(dir)
    val entries = try stream.iterator().asScala.toVector finally stream.close()
    entries.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString).flatMap { p =>
      val r = ParquetReader.builder(new GroupReadSupport(), new HPath(p.toUri))
        .withConf(conf).build()
      try Iterator.continually(r.read()).takeWhile(_ != null).map(f).toVector
      finally r.close()
    }
  }
}
