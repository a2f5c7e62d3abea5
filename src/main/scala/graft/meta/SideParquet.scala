package graft.meta

import java.nio.file.{Files, Path}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageType

/** Small metadata side tables (`_metrics/<id>`, `_filestats/<id>`)
  * written in-process as one plain parquet file, instead of scheduling a
  * 1-task Spark job for O(partitions) or O(files) rows already in hand. */
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
}
