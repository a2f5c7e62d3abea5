package graft

import graft.core.Skew
import graft.meta.{Lineage, Snapshots}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MetaSpec extends SparkSpec {

  private def tmpRoot = Files.createTempDirectory("graft-snap").toString

  test("snapshot commit, monotonic ids, latest read") {
    import spark.implicits._
    val root = tmpRoot
    val m0 = Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), root, "t", "v1")
    val m1 = Snapshots.commit(Seq((3, "c")).toDF("k", "v"), root, "t", "v2")
    assert(m0.snapshotId == 0 && m1.snapshotId == 1)
    assert(m0.rows == 2 && m1.rows == 1)
    assert(Snapshots.latest(root, "t").get.snapshotId == 1)
    assert(Snapshots.read(spark, Snapshots.latest(root, "t").get).count() == 1)
    assert(Snapshots.committed(root, "t").map(_.snapshotId) == Seq(0, 1))
  }

  test("time travel: asOf picks the snapshot live at the instant, at by id") {
    import spark.implicits._
    val root = tmpRoot
    val m0 = Snapshots.commit(Seq((1, "a")).toDF("k", "v"), root, "tt", "v1")
    val m1 = Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), root, "tt", "v2")
    assert(Snapshots.asOf(root, "tt", m0.committedAtMs - 1).isEmpty) // pre-history
    assert(Snapshots.asOf(root, "tt", m0.committedAtMs).get.snapshotId == 0)
    // between the commits (if distinguishable) and at/after the last
    if (m1.committedAtMs > m0.committedAtMs)
      assert(Snapshots.asOf(root, "tt", m1.committedAtMs - 1).get.snapshotId == 0)
    assert(Snapshots.asOf(root, "tt", m1.committedAtMs + 1000).get.snapshotId == 1)
    // superseded snapshot's data stays readable through the old manifest
    assert(Snapshots.read(spark, Snapshots.at(root, "tt", 0).get).count() == 1)
    assert(Snapshots.read(spark, Snapshots.at(root, "tt", 1).get).count() == 2)
    assert(Snapshots.at(root, "tt", 99).isEmpty)
  }

  test("rollback re-points latest without copying; vacuum respects aliases") {
    import spark.implicits._
    val root = tmpRoot
    val m0 = Snapshots.commit(Seq((1, "a")).toDF("k", "v"), root, "rb", "v1")
    Snapshots.commit(Seq((9, "z"), (8, "y")).toDF("k", "v"), root, "rb", "v2-bad")
    val rb = Snapshots.rollback(root, "rb", 0)
    assert(rb.snapshotId == 2 && rb.dataPath == m0.dataPath && rb.rows == 1)
    assert(Snapshots.read(spark, Snapshots.latest(root, "rb").get)
      .collect().map(_.toSeq).toSeq == Seq(Seq(1, "a")))
    // vacuum everything older than now: snapshots 0 and 1 expire, but
    // snapshot 0's data dir survives because the rollback (id 2, kept as
    // latest) still references it; snapshot 1's data dir is deleted
    val expired = Snapshots.vacuum(root, "rb", System.currentTimeMillis() + 1)
    assert(expired.map(_.snapshotId) == Seq(0, 1))
    assert(Snapshots.committed(root, "rb").map(_.snapshotId) == Seq(2))
    assert(Snapshots.read(spark, Snapshots.latest(root, "rb").get).count() == 1)
    assert(!Files.isDirectory(java.nio.file.Paths.get(root, "rb", "snap-1")))
    intercept[IllegalArgumentException](Snapshots.rollback(root, "rb", 0))
  }

  test("compact rewrites files, preserves content, vacuum reclaims fragments") {
    import spark.implicits._
    val root = tmpRoot
    val data = (1 to 500).map(i => (i, s"row$i")).toDF("k", "v")
    val frag = Snapshots.commit(data.repartition(16), root, "cp", "v1")
    def files(path: String) =
      new java.io.File(path).listFiles.count(_.getName.endsWith(".parquet"))
    assert(files(frag.dataPath) == 16)
    val comp = Snapshots.compact(spark, root, "cp", targetFiles = 2)
    assert(comp.snapshotId == frag.snapshotId + 1)
    assert(comp.lineage == s"compact:${frag.snapshotId}")
    assert(files(comp.dataPath) == 2)
    // row-identical content, both states readable (time travel intact)
    val a = Snapshots.read(spark, frag).collect().map(_.toSeq).toSet
    val b = Snapshots.read(spark, comp).collect().map(_.toSeq).toSet
    assert(a == b && a.size == 500)
    // vacuum expires the fragmented snapshot and deletes its data dir;
    // the compacted latest survives untouched
    val expired = Snapshots.vacuum(root, "cp", System.currentTimeMillis() + 1)
    assert(expired.map(_.snapshotId) == Seq(frag.snapshotId))
    assert(!Files.isDirectory(java.nio.file.Paths.get(frag.dataPath)))
    assert(Snapshots.read(spark,
      Snapshots.latest(root, "cp").get).count() == 500)
  }

  test("merge: upsert replaces matched rows, inserts new, links untouched files") {
    import spark.implicits._
    val root = tmpRoot
    // 4 key-clustered files over k = 0..99
    Snapshots.commitClustered(
      spark.range(100).select(col("id").as("k"), (col("id") * 10).as("v")),
      root, "mg", "v1", orderCols = Seq("k"), statCols = Seq("k"), numFiles = 4)
    val m0 = Snapshots.latest(root, "mg").get
    // source hits only keys 0..9 (one file's range) + inserts 200, 201
    val src = Seq((0L, -1L), (5L, -2L), (9L, -3L), (200L, 1L), (201L, 2L))
      .toDF("k", "v")
    val m1 = Snapshots.merge(spark, root, "mg", src, Seq("k"))
    assert(m1.rows == 102)
    assert(m1.lineage == s"merge:0:upsert")
    val got = Snapshots.read(spark, m1).as[(Long, Long)].collect().toMap
    assert(got(0L) == -1L && got(5L) == -2L && got(9L) == -3L)
    assert(got(200L) == 1L && got(201L) == 2L)
    assert(got(10L) == 100L && got(99L) == 990L) // untouched rows intact
    // COW: untouched files carried over by NAME (hard links), not rewritten
    def names(p: String) = new java.io.File(p).listFiles
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val shared = names(m0.dataPath) & names(m1.dataPath)
    assert(shared.nonEmpty, "expected at least one linked untouched file")
    assert((names(m1.dataPath) -- names(m0.dataPath)).nonEmpty)
    // the old snapshot still reads its full pre-merge state (time travel)
    assert(Snapshots.read(spark, Snapshots.at(root, "mg", 0).get).count() == 100)
  }

  test("merge: duplicate-key upsert source is rejected; delete mode exempt") {
    import spark.implicits._
    val root = tmpRoot
    Snapshots.commit(
      spark.range(10).select(col("id").as("k"), col("id").as("v")),
      root, "mgu", "v1")
    // Iceberg MERGE contract: multiple source rows per key is an error in
    // upsert mode (it would insert several rows per key)...
    val dup = Seq((1L, -1L), (1L, -2L), (4L, -3L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Snapshots.merge(spark, root, "mgu", dup, Seq("k"))
    }
    assert(e.getMessage.contains("duplicate keys"))
    // ...while delete mode is idempotent per key, so duplicates are fine
    val m1 = Snapshots.merge(spark, root, "mgu",
      Seq(1L, 1L, 4L).toDF("k"), Seq("k"), deleteMatched = true)
    assert(m1.rows == 8)
  }

  test("merge: sourceKeysUnique skips the guard, result identical to guarded path") {
    import spark.implicits._
    val root = tmpRoot
    Snapshots.commit(
      spark.range(20).select(col("id").as("k"), (col("id") * 10).as("v")),
      root, "mgq", "v1")
    val src = Seq((2L, -1L), (7L, -2L), (100L, 3L)).toDF("k", "v")
    val m1 = Snapshots.merge(spark, root, "mgq", src, Seq("k"),
      deleteMatched = false, sourceKeysUnique = true)
    assert(m1.rows == 21)
    val got = Snapshots.read(spark, m1).as[(Long, Long)].collect().toMap
    assert(got(2L) == -1L && got(7L) == -2L && got(100L) == 3L)
    assert(got(3L) == 30L) // untouched rows intact
  }

  test("merge: delete mode drops matched keys only; key-only source ok") {
    import spark.implicits._
    val root = tmpRoot
    Snapshots.commit(
      spark.range(50).select(col("id").as("k"), (col("id") % 3).as("v")),
      root, "mgd", "v1")
    val m1 = Snapshots.merge(spark, root, "mgd",
      Seq(3L, 7L, 999L).toDF("k"), Seq("k"), deleteMatched = true)
    assert(m1.rows == 48) // 999 matched nothing
    val ks = Snapshots.read(spark, m1).select("k").as[Long].collect().toSet
    assert(!ks.contains(3L) && !ks.contains(7L) && ks.contains(8L))
    assert(m1.lineage == "merge:0:delete")
  }

  test("merge: no matched key rewrites nothing, inserts land; vacuum keeps linked data") {
    import spark.implicits._
    val root = tmpRoot
    Snapshots.commit(
      spark.range(20).select(col("id").as("k"), col("id").as("v")),
      root, "mgn", "v1")
    val m0 = Snapshots.latest(root, "mgn").get
    val m1 = Snapshots.merge(spark, root, "mgn",
      Seq((500L, 1L)).toDF("k", "v"), Seq("k"))
    assert(m1.rows == 21)
    def names(p: String) = new java.io.File(p).listFiles
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert((names(m0.dataPath) -- names(m1.dataPath)).isEmpty,
      "every pre-merge file must carry over when no key matches")
    // vacuuming the pre-merge snapshot must not break the merged state:
    // its dir is deleted but the linked inodes survive in snap-1
    val expired = Snapshots.vacuum(root, "mgn", System.currentTimeMillis() + 1)
    assert(expired.map(_.snapshotId) == Seq(0L))
    assert(Snapshots.read(spark, Snapshots.latest(root, "mgn").get).count() == 21)
  }

  test("resume: matching lineage reuses, changed lineage recomputes") {
    import spark.implicits._
    val root = tmpRoot
    var computes = 0
    def work = { computes += 1; Seq((1, 10)).toDF("k", "v") }
    val (_, r0) = Snapshots.resumeOrCompute(spark, root, "s", "sig-A")(work)
    val (_, r1) = Snapshots.resumeOrCompute(spark, root, "s", "sig-A")(work)
    assert(!r0 && r1 && computes == 1) // second call resumed
    val (_, r2) = Snapshots.resumeOrCompute(spark, root, "s", "sig-B")(work)
    assert(!r2 && computes == 2) // lineage changed -> recompute
    // resumed data identical
    val (df, r3) = Snapshots.resumeOrCompute(spark, root, "s", "sig-B")(work)
    assert(r3 && df.collect().map(_.toSeq).toSeq == Seq(Seq(1, 10)))
  }

  test("partition lineage metrics reach the metrics table") {
    import spark.implicits._
    val root = tmpRoot
    val df = Lineage.instrument(
      spark.range(1000).repartition(8).toDF("id"), "stage-x")
    assert(df.count() == 1000)
    val m = Lineage.flush(spark, root)
    assert(m.isDefined)
    val metrics = Snapshots.read(spark, m.get)
    assert(metrics.filter(col("stage") === "stage-x").count() == 8)
    val rowsSum = metrics.agg(sum("rows")).head().getLong(0)
    assert(rowsSum == 1000)
  }

  test("snapshot commit records per-partition write metrics with latency") {
    import spark.implicits._
    val root = tmpRoot
    val df = spark.range(4000).repartition(4).toDF("id")
    val m = Snapshots.commit(df, root, "wm", "lineage-1")
    val pm = Snapshots.metrics(spark, root, "wm")
    assert(pm.filter(col("snapshotId") === m.snapshotId).count() == 4,
      "expected one metric row per write partition")
    assert(pm.agg(sum("rows")).head().getLong(0) == 4000)
    assert(pm.filter(col("latencyMs") < 0).count() == 0)
    // a second snapshot accumulates in the same metadata table
    Snapshots.commit(df.limit(100).repartition(1), root, "wm", "lineage-2")
    val all = Snapshots.metrics(spark, root, "wm")
    assert(all.select("snapshotId").distinct().count() == 2)
    assert(all.count() == 5)
  }

  test("side-table writes are atomic: a row source failing mid-write keeps the old file") {
    val root = tmpRoot
    val m = Snapshots.commit(spark.range(400).repartition(4).toDF("id"), root, "wa", "l")
    def read() = Snapshots.metrics(spark, root, "wa").collect().map(_.toString).sorted.toSeq
    val before = read()
    assert(before.size == 4)
    val dir = java.nio.file.Paths.get(root, "wa", "_metrics", m.snapshotId.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    val row = Snapshots.PartitionMetric(m.snapshotId, 0, 1L, 2L, 3L)
    val failing = LazyList.tabulate(1000) { i =>
      if (i == 600) throw new IllegalStateException("row source failed") else row
    }
    val e = intercept[IllegalStateException](
      graft.meta.SideParquet.replace(conf, dir, Snapshots.MetricsSchema, failing))
    assert(e.getMessage == "row source failed")
    assert(read() == before)
    def names() = new java.io.File(dir.toString).list().toSeq.sorted
    assert(names().forall(n => n == "part-00000.parquet" || n == ".part-00000.parquet.crc"),
      s"temp files left behind: ${names()}")
    // a complete write replaces the file in place
    graft.meta.SideParquet.replace(conf, dir, Snapshots.MetricsSchema, Seq(row, row))
    assert(read() == Seq(row, row).map(r => org.apache.spark.sql.Row.fromTuple(r).toString))
    assert(names().contains("part-00000.parquet"))
  }

  test("snapshot metrics cover exactly the files the write produced") {
    import spark.implicits._
    val root = tmpRoot
    // 2 rows into 4 partitions: empty partitions produce NO file (and
    // no metric row); rows must still sum exactly and every row must
    // correspond to a produced data file
    val df = spark.range(2).toDF("id").repartition(4)
    val m = Snapshots.commit(df, root, "empty", "lineage-e")
    val pm = Snapshots.metrics(spark, root, "empty")
      .filter(col("snapshotId") === m.snapshotId)
    val nFiles = new java.io.File(m.dataPath).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(pm.count() == nFiles,
      s"one metric row per produced file: ${pm.count()} vs $nFiles")
    assert(pm.agg(sum("rows")).head().getLong(0) == 2)
    assert(pm.count() >= 1 && pm.count() <= 4)
  }

  test("salted aggregation equals direct aggregation") {
    import spark.implicits._
    // heavy skew: key 0 holds 90% of rows
    val df = spark.range(20000)
      .select(when(col("id") % 10 < 9, lit(0L)).otherwise(col("id") % 100).as("k"),
        (col("id") % 7).as("v"), col("id").as("d"))
    val direct = df.groupBy("k").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(df, col("k"), col("d"), 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == direct)
    val directSum = df.groupBy("k").agg(sum("v").as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val saltedSum = Skew.saltedSum(df, col("k"), col("v"), col("d"), 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(saltedSum == directSum)
    val hot = Skew.hotKeys(df, col("k"), 5000).collect().map(_.getLong(0)).toSet
    assert(hot == Set(0L))
  }

  // --- file-level data skipping (FileStats + commitClustered/readPruned) ---

  /** 10k rows with a deterministic pseudo-shuffled long key in
    * [0, 100000) and a payload column. */
  private def skipData = {
    import spark.implicits._
    spark.range(10000)
      .select((col("id") * 2654435761L % 100000L).as("k"),
        (col("id") % 97).cast("int").as("p"))
  }

  test("clustered commit: footer stats exist, per-file ranges are disjoint") {
    val root = tmpRoot
    val m = Snapshots.commitClustered(skipData, root, "fs", "v1",
      orderCols = Seq("k"), statCols = Seq("k"), numFiles = 8)
    val stats = Snapshots.fileStats(spark, root, "fs", m.snapshotId)
    assert(stats.nonEmpty && stats.forall(_.hasStats))
    assert(stats.map(_.rows).sum == 10000)
    assert(stats.forall(_.nulls == 0))
    // range partitioning -> sorted by min, no interval overlap
    val iv = stats.filter(_.col == "k").sortBy(_.min)
    iv.sliding(2).foreach {
      case Seq(a, b) => assert(a.max <= b.min,
        s"overlapping file ranges: [${a.min},${a.max}] vs [${b.min},${b.max}]")
      case _ =>
    }
    assert(iv.forall(s => s.min <= s.max))
  }

  test("pruned range read is bit-identical to filtering a full scan") {
    import spark.implicits._
    val root = tmpRoot
    val data = skipData
    Snapshots.commitClustered(data, root, "pr", "v1",
      orderCols = Seq("k"), statCols = Seq("k"), numFiles = 8)
    val full = Snapshots.read(spark, Snapshots.latest(root, "pr").get)
    // range sweep: interior, touching min, touching max, single point,
    // empty interior gap is impossible (dense keys) so use out-of-domain
    val ranges = Seq((20000L, 45000L), (0L, 7L), (99990L, 99999L),
      (50000L, 50000L), (200000L, 300000L), (Long.MinValue, Long.MaxValue))
    for ((lo, hi) <- ranges) {
      val (pruned, rep) = Snapshots.readPruned(spark, root, "pr", "k", lo, hi)
      val want = full.where(col("k") >= lo && col("k") <= hi)
        .as[(Long, Int)].collect().sorted.toSeq
      val got = pruned.as[(Long, Int)].collect().sorted.toSeq
      assert(got == want, s"range [$lo,$hi]")
      assert(rep.keptFiles <= rep.totalFiles && rep.totalFiles > 0)
      // out-of-domain probe must read nothing
      if (lo == 200000L) assert(rep.keptFiles == 0 && got.isEmpty)
    }
  }

  test("pruning engages on clustered layout, not on a random layout") {
    val root = tmpRoot
    val data = skipData
    Snapshots.commitClustered(data, root, "cl", "v1",
      orderCols = Seq("k"), statCols = Seq("k"), numFiles = 8)
    val (_, repC) = Snapshots.readPruned(spark, root, "cl", "k", 40000L, 52000L)
    // ~12% of the key space over 8 disjoint files -> at most 3 files
    assert(repC.totalFiles >= 6 && repC.keptFiles <= 3,
      s"clustered probe read ${repC.keptFiles}/${repC.totalFiles}")
    // same data hash-partitioned (every file spans ~the whole key range)
    val m = Snapshots.commit(data.repartition(8, col("p")), root, "rnd", "v1")
    Snapshots.indexStats(spark, root, "rnd", m.snapshotId, Seq("k"))
    val (dfR, repR) = Snapshots.readPruned(spark, root, "rnd", "k", 40000L, 52000L)
    assert(repR.keptFiles == repR.totalFiles,
      s"random layout should not prune: ${repR.keptFiles}/${repR.totalFiles}")
    assert(dfR.count() ==
      Snapshots.read(spark, Snapshots.latest(root, "cl").get)
        .where(col("k").between(40000L, 52000L)).count())
  }

  test("unindexed snapshot: readPruned falls back to a full correct scan") {
    val root = tmpRoot
    Snapshots.commit(skipData, root, "ni", "v1")
    val (df, rep) = Snapshots.readPruned(spark, root, "ni", "k", 10000L, 30000L)
    assert(rep.keptFiles == rep.totalFiles) // nothing skipped, nothing lost
    assert(df.count() ==
      Snapshots.read(spark, Snapshots.latest(root, "ni").get)
        .where(col("k").between(10000L, 30000L)).count())
  }

  test("vacuum removes the expired snapshot's filestats side table") {
    val root = tmpRoot
    Snapshots.commitClustered(skipData, root, "vf", "v1",
      orderCols = Seq("k"), statCols = Seq("k"), numFiles = 4)
    Snapshots.commitClustered(skipData.limit(100), root, "vf", "v2",
      orderCols = Seq("k"), statCols = Seq("k"), numFiles = 2)
    assert(Files.isDirectory(java.nio.file.Paths.get(root, "vf", "_filestats", "0")))
    val expired = Snapshots.vacuum(root, "vf", System.currentTimeMillis() + 1)
    assert(expired.map(_.snapshotId) == Seq(0))
    assert(!Files.isDirectory(java.nio.file.Paths.get(root, "vf", "_filestats", "0")))
    assert(Snapshots.fileStats(spark, root, "vf", 1).nonEmpty)
  }

  test("DataQuality.audit: planted violations are counted exactly") {
    import spark.implicits._
    import graft.meta.DataQuality
    val child = Seq((1L, 10L), (2L, 10L), (3L, 99L), (4L, 98L))
      .toDF("id", "parent_id")
    val parent = Seq(10L).toDF("pid")
    val vals = Seq(1L, -2L, 3L, -4L, -5L).toDF("v")
    val out = DataQuality.audit(Seq(
      ("fk_orphans",
        child.join(parent, col("pid") === col("parent_id"), "left"),
        col("pid").isNull),
      ("negative", vals, col("v") < 0),
      ("none", vals, col("v") > 1000),
      ("empty_frame", vals.filter(col("v") > 1000), col("v") < 0)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out === Map(
      "fk_orphans" -> (2L, 4L), "negative" -> (3L, 5L),
      "none" -> (0L, 5L), "empty_frame" -> (0L, 0L)))
  }
}
