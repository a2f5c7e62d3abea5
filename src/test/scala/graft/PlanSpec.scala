package graft

import org.apache.spark.sql.functions.{col, lit}

/** Physical-plan regression guards: the scale properties we rely on
  * (pushdown, pruning, broadcast strategy) must survive refactors. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfSmoke).queryExecution.executedPlan.toString

  test("q3: dimension filter is pushed to the parquet scan") {
    val p = plan("q3_top_revenue")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)")
      || p.contains("c_mktsegment"), "mktsegment filter not near the scan")
  }

  test("q1: scan is pruned to the aggregated columns") {
    val p = plan("q1_agg")
    assert(!p.contains("l_shipdate"), "q1 must not read l_shipdate")
    assert(!p.contains("l_partkey"), "q1 must not read l_partkey")
  }

  test("pip join broadcasts the AOI cell candidates, not the points") {
    val p = plan("q_pip_join")
    assert(p.contains("BroadcastHashJoin"), "PIP must be a broadcast join")
    assert(!p.contains("SortMergeJoin"), "point table must not shuffle-sort")
  }

  test("geocode+cell: codegen'd expression directly over a pruned scan") {
    val df = SparkEntry.queries("q_geocode_cell")(spark, sfSmoke)
    df.collect() // execute THIS plan so AQE finalizes and codegen spans show
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_cell"), "cell expression missing from plan")
    assert(!p.contains("text"), "geocode must not read the text column")
    // '*' prefixes mark whole-stage-codegen spans in the final plan
    assert(p.contains("*(1) Project"),
      "cell expression fell out of whole-stage codegen")
  }

  test("ivf centroid assignment is shuffle-free (no exchange, no window)") {
    import spark.implicits._
    val corpus = (0 until 64).map { i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 8 + d).abs + 0.1))
    }.toDF("vec_id", "v")
    val cents = (0 until 4).map(c => (c, Seq.tabulate(8)(d => (c + d + 1.0) / 10.0)))
    val assigned = graft.similarity.Ann.assignToCentroids(corpus, cents)
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment stage shuffles:\n$p")
    assert(!p.contains("Window"), s"assignment stage uses a window:\n$p")
    assert(assigned.count() == 64)
  }

  test("bilinear upsample is a joinless splat: one shuffle, no join") {
    import spark.implicits._
    val cells = (for (x <- 0L until 8; y <- 0L until 8)
      yield (x, y, (x * 8 + y + 1).toInt)).toDF("gx", "gy", "v")
    val df = graft.grid.Resample.upsample2xBilinear(cells)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the 16-tap expansion must stay a broadcast of the tiny tap table —
    // never a shuffle join — and the only exchange is the child-cell agg
    assert(!p.contains("SortMergeJoin"), s"taps regressed to a shuffle join:\n$p")
    assert(!p.contains("ShuffledHashJoin"), s"taps regressed to a shuffle join:\n$p")
    // AQE's toString prints the final plan AND the original: count actual
    // shuffle stages, not textual occurrences of Exchange
    assert("ShuffleQueryStage".r.findAllIn(p).size <= 1,
      s"more than the one aggregation shuffle:\n$p")
  }

  test("flow-basin next-pointer build has no nested-loop join") {
    import spark.implicits._
    val cells = (for (x <- 0L until 12; y <- 0L until 12)
      yield (x, y, ((x * 31 + y * 17) % 97 + 1).toInt)).toDF("gx", "gy", "v")
    val df = graft.grid.FlowBasins.basins(cells,
      graft.stencil.TileStencil.Bounds(12, 12), tileSize = 8)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"basin build uses a nested-loop join:\n${p.take(3000)}")
  }

  test("scanline fill gathers candidates by tile equi-join, not BNL") {
    val p = plan("q_ground_objects")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"bbox gather regressed to a nested-loop range join:\n${p.take(4000)}")
  }

  test("flagship dedup keeps map-side partial aggregation") {
    import graft.api.Flagship
    val path = Flagship.stageInput(spark, 20000)
    val p = Flagship.geocodedFromParquet(spark, path)
      .queryExecution.executedPlan.toString
    // the max_by dedup must be a two-phase hash aggregate: a partial
    // below the exchange (shuffle carries one candidate per url per
    // input partition, not every capture) and a final above it
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"dedup lost its hash-aggregate form:\n${p.take(3000)}")
    val partialIdx = p.indexOf("partial_max")
    val exchangeIdx = p.indexOf("Exchange")
    assert(partialIdx >= 0, "no partial max aggregate in the dedup plan")
    assert(exchangeIdx >= 0 && p.indexOf("partial_max", exchangeIdx) >= 0,
      "partial aggregate not below the shuffle")
  }

  test("dsm grid aggregates before the splat (shuffle bounded by grid)") {
    val df = SparkEntry.queries("q_dsm_grid")(spark, sfSmoke)
    val p = df.queryExecution.optimizedPlan.toString
    // base-cell aggregate must appear below the generator
    val genIdx = p.indexOf("Generate explode")
    val aggIdx = p.lastIndexOf("Aggregate")
    assert(genIdx >= 0 && aggIdx > genIdx,
      s"expected aggregate below explode:\n$p")
  }

  test("bloom dedup: codegen'd probe, no sort-merge anti-join") {
    import graft.ingest.WebPages
    import spark.implicits._
    def meta(a: Long, b: Long) = spark.range(a, b).map { id =>
      val (url, ts, _, _) = WebPages.makeMeta(7L, id); (url, ts)
    }.toDF("url", "warc_ts")
    val seen = meta(0, 2000)
    val batch = meta(1500, 3500)
    val df = graft.dedup.Incremental.newRows(batch, seen, "url",
      estimatedItems = 4096, numBits = 1L << 16)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), "bloom probe missing from plan")
    assert(!p.contains("SortMergeJoin"),
      "anti-join must stay hash/broadcast at this size")
  }

  test("theta rollup: partial aggregation on both levels (map-side combine)") {
    val df = SparkEntry.queries("q_theta_rollup")(spark, sfSmoke)
    val p = df.queryExecution.executedPlan.toString
    // TypedImperativeAggregate partials: ObjectHashAggregate partial_ rows
    assert(p.contains("ObjectHashAggregate"), "sketch agg not object-hash")
    assert(p.contains("partial_graft_theta_distinct"),
      "no map-side partial for the sketch agg")
    assert(!p.contains("SortAggregate"), "sketch agg fell back to sort-agg")
  }

  test("line dedup: hash aggregates only, no window over the line key") {
    import spark.implicits._
    val d = spark.range(500L)
      .map(id => (id, graft.queries.TextQueries.lineDoc(3L, id)))
      .toDF("doc_id", "text")
    val df = graft.dedup.LineDedup.dedupLines(d)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "keeper selection must not be a window")
    assert(p.contains("partial_min"),
      "keeper min(struct) must partial-aggregate map-side")
  }

  test("pq encode is one codegen'd projection, no shuffle") {
    import graft.core.Tables
    import graft.similarity.{Ann, Pq}
    import spark.implicits._
    val corpus = Ann.withVec(Tables.embeddings(spark, sfSmoke))
      .filter(org.apache.spark.sql.functions.col("vec_id") >= 3)
      .select("vec_id", "v")
    val sample = corpus.orderBy("vec_id").limit(32)
      .select("v").as[Seq[Double]].collect().map(_.toArray)
    val cb = Pq.train(sample, 16, 16)
    val enc = Pq.encode(corpus, cb)
    enc.collect()
    val p = enc.queryExecution.executedPlan.toString
    assert(p.contains("graft_pq_encode"), "custom expression missing")
    assert(!p.contains("Exchange"), "encode must not shuffle")
    assert(p.contains("*(1) Project"), "encode fell out of whole-stage codegen")
  }

  test("pq ADC scan broadcasts the LUTs and never shuffles the codes") {
    import graft.core.Tables
    import graft.similarity.{Ann, Pq}
    import spark.implicits._
    val corpus = Ann.withVec(Tables.embeddings(spark, sfSmoke))
      .filter(org.apache.spark.sql.functions.col("vec_id") >= 3)
      .select("vec_id", "v")
    val sample = corpus.orderBy("vec_id").limit(32)
      .select("v").as[Seq[Double]].collect().map(_.toArray)
    val cb = Pq.train(sample, 16, 16)
    val queries = Seq((0L, sample.head))
    val df = Pq.adcTopK(queries, Pq.encode(corpus, cb), cb, 5)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "LUT side must broadcast")
    assert(!p.contains("SortMergeJoin"), "codes must not shuffle-sort for the LUT join")
  }

  test("dup spans: partial-agg frequency filter, hash joins only") {
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select("doc_id", "text")
    val p = graft.text.DupSpans.excise(docs, k = 5)
      .queryExecution.executedPlan.toString
    // the corpus-wide window-frequency count must combine map-side
    // (partial HashAggregate) before its one shuffle
    assert(p.contains("partial_count") || p.contains("partial"),
      s"window frequency lost map-side combine:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"cartesian in dup-span plan:\n${p.take(3000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in dup-span plan:\n${p.take(3000)}")
  }

  test("cell compact: level step is one hash agg, no join, no window") {
    import spark.implicits._
    val cells = (0L until 4096L).filter(_ % 7 != 0)
      .map(m => (5L << 56) | m).toDF("cell")
    // one level of the compaction loop: groupBy(parent) + conditional
    // re-emit — the whole point is that the 4-bounded collect_list
    // replaces a children join
    val g = cells.groupBy(graft.index.CellCompact.parentCol(
        org.apache.spark.sql.functions.col("cell"), 4).as("p"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.col("cell")).as("kids"))
    val p = g.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"compaction level joins:\n${p.take(2000)}")
    assert(!p.contains("Window"), s"compaction level windows:\n${p.take(2000)}")
    assert("ShuffleQueryStage|Exchange".r.findAllIn(p).size <= 2,
      s"more than one logical shuffle in a compaction level:\n${p.take(2000)}")
  }

  test("deterministic shuffle: no global-order window over the data") {
    import spark.implicits._
    val docs = (1L to 5000L).toDF("id")
    val mix = (col("id") * lit(2654435761L)) % lit(4294967296L)
    val df = graft.text.Sampling.deterministicShuffle(docs, mix, 20)
    val p = df.queryExecution.executedPlan.toString
    // the DATA window must be bucket-partitioned; the only legal
    // unpartitioned window is the one over the tiny bucket-totals table
    // (PrefixSum's documented "one place a global window is safe")
    assert(p.contains("windowspecdefinition(_bkt"),
      s"data window lost its bucket partitioning:\n${p.take(3000)}")
    assert("SinglePartition".r.findAllIn(p).size <= 1,
      s"more than the bucket-offset window funnels through one partition:\n${p.take(3000)}")
    assert(df.count() == 5000)
  }

  test("inverted index build: one shuffle, no join") {
    import spark.implicits._
    val docs = (1 to 500).map(i => (i.toLong, s"a b c w${i % 7} a"))
      .toDF("doc_id", "text")
    val df = graft.text.InvertedIndex.postings(docs)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"postings build must shuffle once (the term,doc agg):\n${p.take(3000)}")
    assert(!p.contains("Join"), s"postings build must not join:\n${p.take(3000)}")
  }

  test("phrase search: hash joins on doc_id only, no cartesian") {
    import spark.implicits._
    val docs = (1 to 500).map(i => (i.toLong, s"a b c w${i % 7} a b"))
      .toDF("doc_id", "text")
    val idx = graft.text.InvertedIndex.postings(docs)
    val df = graft.text.InvertedIndex.phraseSearch(idx, Seq("a", "b", "c"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in phrase plan:\n${p.take(3000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in phrase plan:\n${p.take(3000)}")
    assert(df.count() > 0)
  }

  test("viewshed: blocker probe is a hash join, never cartesian") {
    import spark.implicits._
    val cells = (for (x <- 0L until 30L; y <- 0L until 20L)
      yield (x, y, (x * 7 + y * 13) % 50)).toDF("gx", "gy", "v")
    val df = graft.grid.Viewshed.fromLowest(cells, 10L)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in viewshed plan:\n${p.take(3000)}")
    // the only nested-loop is the one-row observer broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"blocker probe degenerated to nested loop:\n${p.take(3000)}")
  }

  test("reference trace: all joins hash-based, no cartesian/range scans") {
    import graft.stencil.TileStencil.Bounds
    import spark.implicits._
    // big enough to dodge tiny-table broadcast degeneracies
    val cells = (for { y <- 0L until 40L; x <- 0L until 40L
      if (x * 31 + y * 17) % 3 != 0 } yield (x, y)).toDF("gx", "gy")
    // force the tiled distributed pipeline (the dense single-task gate
    // has no joins to guard)
    val p = withDenseThreshold(0) {
      graft.vector.RefTrace.refOutlines(cells, Bounds(64, 64), tileSize = 16)
        .queryExecution.executedPlan.toString
    }
    assert(!p.contains("CartesianProduct"), s"cartesian in trace plan:\n${p.take(3000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in trace plan:\n${p.take(3000)}")
  }
}
