package graft

import graft.api.Flagship

class FlagshipSpec extends SparkSpec {

  test("flagship pipeline deterministic and content-carrying") {
    val r1 = Flagship.run(spark, 20000)
    val r2 = Flagship.run(spark, 20000)
    assert(r1.gridChecksum == r2.gridChecksum)
    assert(r1.keptContentChecksum == r2.keptContentChecksum)
    assert(r1.keptContentChecksum != 0L)
    assert(r1.pipHits == r2.pipHits && r1.pipHits > 0)
    assert(r1.dedupedDocs < r1.docs) // re-captures were deduped
  }

  test("regression guard: the scan must read the content columns") {
    // If kept_hash is dropped from the pipeline output, Catalyst prunes
    // text/warc_ts from the scan and rewrites the max_by dedup into a
    // bare DISTINCT — the benchmark then measures a lighter job than
    // documented. Assert the scan schema still contains text.
    val path = Flagship.stageInput(spark, 20000)
    val plan = Flagship.geocodedFromParquet(spark, path)
      .queryExecution.executedPlan.toString
    assert(plan.contains("text"), s"text pruned from scan:\n$plan")
    assert(plan.contains("warc_ts"), "warc_ts pruned from scan")
  }

  test("geocodedFromParquet reads the footer schema: same schema and rows, one job fewer") {
    import org.apache.spark.sql.DataFrame
    val path = Flagship.stageInput(spark, 20000)
    var inferred, footer: DataFrame = null
    var inferredRows, footerRows: Seq[String] = Nil
    def rows(df: DataFrame) = df.collect().map(_.mkString(",")).sorted.toSeq
    val jobs = jobsPer(
      "inferred" -> (() => {
        inferred = Flagship.geocodedFrom(spark.read.parquet(path))
        inferredRows = rows(inferred)
      }),
      "footer" -> (() => {
        footer = Flagship.geocodedFromParquet(spark, path)
        footerRows = rows(footer)
      }))
    assert(footer.schema == inferred.schema)
    assert(footerRows.nonEmpty && footerRows == inferredRows)
    assert(jobs("footer") == jobs("inferred") - 1, s"jobs $jobs")
  }
}
