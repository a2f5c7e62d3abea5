package graft.queries

import graft.core.Quant
import graft.grid.Gridding
import graft.text.UrlOps
import graft.index.{CellFunctions, Cells}
import graft.ingest.WebPages
import graft.join.{Aoi, SpatialJoins}
import org.apache.spark.sql.functions._

/**
 * The north-star flagship over the generated Common-Crawl-shaped table:
 * pages -> url-dedup (latest capture) -> geocode -> H3/S2 cell encode ->
 * PIP join vs the AOI set -> DSM max-grid.
 *
 * Both queries STAGE the generated + geocoded page table to a parquet
 * side-table (like the flagship bench does) so the DuckDB duals replay
 * the dedup, PIP predicates, cell index, and grid aggregation bit-exactly
 * over the same bytes. Only the xxhash64 url-geocode itself is taken as
 * staged input (DuckDB has no xxhash64); the geocode->cell arithmetic is
 * SQL-checked on the documents table (q_geocode_cell / q_cell_hist).
 */
object WebQueries {

  /** url -> (lon, lat, z) via xxhash64 — deterministic, engine-side. */
  def withGeo(pages: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pages.withColumn("h", abs(xxhash64(col("url"))))
      .withColumn("lon", (col("h") % 360000L) / lit(1000.0) - lit(180.0))
      .withColumn("lat", (col("h") / 360000L % 170000L) / lit(1000.0) - lit(85.0))
      .withColumn("z", (col("h") / 61200000000L % 20000L) / lit(1000.0))
      .drop("h")

  private val N = 4000L
  private val CellRes = 10

  /** Fixed side-table root the oracle SQL reads back (overwritten by the
    * engine queries before the oracle executes). */
  final val SideRoot = SideTables.root("webpages_side")

  /** Generate, geocode, stage to parquet, and read back — the engine
    * query consumes the same staged bytes the oracle replays. */
  private def stagedPages(s: org.apache.spark.sql.SparkSession) = {
    val pages = withGeo(WebPages.generate(s, N).toDF())
      .select("url", "warc_ts", "text", "lang", "lon", "lat", "z")
    SideTables.stage(pages, s"$SideRoot/pages")
  }

  /** Dedup CTE shared by both duals — WebPages.latestCapture's exact
    * (warc_ts desc, md5(text) desc) winner per url. */
  private val dedupCte =
    s"""pages AS (SELECT * FROM '$SideRoot/pages/*.parquet'),
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY url ORDER BY warc_ts DESC, md5(text) DESC) AS rn
       |  FROM pages),
       |d AS (SELECT * FROM ranked WHERE rn = 1)""".stripMargin

  val q_webpages_dedup: QueryDef = QueryDef.sqlChecked(
    "q_webpages_dedup",
    s"""WITH $dedupCte
       |SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
       |  count(*) AS n_urls, max(length(text)) AS max_text_len
       |FROM d GROUP BY domain ORDER BY domain""".stripMargin) { (s, dir) =>
    val deduped = WebPages.latestCapture(stagedPages(s))
    deduped.withColumn("domain", regexp_extract(col("url"), "https://([^/]+)/", 1))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"), max(length(col("text"))).as("max_text_len"))
      .orderBy(col("domain"))
  }

  val q_webpages_pipeline: QueryDef = {
    val aoiHits = Aoi.defs.map(a =>
      s"SELECT ${a.aoiId} AS aoi_id FROM d WHERE ${a.oracleSqlPredicate}")
      .mkString("\n  UNION ALL ")
    QueryDef.sqlChecked(
      "q_webpages_pipeline",
      s"""WITH $dedupCte,
         |hits AS (
         |  $aoiHits),
         |aoi_counts AS (SELECT aoi_id, count(*) AS n_docs FROM hits GROUP BY aoi_id),
         |cells AS (SELECT ${Cells.packSql(Cells.cxSql("lon", CellRes),
              Cells.cySql("lat", CellRes), CellRes)} AS cell FROM d),
         |base AS (SELECT ${Quant.qSql("z")} AS qz,
         |  ${Gridding.bxSql("lon")} AS bx, ${Gridding.bySql("lat")} AS by FROM d),
         |splat AS (SELECT qz, bx + dx AS gx, by + dy AS gy
         |  FROM base CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) sp(dx, dy)),
         |dsm AS (SELECT gx, gy FROM splat GROUP BY gx, gy)
         |SELECT aoi_id, n_docs FROM aoi_counts
         |UNION ALL SELECT -1 AS aoi_id, count(DISTINCT cell) AS n_docs FROM cells
         |UNION ALL SELECT -2 AS aoi_id, count(*) AS n_docs FROM dsm
         |ORDER BY aoi_id""".stripMargin) { (s, dir) =>
      // pin once: the deduped page set feeds THREE summary branches
      // (PIP hits, distinct-cell count, DSM size) whose per-branch
      // column pruning defeats exchange reuse — the latest-capture
      // aggregate used to run three times
      val pages = WebPages.latestCapture(stagedPages(s))
        .withColumn("doc_id", xxhash64(col("url"))) // id for the PIP output
        .localCheckpoint(eager = true)
      val hits = SpatialJoins.pipJoin(pages
          .select(col("doc_id"), col("lon"), col("lat")), Aoi.defs)
      val withCell = pages
        .withColumn("cell", CellFunctions.cellId(col("lon"), col("lat"), CellRes))
      val dsm = Gridding.dsm(Gridding.points(pages))
      // one materialized summary row set: per-AOI hit counts + grid size
      val aoiCounts = hits.groupBy("aoi_id").agg(count(lit(1)).as("n_docs"))
      val summary = aoiCounts
        .unionByName(withCell.agg(lit(-1).as("aoi_id"),
          countDistinct(col("cell")).as("n_docs")))
        .unionByName(dsm.agg(lit(-2).as("aoi_id"), count(lit(1)).as("n_docs")))
      summary.orderBy(col("aoi_id"))
    }
  }

  /**
   * Snapshot-resumable incremental dedup (`Incremental.newRows`): a new
   * batch (page ids [2000, 5000)) against the previously-committed seen
   * set (ids [0, 3000)) — the ~1000-id overlap plus recaptures must
   * vanish. The bloom is a pre-filter only, so the result is bit-exact
   * vs the dual's plain anti-join over the same staged bytes.
   */
  val q_bloom_dedup: QueryDef = QueryDef.sqlChecked(
    "q_bloom_dedup",
    s"""WITH seen AS (SELECT * FROM '$SideRoot/seen/*.parquet'),
       |b AS (SELECT * FROM '$SideRoot/batch/*.parquet')
       |SELECT b.url, b.warc_ts, b.lang FROM b
       |WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.url = b.url)
       |ORDER BY url, warc_ts, lang""".stripMargin) { (s, dir) =>
    import s.implicits._
    def meta(from: Long, to: Long) = s.range(from, to)
      .map { id =>
        val (url, ts, lang, _) = WebPages.makeMeta(42L, id); (url, ts, lang)
      }.toDF("url", "warc_ts", "lang")
    val seen = SideTables.stage(meta(0L, 3000L), s"$SideRoot/seen")
    val batch = SideTables.stage(meta(2000L, 5000L), s"$SideRoot/batch")
    graft.dedup.Incremental.newRows(batch, seen, "url",
      estimatedItems = 4096L, numBits = 1L << 16)
      .orderBy(col("url"), col("warc_ts"), col("lang"))
  }

  /** Deterministic messy-crawl url: mixed-case scheme/host, optional
    * default or explicit port, 0-3 unsorted query params, optional
    * fragment — every normalization rule gets exercised. */
  def messyUrl(seed: Long, id: Long): String = {
    def d(i: Int): Long = WebPages.draw(seed, id, i) >>> 1
    val schemes = Array("http", "HTTP", "https", "HTTPS")
    val scheme = schemes((d(0) % 4).toInt)
    val dom = d(1) % 500
    val hosts = Array(s"site${dom}.example.com", s"Site${dom}.Example.COM",
      s"SITE${dom}.EXAMPLE.com")
    val host = hosts((d(2) % 3).toInt)
    val port = (d(3) % 4) match {
      case 0 => if (scheme.equalsIgnoreCase("http")) ":80" else ":443"
      case 1 => ":8080"
      // the OTHER scheme's default — must be kept, not stripped
      case 2 => if (scheme.equalsIgnoreCase("http")) ":443" else ":80"
      case _ => ""
    }
    val path = (d(4) % 3) match {
      case 0 => ""
      case 1 => s"/p/${java.lang.Long.toHexString(d(5) >>> 40)}"
      case _ => s"/A/B${d(5) % 10}"
    }
    val keys = Array("b", "a", "zz", "c")
    val params = (0 until (d(6) % 4).toInt)
      .map(i => s"${keys((d(7 + i) % 4).toInt)}=${d(11 + i) % 100}")
    val q = if (params.isEmpty) "" else "?" + params.mkString("&")
    val frag = if (d(15) % 4 == 0) s"#Sec${d(15) % 5}" else ""
    s"$scheme://$host$port$path$q$frag"
  }

  /** Url canonicalization (`UrlOps.normalize` + host/registered-domain
    * extraction) over a staged messy-crawl fixture, bit-exact against
    * the DuckDB dual replaying the identical decomposition. */
  val q_url_norm: QueryDef = QueryDef.sqlChecked(
    "q_url_norm",
    s"""WITH raw AS (SELECT * FROM '$SideRoot/rawurls/*.parquet'),
       |${UrlOps.normalizeCteSql("raw")}
       |SELECT url, norm_url, host, reg_domain
       |FROM u ORDER BY url""".stripMargin) { (s, dir) =>
    import s.implicits._
    val u = SideTables.stage(s.range(4000L).map(id => messyUrl(99L, id)).toDF("url"),
      s"$SideRoot/rawurls")
    u.select(col("url"),
        UrlOps.normalize(col("url")).as("norm_url"),
        UrlOps.hostOf(col("url")).as("host"),
        UrlOps.registeredDomain(UrlOps.hostOf(col("url"))).as("reg_domain"))
      .orderBy(col("url"))
  }

  /** Streaming CDC-upsert into the snapshot table
    * ([[graft.streaming.StreamOps.upsertSink]]): the staged page corpus
    * is re-staged as FOUR parquet files and streamed one file per
    * micro-batch (maxFilesPerTrigger=1), each batch folded into the
    * table by the COW merge with latest-capture winner semantics
    * (warc_ts desc, md5(text) desc). The final TABLE — not a query over
    * a stream — must equal the batch dedup bit-exactly, which is
    * order-independence across batches: recaptures of one url land in
    * different micro-batches and the winner must still be the global
    * one. The dual replays the window dedup over the same staged
    * bytes. */
  val q_stream_upsert: QueryDef = QueryDef.sqlChecked(
    "q_stream_upsert",
    s"""WITH pages AS (SELECT * FROM '$SideRoot/upsert_src/*.parquet'),
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY url ORDER BY warc_ts DESC, md5(text) DESC) AS rn
       |  FROM pages)
       |SELECT url, warc_ts, CAST(length(text) AS BIGINT) AS text_len
       |FROM ranked WHERE rn = 1 ORDER BY url""".stripMargin) { (s, dir) =>
    val src = s"$SideRoot/upsert_src"
    val pages = withGeo(WebPages.generate(s, N).toDF())
      .select("url", "warc_ts", "text", "lang")
    pages.repartition(4).write.mode("overwrite").parquet(src)
    val root = QueryDef.recreateDir(SideTables.root("stream_upsert")).toString
    val sink = graft.streaming.StreamOps.upsertSink(QueryDef.streamSource(s, src), root, "pages",
      keyCols = Seq("url"),
      orderCols = Seq(col("warc_ts").desc, md5(col("text")).desc),
      queryName = "stream_upsert")
    QueryDef.runStream(s, sink)
    val m = graft.meta.Snapshots.latest(root, "pages").get
    require(m.snapshotId >= 3,
      s"expected >= 4 micro-batch commits, saw id ${m.snapshotId}")
    graft.meta.Snapshots.read(s, m)
      .select(col("url"), col("warc_ts"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy(col("url"))
  }

  /** Replay-safe streaming exact dedup as a REAL streaming run
    * ([[graft.streaming.StreamOps.replayDedup]]): the staged source is
    * the page table PLUS a deterministic re-delivery of every third
    * page (the at-least-once failure mode), shuffled across files so
    * duplicates cross micro-batch boundaries and the drop must come
    * from the state store, not batch-local distinct. The horizon
    * covers the staged time spread, so the emitted set must equal
    * exact DISTINCT over the staged bytes — the dual. */
  val q_stream_dedup: QueryDef = QueryDef.sqlChecked(
    "q_stream_dedup",
    s"""WITH pages AS (SELECT * FROM '$SideRoot/dedup_replay/*.parquet')
       |SELECT DISTINCT url, warc_ts, md5(text) AS content_md5,
       |  CAST(length(text) AS BIGINT) AS text_len
       |FROM pages
       |ORDER BY url, warc_ts, content_md5""".stripMargin) { (s, dir) =>
    val src = s"$SideRoot/dedup_replay"
    val pages = withGeo(WebPages.generate(s, N).toDF())
      .select("url", "warc_ts", "text")
    val redelivered = pages.filter(xxhash64(col("url")) % 3 === 0)
    pages.unionByName(redelivered).repartition(5, col("url"))
      .write.mode("overwrite").parquet(src)
    val deduped = graft.streaming.StreamOps.replayDedup(
        QueryDef.streamSource(s, src).withColumn("content_md5", md5(col("text"))),
        "warc_ts", Seq("url", "warc_ts", "content_md5"),
        horizon = "3650 days")
    QueryDef.streamToMemory(deduped, "stream_dedup_out")
      .select(col("url"), col("warc_ts"), col("content_md5"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy(col("url"), col("warc_ts"), col("content_md5"))
  }

  val all: Seq[QueryDef] =
    Seq(q_webpages_dedup, q_webpages_pipeline, q_bloom_dedup, q_url_norm,
      q_stream_upsert, q_stream_dedup)
}
