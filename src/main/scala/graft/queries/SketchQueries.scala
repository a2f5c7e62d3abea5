package graft.queries

import graft.core.Tables
import graft.sketch.{Sketches, TopK}
import org.apache.spark.sql.functions._

/**
 * Mergeable-sketch aggregates over the documents table. The driver
 * oracle leans on the exactness contract: a theta sketch is EXACT below
 * its nominal k = 2^lgK distinct entries (every test SF keeps per-lang
 * distinct texts far under the default 4096), so both the direct
 * aggregate and the stored-sketch rollup must equal DuckDB's
 * `count(DISTINCT ...)` bit-for-bit. The estimation regime (> k) is
 * pinned by SketchSpec's tolerance + merge-invariance cases instead.
 */
object SketchQueries {

  /** Per-lang distinct text counts, twice: directly from the raw rows,
    * and re-rolled-up from per-(lang, source) STORED sketches — the
    * profile-table pattern where coarser groupings never re-touch raw
    * data. Both columns must equal the oracle's exact distinct count. */
  val q_theta_rollup: QueryDef = QueryDef.sqlChecked(
    "q_theta_rollup",
    """SELECT lang, count(DISTINCT text) AS n_direct,
      |  count(DISTINCT text) AS n_rollup
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val direct = docs.groupBy("lang")
      .agg(Sketches.thetaDistinct(col("text")).as("n_direct"))
    val rolled = docs.groupBy("lang", "source")
      .agg(Sketches.thetaSketch(col("text")).as("sk"))
      .groupBy("lang")
      .agg(Sketches.thetaUnionDistinct(col("sk")).as("n_rollup"))
    direct.join(rolled, Seq("lang")).orderBy(col("lang"))
  }

  /** Per-lang doc-length quartiles via the KLL sketch. Exactness
    * contract: KLL retains every update until its capacity (>= k
    * items) is exceeded, so with k = 4096 far above the largest
    * per-lang group at any test SF (~2k docs at sf0.1) the sketch is
    * in exact mode and its INCLUSIVE-rank quantile is precisely the
    * ceil(p*n)-th order statistic, which the dual computes from a
    * sorted list. Beyond capacity KLL's compaction picks a RANDOM
    * offset — results are rank-error-bounded (~1.65%/k,
    * SketchSpec-pinned) but not bit-reproducible, unlike theta — so
    * size k to the largest group whenever determinism matters. */
  val q_kll_quantiles: QueryDef = QueryDef.sqlChecked(
    "q_kll_quantiles",
    """SELECT lang,
      |  list_sort(list(CAST(n_chars AS DOUBLE)))[CAST(ceil(0.25 * count(*)) AS INT)] AS p25,
      |  list_sort(list(CAST(n_chars AS DOUBLE)))[CAST(ceil(0.50 * count(*)) AS INT)] AS p50,
      |  list_sort(list(CAST(n_chars AS DOUBLE)))[CAST(ceil(0.75 * count(*)) AS INT)] AS p75
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(Sketches.kllQuantiles(col("n_chars").cast("double"),
        Seq(0.25, 0.50, 0.75), k = 4096).as("q"))
      .select(col("lang"), col("q")(0).as("p25"), col("q")(1).as("p50"),
        col("q")(2).as("p75"))
      .orderBy(col("lang"))
  }

  /** Fixed side-table root for the heavy-hitters fixture below. */
  final val SideRoot = SideTables.root("sketch_side")

  /** Per-lang heavy-hitter domains over a Zipf-skewed staged crawl
    * (`Sketches.freqItems`, Misra-Gries). Exactness contract: each lang
    * sees ~170 distinct domains, far under maxMapSize 2048, so no
    * counter is ever evicted, getMaximumError() is 0, and every
    * estimate equals the exact count — the dual is a plain
    * GROUP BY + HAVING. The eviction regime (error-bounded,
    * no-false-negatives) is SketchSpec-pinned. */
  val q_freq_domains: QueryDef = QueryDef.sqlChecked(
    "q_freq_domains",
    s"""WITH p AS (SELECT * FROM '$SideRoot/freqpages/*.parquet'),
       |c AS (SELECT lang, regexp_extract(url, 'https://([^/]+)/', 1) AS item,
       |  count(*) AS n FROM p GROUP BY 1, 2)
       |SELECT lang, item, n FROM c WHERE n >= 20
       |ORDER BY lang, n DESC, item""".stripMargin) { (s, dir) =>
    import s.implicits._
    val pages = s.range(5000L).map { id =>
      val (url, _, lang, _) = graft.ingest.WebPages.makeMeta(13L, id)
      (url, lang)
    }.toDF("url", "lang")
    val p = SideTables.stage(pages, s"$SideRoot/freqpages")
      .withColumn("item", regexp_extract(col("url"), "https://([^/]+)/", 1))
    p.groupBy("lang")
      .agg(Sketches.freqItems(col("item"), minCount = 20L).as("fi"))
      .select(col("lang"), explode(col("fi")).as("f"))
      .select(col("lang"), col("f.item").as("item"), col("f.n").as("n"))
      .orderBy(col("lang"), col("n").desc, col("item"))
  }

  /** Top-3 longest docs per language via the bounded-heap TopK
    * aggregate ([[graft.sketch.TopK]]) — exact at any k, but map-side
    * partials keep only k pairs instead of window-sorting every row.
    * The dual is the row_number form the aggregate replaces; ranks are
    * recovered with posexplode over the (score desc, item asc) array. */
  val q_topk_langs: QueryDef = QueryDef.sqlChecked(
    "q_topk_langs",
    """SELECT lang, rank, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY n_chars DESC, doc_id) AS rank
      |  FROM documents) t
      |WHERE rank <= 3 ORDER BY lang, rank""".stripMargin) { (s, dir) =>
    graft.core.Tables.documents(s, dir)
      .groupBy("lang")
      .agg(TopK.topK(col("doc_id"), col("n_chars"), 3).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("lang"), (col("pos") + 1).as("rank"),
        col("t.item").as("doc_id"), col("t.score").as("n_chars"))
      .orderBy("lang", "rank")
  }

  /** EXACT global discrete quantiles of the token count
    * ([[graft.core.OrderStats]]) — the exact counterpart of
    * q_kll_quantiles: value-histogram + two-level prefix sum +
    * broadcast rank probe, never a global sort. The dual IS the global
    * sort (row_number over ORDER BY v) the engine refuses to run. */
  val q_exact_quantiles: QueryDef = QueryDef.sqlChecked(
    "q_exact_quantiles",
    """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      |  FROM documents),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
      |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM t),
      |ks AS (SELECT CAST(p AS DOUBLE) AS p,
      |    least(CAST(floor(CAST(p AS DOUBLE) * n.n) AS BIGINT) + 1, n.n) AS k
      |  FROM (VALUES (0.1), (0.25), (0.5), (0.75), (0.9), (0.99)) v(p), n)
      |SELECT ks.p, ks.k, r.v FROM ks JOIN r ON r.rn = ks.k
      |ORDER BY ks.p""".stripMargin) { (s, dir) =>
    val toks = Tables.documents(s, dir)
      .select(size(graft.text.TextOps.tokens(col("text")))
        .cast("long").as("v"))
    graft.core.OrderStats
      .quantiles(toks, "v", Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
      .orderBy(col("p"))
  }

  /** Robust outlier detection — flag events whose value (in exact
    * cents) deviates from the per-type median by more than 3× the
    * median absolute deviation, both medians exact upper-middles via
    * [[graft.core.OrderStats.upperMedianByKey]] (value-histogram +
    * distinct-value window — no per-key sort of raw rows). All integer
    * arithmetic; the only IEEE step is the shared `round(value·100)`
    * quantization. The dual recomputes both medians with the
    * row_number rank convention (`k = n div 2 + 1`) the engine's
    * histogram probe implements. */
  val q_robust_outliers: QueryDef = QueryDef.sqlChecked(
    "q_robust_outliers",
    """WITH e AS (SELECT event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |n AS (SELECT event_type, count(*) AS n FROM e GROUP BY 1),
      |r AS (SELECT event_type, cents, row_number() OVER (
      |    PARTITION BY event_type ORDER BY cents) AS rn FROM e),
      |med AS (SELECT r.event_type, r.cents AS med FROM r
      |  JOIN n USING (event_type) WHERE rn = n // 2 + 1),
      |d AS (SELECT e.event_id, e.event_type, e.cents, m.med,
      |    abs(e.cents - m.med) AS ad FROM e JOIN med m USING (event_type)),
      |r2 AS (SELECT event_type, ad, row_number() OVER (
      |    PARTITION BY event_type ORDER BY ad) AS rn FROM d),
      |mad AS (SELECT r2.event_type, r2.ad AS mad FROM r2
      |  JOIN n USING (event_type) WHERE rn = n // 2 + 1)
      |SELECT d.event_id, d.event_type, d.cents, d.med, mad.mad, d.ad
      |FROM d JOIN mad USING (event_type)
      |WHERE d.ad > 3 * mad.mad
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import graft.core.OrderStats
    val e = Tables.events(s, dir).select(col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val med = OrderStats.upperMedianByKey(e, "event_type", "cents")
      .withColumnRenamed("median", "med")
    val dev = e.join(med, "event_type")
      .withColumn("ad", abs(col("cents") - col("med")))
    val mad = OrderStats.upperMedianByKey(dev, "event_type", "ad")
      .withColumnRenamed("median", "mad")
    dev.join(mad, "event_type")
      .filter(col("ad") > lit(3L) * col("mad"))
      .select("event_id", "event_type", "cents", "med", "mad", "ad")
      .orderBy(col("event_id"))
  }

  /** Exact CDF featurization — every doc's global rank, cumulative
    * count, and percentile of its token count: the quantile-
    * normalization transform feature pipelines apply before
    * binning/clipping. The histogram + two-level [[graft.core.PrefixSum]]
    * + value equi-join replace the global-order rank window (the dual
    * runs exactly that window); pct is one IEEE division of the exact
    * cumulative count by the exact total. */
  val q_cdf_rank: QueryDef = QueryDef.sqlChecked(
    "q_cdf_rank",
    s"""WITH d AS (SELECT doc_id,
       |    CAST(len(${graft.text.TextOps.tokensSql("text")}) AS BIGINT) AS v
       |  FROM documents)
       |SELECT doc_id, v, rank() OVER (ORDER BY v) AS rnk,
       |  count(*) OVER (ORDER BY v) AS cume,
       |  CAST(count(*) OVER (ORDER BY v) AS DOUBLE)
       |    / (SELECT count(*) FROM d) AS pct
       |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir).select(col("doc_id"),
      size(graft.text.TextOps.tokens(col("text"))).cast("long").as("v"))
    val hist = d.groupBy("v").agg(count(lit(1)).as("c"))
    // total derived from the histogram itself (1-row broadcast) — an
    // eager d.count() would re-scan and re-tokenize every document
    val total = hist.agg(sum(col("c")).as("_n"))
    val ranks = graft.core.PrefixSum
      .exclusive(hist, "v", "c", shiftright(col("v"), 4))
      .select(col("v"), (col("prefix") + 1).as("rnk"),
        (col("prefix") + col("c")).as("cume"))
    d.join(ranks, "v").crossJoin(broadcast(total))
      .select(col("doc_id"), col("v"), col("rnk"), col("cume"),
        (col("cume").cast("double") / col("_n").cast("double")).as("pct"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[QueryDef] =
    Seq(q_theta_rollup, q_kll_quantiles, q_freq_domains, q_topk_langs,
      q_exact_quantiles, q_robust_outliers, q_cdf_rank)
}
