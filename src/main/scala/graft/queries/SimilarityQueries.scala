package graft.queries

import graft.core.Tables
import graft.similarity.Ann
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** Embedding similarity + multimodal-metadata pack. */
object SimilarityQueries {

  final val Dim = 64

  /** Exact cosine top-10: query vectors vec_id < 3 vs the rest. The
    * DuckDB dual folds the dot product with list_reduce in the same
    * order as Spark's aggregate(), so cosines match bit-for-bit. */
  val q_ann_topk: QueryDef = QueryDef.sqlChecked(
    "q_ann_topk",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
       |t AS (SELECT vec_id, v FROM e WHERE vec_id >= 3),
       |d AS (SELECT qid, vec_id,
       |  list_reduce(list_transform(range(1, ${Dim + 1}), i -> qv[i] * v[i]),
       |              (x, y) -> x + y) AS cos
       |  FROM q CROSS JOIN t)
       |SELECT qid, vec_id, cos, CAST(rn AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
       |  FROM d) z
       |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val e = Ann.withVec(Tables.embeddings(s, dir))
    val q = e.filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("v").as("qv"))
    val t = e.filter(col("vec_id") >= 3).select(col("vec_id"), col("v"))
    Ann.bruteForceTopK(q, t, 10).orderBy(col("qid"), col("rank"))
  }

  /** Per-vector squared L2 norm (exact fold) + label. */
  val q_embed_norm: QueryDef = QueryDef.sqlChecked(
    "q_embed_norm",
    """SELECT vec_id, label,
      |  list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
      |              (a, b) -> a + b) AS norm2
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        expr("aggregate(transform(cast(embedding AS array<double>), x -> x * x), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("norm2"))
      .orderBy(col("vec_id"))
  }

  /** Multimodal plumbing: treat the text payload as an opaque binary
    * column and derive deterministic "decoded" metadata (the real decode
    * is stubbed — see graft.media.Media for the mapPartitions pipeline). */
  val q_media_meta: QueryDef = QueryDef.sqlChecked(
    "q_media_meta",
    s"""WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       |  ${TextOps.hexToLongSql("md5(text)", 8)} AS h8 FROM documents)
       |SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       |  64 + h8 % 1856 AS width,
       |  64 + (h8 * 31) % 1016 AS height,
       |  1 + h8 % 30 AS n_frames
       |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("h8", TextOps.hexToLong(md5(col("text")), 8))
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"),
        (lit(64L) + col("h8") % 1856L).as("width"),
        (lit(64L) + (col("h8") * 31L) % 1016L).as("height"),
        (lit(1L) + col("h8") % 30L).as("n_frames"))
      .orderBy(col("doc_id"))
  }

  /** Embedding-cosine near-dup pairs (the dedup family's embedding
    * member) over a bounded verifier subset (vec_id < 1000 — all-pairs
    * is the VERIFIER shape, like q_ngram_jaccard's pre-filtered set);
    * the LSH-bucketed corpus path is spec'd in DedupSpec. */
  val q_embed_neardup: QueryDef = QueryDef.sqlChecked(
    "q_embed_neardup",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE vec_id < 1000),
       |d AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
       |  list_reduce(list_transform(range(1, ${Dim + 1}), i -> a.v[i] * b.v[i]),
       |              (x, y) -> x + y) AS cos
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
       |SELECT v1, v2, cos FROM d WHERE cos >= 0.3
       |ORDER BY v1, v2""".stripMargin) { (s, dir) =>
    graft.dedup.Dedup.embeddingNearDupPairsExact(
      Ann.withVec(Tables.embeddings(s, dir)).filter(col("vec_id") < 1000)
        .select(col("vec_id"), col("v")),
      tau = 0.3).orderBy(col("v1"), col("v2"))
  }

  /** IVF-bucketed ANN — bit-exact despite being "approximate": every
    * step (first-16 init, two Lloyd rounds with ascending-vec_id mean
    * folds, shuffle-free nearest-centroid argmax with the (cos desc,
    * cid) tie-break, nProbe=4 probe, exact rank) is deterministic
    * arithmetic, so the DuckDB dual unrolls the whole index build and
    * reproduces the result row-for-row. */
  // (doc for q_ann_ivf below; dual builders shared with q_pq_ivf)

  /** Ordered-fold dot product in DuckDB (the list_reduce dual of
    * graft_dot / the aggregate(zip_with) fold). */
  private def dot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** One unrolled Lloyd round over CTE `prev` -> centroids `c$k` +
    * assignments `a$k` (shared by the IVF and IVF-PQ duals). */
  private def lloyd(prev: String, k: Int): String =
      s"""s$k AS (SELECT t.vec_id, t.v, c.cid, ${dot("t.v", "c.cv")} AS cos
         |  FROM t CROSS JOIN $prev c),
         |a$k AS (SELECT vec_id, v, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cid) AS rn FROM s$k) z WHERE rn = 1),
         |px$k AS (SELECT cid, vec_id, r.range - 1 AS pos,
         |    v[CAST(r.range AS INT)] AS x
         |  FROM a$k CROSS JOIN range(1, ${Dim + 1}) r),
         |smc$k AS (SELECT cid, pos, vec_id // ${Ann.MeanFoldChunk} AS chunk,
         |    list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b) AS cs,
         |    count(*) AS cn
         |  FROM px$k GROUP BY cid, pos, chunk),
         |sm$k AS (SELECT cid, pos,
         |    list_reduce(list(cs ORDER BY chunk), (a, b) -> a + b) AS s,
         |    sum(cn) AS n
         |  FROM smc$k GROUP BY cid, pos),
         |cm$k AS (SELECT cid, list(s / n ORDER BY pos) AS raw FROM sm$k GROUP BY cid),
         |c$k AS (SELECT cid, list_transform(raw,
         |    x -> x / sqrt(${dot("raw", "raw")})) AS cv
         |  FROM cm$k)""".stripMargin

  val q_ann_ivf: QueryDef =
    QueryDef.sqlChecked(
      "q_ann_ivf",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
         |t AS (SELECT vec_id, v FROM e WHERE vec_id >= 3),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM t
         |  WHERE vec_id < 19),
         |${lloyd("c0", 1)},
         |${lloyd("c1", 2)},
         |qc AS (SELECT q.qid, q.qv, c.cid, ${dot("c.cv", "q.qv")} AS ccos
         |  FROM q CROSS JOIN c2 c),
         |probes AS (SELECT qid, qv, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY ccos DESC, cid) AS rn FROM qc) z WHERE rn <= 4),
         |cand AS (SELECT p.qid, t.vec_id, ${dot("p.qv", "t.v")} AS cos
         |  FROM probes p JOIN a2 a ON a.cid = p.cid
         |  JOIN t ON t.vec_id = a.vec_id)
         |SELECT qid, vec_id, cos, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rn FROM cand) z
         |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      val e = Ann.withVec(Tables.embeddings(s, dir))
      val q = e.filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("v").as("qv"))
      val t = e.filter(col("vec_id") >= 3).select(col("vec_id"), col("v"))
      Ann.ivfTopK(q, t, 10, nList = 16, nProbe = 4).orderBy(col("qid"), col("rank"))
    }

  /** Fixed side-table root for the PQ staged-codebook oracle. */
  final val PqSideRoot = SideTables.root("pq_side")

  /** Product-quantization ANN (the compressed-domain scale path): train
    * deterministic per-subspace codebooks on a bounded sample
    * (driver-side, 256 vectors), stage them to a parquet side-table,
    * PQ-encode the corpus row-locally (broadcast-literal codebooks, no
    * shuffle), and score queries by ADC lookup-table folds over the
    * m-byte codes. The DuckDB dual replays encode AND ADC bit-exactly
    * from the staged codebooks (argmin with the same (dist, code)
    * tie-break, folds in the same index order); training itself is
    * pinned by PqSpec. Approximate vs exact cosine by construction —
    * deterministic bit-for-bit. */
  val q_pq_topk: QueryDef = {
    val M = 16; val W = Dim / M; val NC = 32
    QueryDef.sqlChecked(
      "q_pq_topk",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
         |t AS (SELECT vec_id, v FROM e WHERE vec_id >= 3),
         |cb AS (SELECT s, code, cv FROM '$PqSideRoot/cb/*.parquet'),
         |enc AS (SELECT t.vec_id, cb.s, cb.code,
         |  list_reduce(list_transform(range(1, ${W + 1}), i ->
         |    (t.v[cb.s * $W + i] - cb.cv[i]) * (t.v[cb.s * $W + i] - cb.cv[i])),
         |    (a, b) -> a + b) AS d
         |  FROM t CROSS JOIN cb),
         |codes AS (SELECT vec_id, s, code FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
         |  FROM enc) z WHERE rn = 1),
         |lut AS (SELECT q.qid, cb.s, cb.code,
         |  list_reduce(list_transform(range(1, ${W + 1}), i -> q.qv[cb.s * $W + i] * cb.cv[i]),
         |    (a, b) -> a + b) AS pd
         |  FROM q CROSS JOIN cb),
         |sc AS (SELECT l.qid, c.vec_id,
         |    list_reduce(list(l.pd ORDER BY l.s), (a, b) -> a + b) AS score
         |  FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
         |  GROUP BY l.qid, c.vec_id)
         |SELECT qid, vec_id, score, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY score DESC, vec_id) AS rn FROM sc) z
         |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = graft.similarity.Ann.withVec(Tables.embeddings(s, dir))
      val t = e.filter(col("vec_id") >= 3).select(col("vec_id"), col("v"))
      val sample = t.orderBy(col("vec_id")).limit(256)
        .select(col("v")).as[Seq[Double]].collect().map(_.toArray)
      val cb = graft.similarity.Pq.train(sample, M, NC, iters = 4)
      SideTables.stage(graft.similarity.Pq.codebookDf(s, cb), s"$PqSideRoot/cb")
      val queries = e.filter(col("vec_id") < 3).orderBy(col("vec_id"))
        .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
        .collect().map { case (id, v) => (id, v.toArray) }.toSeq
      graft.similarity.Pq.adcTopK(queries, graft.similarity.Pq.encode(t, cb), cb, 10)
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** IVF-PQ composed (the billion-vector architecture: coarse lists
    * prune the corpus, PQ codes compress the scan inside probed lists).
    * The DuckDB dual replays BOTH layers — the full unrolled Lloyd IVF
    * build/probe (shared CTE builders with q_ann_ivf) and the PQ
    * encode + ADC LUT fold from the staged codebook side-table — so the
    * green row certifies the composition end-to-end. */
  val q_pq_ivf: QueryDef = {
    val M = 16; val W = Dim / M; val NC = 32
    QueryDef.sqlChecked(
      "q_pq_ivf",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
         |t AS (SELECT vec_id, v FROM e WHERE vec_id >= 3),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM t
         |  WHERE vec_id < 19),
         |${lloyd("c0", 1)},
         |${lloyd("c1", 2)},
         |qc AS (SELECT q.qid, q.qv, c.cid, ${dot("c.cv", "q.qv")} AS ccos
         |  FROM q CROSS JOIN c2 c),
         |probes AS (SELECT qid, qv, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY ccos DESC, cid) AS rn FROM qc) z WHERE rn <= 4),
         |cb AS (SELECT s, code, cv FROM '$PqSideRoot/cb_ivf/*.parquet'),
         |enc AS (SELECT t.vec_id, cb.s, cb.code,
         |  list_reduce(list_transform(range(1, ${W + 1}), i ->
         |    (t.v[cb.s * $W + i] - cb.cv[i]) * (t.v[cb.s * $W + i] - cb.cv[i])),
         |    (a, b) -> a + b) AS d
         |  FROM t CROSS JOIN cb),
         |codes AS (SELECT vec_id, s, code FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
         |  FROM enc) z WHERE rn = 1),
         |lut AS (SELECT q.qid, cb.s, cb.code,
         |  list_reduce(list_transform(range(1, ${W + 1}), i -> q.qv[cb.s * $W + i] * cb.cv[i]),
         |    (a, b) -> a + b) AS pd
         |  FROM q CROSS JOIN cb),
         |cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN a2 a ON a.cid = p.cid),
         |sc AS (SELECT l.qid, c.vec_id,
         |    list_reduce(list(l.pd ORDER BY l.s), (a, b) -> a + b) AS score
         |  FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
         |  JOIN cand ca ON ca.qid = l.qid AND ca.vec_id = c.vec_id
         |  GROUP BY l.qid, c.vec_id)
         |SELECT qid, vec_id, score, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY score DESC, vec_id) AS rn FROM sc) z
         |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = graft.similarity.Ann.withVec(Tables.embeddings(s, dir))
      val t = e.filter(col("vec_id") >= 3).select(col("vec_id"), col("v"))
      val sample = t.orderBy(col("vec_id")).limit(256)
        .select(col("v")).as[Seq[Double]].collect().map(_.toArray)
      val cb = graft.similarity.Pq.train(sample, M, NC, iters = 4)
      SideTables.stage(graft.similarity.Pq.codebookDf(s, cb), s"$PqSideRoot/cb_ivf")
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.similarity.Pq.ivfPqTopK(q, t, cb, 10, nList = 16, nProbe = 4)
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023 — graft.similarity
    * .SemDedup): deterministic k-means clusters via the IVF quantizer,
    * within-cluster pairs only, low-centroid-cosine exemplar kept. The
    * dual replays the full unrolled Lloyd build (shared CTE builders
    * with q_ann_ivf) plus the pair predicate — bit-exact end-to-end. */
  val q_semdedup: QueryDef = QueryDef.sqlChecked(
    "q_semdedup",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |t AS (SELECT vec_id, v FROM e),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM t
       |  ORDER BY vec_id LIMIT 16),
       |${lloyd("c0", 1)},
       |${lloyd("c1", 2)},
       |m AS (SELECT a.vec_id, a.cid, a.v, ${dot("a.v", "c.cv")} AS ccos
       |  FROM a2 a JOIN c2 c ON a.cid = c.cid),
       |p AS (SELECT DISTINCT b.vec_id AS dv
       |  FROM m a JOIN m b ON a.cid = b.cid
       |    AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
       |    AND ${dot("a.v", "b.v")} >= 0.3)
       |SELECT m.vec_id, m.cid, m.ccos, CAST(p.dv IS NULL AS INT) AS kept
       |FROM m LEFT JOIN p ON p.dv = m.vec_id
       |ORDER BY m.vec_id""".stripMargin) { (s, dir) =>
    val corpus = Ann.withVec(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("v"))
    graft.similarity.SemDedup.semDedup(corpus, nList = 16, tau = 0.3)
      .orderBy(col("vec_id"))
  }

  val all: Seq[QueryDef] =
    Seq(q_ann_topk, q_ann_ivf, q_pq_topk, q_pq_ivf, q_embed_norm,
      q_embed_neardup, q_media_meta, q_semdedup, q_media_phash)

  /** REAL image decode end-to-end through the driver surface: each doc
    * (doc_id < 200) renders a deterministic 32×32 PNG executor-side
    * (pixels are pure integer functions of doc_id — two id-derived
    * gray levels in an id-phased stripe pattern), the bytes round-trip
    * through `javax.imageio` decode, and
    * [[graft.media.Media.imageHashes]] emits the 64-bit aHash. Docs
    * with id ≡ 0 (mod 7) reuse their neighbor's pattern (id − 1), so
    * the output provably contains Hamming-0 near-dup pairs. Rows-only
    * by nature (no SQL imaging dual — the q_contour_wkt contract);
    * MediaSpec pins the hash math and the near/far Hamming behavior. */
  lazy val q_media_phash: QueryDef = QueryDef.rowsOnly("q_media_phash") {
    (s, dir) =>
    import s.implicits._
    val payloads = Tables.documents(s, dir)
      .filter(col("doc_id") < 200).select("doc_id").as[Long]
      .map { id =>
        val seed = if (id % 7 == 0 && id > 0) id - 1 else id
        val g1 = (seed * 37 % 200 + 20).toInt
        val g2 = (seed * 91 % 200 + 40).toInt
        val (ax, ay) = ((seed % 3 + 1).toInt, (seed / 3 % 3).toInt)
        val stripe = (seed % 5 + 3).toInt
        val phase = (seed % 13).toInt
        val img = new java.awt.image.BufferedImage(
          32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 32; x <- 0 until 32) {
          val g = if (((ax * x + ay * y + phase) / stripe) % 2 == 0) g1 else g2
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
        }
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        graft.media.Media.MediaPayload(id, "image/png", baos.toByteArray)
      }
    graft.media.Media.imageHashes(payloads)
      .toDF("doc_id", "ahash")
      .orderBy(col("doc_id"))
  }
}
