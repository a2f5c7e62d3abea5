package graft.queries

import graft.core.Tables
import graft.dedup.DupClusters
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline operators beyond pair generation:
 *
 *  - q_dup_clusters: transitive duplicate clustering — connected
 *    components over a dup-pair edge list ([[graft.dedup.DupClusters]]),
 *    pinned against a DuckDB recursive-CTE reachability closure. The
 *    staged fixture builds path-shaped components (docs chained by
 *    alternating head/tail fingerprints), the worst case for label
 *    propagation, so the pointer-jumping convergence is what's tested —
 *    a clique fixture would converge in one round and prove nothing.
 *
 *  - q_hash_sample: deterministic stratified sampling by content hash —
 *    the reproducible train/eval split primitive. Each doc's bucket is
 *    a pure function of (doc_id, lang) via md5, so the sample is stable
 *    across runs, partitionings, and engines (no RNG state, no
 *    sampleBy); per-language rates give the stratification a data-mix
 *    pipeline needs. Entirely codegen'd builtins — the filter pushes to
 *    the scan like any other predicate, no shuffle at all.
 */
object PipelineQueries {

  final val SideRoot = SideTables.root("pipeline_side")

  /** Path-components fixture: component c has 8 docs (ids 8c..8c+7);
    * doc j shares its head token with neighbor pairs (2k, 2k+1) and its
    * tail-ish second token with pairs (2k+1, 2k+2) — an 8-node path. */
  private def dupDocs(s: org.apache.spark.sql.SparkSession) =
    s.range(480L).select(
      col("id").as("doc_id"),
      format_string("p%d_%d t%d_%d body filler words",
        (col("id") / 8).cast("long"), (col("id") % 8 / 2).cast("long"),
        (col("id") / 8).cast("long"), ((col("id") % 8 + 1) / 2).cast("long"))
        .as("text"))

  val q_dup_clusters: QueryDef = QueryDef.sqlChecked(
    "q_dup_clusters",
    s"""WITH RECURSIVE
       |d AS (SELECT doc_id, split_part(text, ' ', 1) AS pk,
       |             split_part(text, ' ', 2) AS sk
       |      FROM '$SideRoot/dupdocs/*.parquet'),
       |e1 AS (SELECT a.doc_id AS x, b.doc_id AS y FROM d a JOIN d b
       |       ON a.pk = b.pk AND a.doc_id < b.doc_id),
       |e2 AS (SELECT a.doc_id AS x, b.doc_id AS y FROM d a JOIN d b
       |       ON a.sk = b.sk AND a.doc_id < b.doc_id),
       |e AS (SELECT x, y FROM e1 UNION SELECT x, y FROM e2),
       |sym AS (SELECT x, y FROM e UNION SELECT y AS x, x AS y FROM e),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM d
       |  UNION
       |  SELECT s.x, reach.r FROM sym s JOIN reach ON s.y = reach.id)
       |SELECT id AS doc_id, min(r) AS cluster
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val d = SideTables.stage(dupDocs(s), s"$SideRoot/dupdocs")
      .select(col("doc_id"),
        split(col("text"), " ")(0).as("pk"),
        split(col("text"), " ")(1).as("sk"))
    def pairsOn(k: String) = {
      val a = d.select(col("doc_id").as("x"), col(k).as("k"))
      val b = d.select(col("doc_id").as("y"), col(k).as("k"))
      a.join(b, "k").filter(col("x") < col("y")).select("x", "y")
    }
    val edges = pairsOn("pk").union(pairsOn("sk")).distinct()
    DupClusters.components(edges)
      .select(col("id").as("doc_id"), col("cluster"))
      .orderBy("doc_id")
  }

  val q_hash_sample: QueryDef = QueryDef.sqlChecked(
    "q_hash_sample",
    """SELECT doc_id, lang, bucket FROM (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || lang), 1, 8))::BIGINT
      |      % 1000 AS bucket
      |  FROM documents) t
      |WHERE bucket < CASE lang WHEN 'en' THEN 250 WHEN 'zh' THEN 400
      |                         WHEN 'es' THEN 550 WHEN 'de' THEN 700
      |                         ELSE 850 END
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bucket = conv(
      substring(md5(concat(col("doc_id").cast("string"), lit(":"), col("lang"))),
        1, 8), 16, 10).cast("long") % 1000
    val rate = when(col("lang") === "en", 250)
      .when(col("lang") === "zh", 400)
      .when(col("lang") === "es", 550)
      .when(col("lang") === "de", 700)
      .otherwise(850)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .filter(col("bucket") < rate)
      .orderBy("doc_id")
  }

  /** Exact-quota stratified sample ([[graft.text.Sampling]]): exactly
    * quota(lang) docs per language, selected as the first rows of each
    * stratum in md5(doc_id) order. The engine runs the two-phase
    * threshold select (hash-prefix prefilter + per-stratum sufficiency
    * check + fallback); the oracle is the naive single-window plan the
    * two-phase version is provably identical to — at this SF the big
    * strata take the prefiltered path and the small ones exercise the
    * fallback, so BOTH branches sit behind the bit-exact gate. */
  val q_stratified_sample: QueryDef = QueryDef.sqlChecked(
    "q_stratified_sample",
    """SELECT doc_id, lang, rk FROM (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      |  FROM documents) t
      |WHERE rk <= CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 30
      |                      WHEN 'es' THEN 25 WHEN 'de' THEN 20
      |                      ELSE 15 END
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val quota = when(col("lang") === "en", 40)
      .when(col("lang") === "zh", 30)
      .when(col("lang") === "es", 25)
      .when(col("lang") === "de", 20)
      .otherwise(15)
    graft.text.Sampling.stratifiedExact(
        Tables.documents(s, dir).select("doc_id", "lang"),
        "lang", "doc_id", quota, threshold = 32768)
      .withColumn("rk", col("rk").cast("long"))
      .select("doc_id", "lang", "rk")
      .orderBy("doc_id")
  }

  /** Token-budgeted stratified sample ([[graft.text.Sampling
    * .tokenBudget]]): fill each language's char budget in md5(doc_id)
    * order, first-crossing row included. Engine runs the two-phase
    * threshold select; the oracle is the naive per-stratum running-sum
    * window it is provably identical to. Budgets are sized so large
    * strata take the prefiltered path and small ones the fallback. */
  val q_token_budget: QueryDef = QueryDef.sqlChecked(
    "q_token_budget",
    """SELECT doc_id, lang, n_chars, CAST(tok_before AS BIGINT) AS tok_before
      |FROM (
      |  SELECT doc_id, lang, n_chars,
      |    coalesce(sum(n_chars) OVER (PARTITION BY lang
      |      ORDER BY md5(doc_id::VARCHAR), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
      |  FROM documents) t
      |WHERE tok_before < CASE lang WHEN 'en' THEN 60000 WHEN 'zh' THEN 40000
      |                             ELSE 25000 END
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val budget = when(col("lang") === "en", 60000L)
      .when(col("lang") === "zh", 40000L)
      .otherwise(25000L)
    graft.text.Sampling.tokenBudget(
        Tables.documents(s, dir).select("doc_id", "lang", "n_chars"),
        "lang", "doc_id", "n_chars", budget, threshold = 32768)
      .select("doc_id", "lang", "n_chars", "tok_before")
      .orderBy("doc_id")
  }

  /** Deterministic global corpus shuffle
    * ([[graft.text.Sampling.deterministicShuffle]]): every doc's 0-based
    * position in a reproducible pseudo-random permutation — the training
    * data-order primitive. The permutation key is an odd-multiplier mix
    * of doc_id (injective mod 2^32 at any test SF); the engine ranks it
    * with the two-level prefix sum, the oracle IS the single-task
    * global-order window the engine exists to avoid. */
  val q_shuffle_rank: QueryDef = QueryDef.sqlChecked(
    "q_shuffle_rank",
    """SELECT doc_id, CAST(row_number() OVER (
      |    ORDER BY (doc_id * 2654435761) % 4294967296) - 1 AS BIGINT) AS pos
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.text.Sampling.deterministicShuffle(
        Tables.documents(s, dir).select("doc_id"),
        (col("doc_id") * lit(2654435761L)) % lit(4294967296L),
        bucketShift = 20)
      .select("doc_id", "pos")
      .orderBy("doc_id")
  }

  /** Concat-and-chunk sequence packing ([[graft.text.Packing]]): docs
    * concatenated in doc_id order, token stream cut into 512-token
    * training sequences; each doc labeled with its global token offset
    * and chunk span. The engine computes the offsets with the two-level
    * distributed prefix sum ([[graft.core.PrefixSum]] — no global-order
    * window); the oracle IS the naive global running window, so the
    * green row proves the scan decomposition exact. */
  val q_pack_chunks: QueryDef = QueryDef.sqlChecked(
    "q_pack_chunks",
    """WITH t AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS start_off
      |  FROM t)
      |SELECT doc_id, n_tokens, start_off,
      |  CAST(start_off // 512 AS BIGINT) AS chunk_first,
      |  CAST((start_off + n_tokens - 1) // 512 AS BIGINT) AS chunk_last
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // bucketShift 8 (not the 10^12-scale default 20) so the gate
    // exercises the multi-bucket scan decomposition at test SF
    graft.text.Packing.concatChunk(Tables.documents(s, dir), capacity = 512L,
        bucketShift = 8)
      .orderBy("doc_id")
  }

  /** The packed sequences EMITTED ([[graft.text.Packing.chunkSlices]]):
    * one row per (chunk_id, doc slice) with the doc-local token range
    * and the slice's position inside the fixed-512 training sequence —
    * what a sequence writer actually consumes, not just the per-doc
    * bookkeeping of [[q_pack_chunks]]. The oracle re-derives the slices
    * from the naive global running window + generate_series, so the
    * green row proves both the scan decomposition and the intersection
    * arithmetic. */
  val q_pack_emit: QueryDef = QueryDef.sqlChecked(
    "q_pack_emit",
    """WITH t AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS start_off
      |  FROM t),
      |x AS (SELECT doc_id, n_tokens, start_off,
      |  unnest(generate_series(start_off // 512,
      |                         (start_off + n_tokens - 1) // 512)) AS chunk_id
      |  FROM c WHERE n_tokens > 0),
      |s AS (SELECT chunk_id, doc_id, start_off,
      |  greatest(start_off, chunk_id * 512) AS lo,
      |  least(start_off + n_tokens, chunk_id * 512 + 512) AS hi
      |  FROM x)
      |SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
      |  CAST(lo - start_off AS BIGINT) AS tok_start,
      |  CAST(hi - lo AS BIGINT) AS tok_len,
      |  CAST(lo - chunk_id * 512 AS BIGINT) AS seq_off
      |FROM s ORDER BY chunk_id, doc_id""".stripMargin) { (s, dir) =>
    graft.text.Packing.chunkSlices(Tables.documents(s, dir), capacity = 512L,
        bucketShift = 8)
      .orderBy("chunk_id", "doc_id")
  }

  /** Near-dup similarity threshold for [[q_neardup_purge]] (fraction of
    * the 16 minhashes that must agree). */
  final val PurgeTau = 0.75

  /** END-TO-END near-duplicate corpus purge — the composed pipeline a
    * training-data run actually executes, not just its stages:
    * MinHash signatures -> capped LSH band buckets -> candidate pairs
    * -> est_sim >= tau filter -> transitive clustering (pointer-jumping
    * CC) -> keep the min-doc_id representative per cluster -> anti-join
    * the victims out of the corpus. Every stage is the already-verified
    * operator ([[graft.dedup.Dedup]], [[DupClusters]]); this query pins
    * their COMPOSITION bit-exactly against a DuckDB dual that replays
    * the whole chain (signatures, band keys, the bucket cap, the sim
    * fraction, a recursive-CTE closure, the anti-join).
    *
    * Scale shape: signatures are one hash-agg over exploded shingles;
    * the pair join is bucket-bounded (never quadratic); clustering is
    * O(log diameter) rounds; the purge is one left-anti join. No stage
    * collects the corpus. */
  val q_neardup_purge: QueryDef = {
    import graft.dedup.Dedup
    import graft.text.TextOps
    val H = Dedup.NumHashes
    val bands = 4
    val rows = H / bands
    val mins = (0 until H).map(j =>
      s"min((${Dedup.hashA(j)} * hv + ${Dedup.hashB(j)}) % ${Dedup.MinHashP}) AS m$j")
      .mkString(",\n  ")
    val bandSel = (0 until bands).map { b =>
      val key = (0 until rows).map(r => s"CAST(m${b * rows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    val simSum = (0 until H)
      .map(j => s"CASE WHEN s1.m$j = s2.m$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    QueryDef.sqlChecked(
      "q_neardup_purge",
      s"""WITH RECURSIVE ${TextOps.shingleCteSql},
         |h AS (SELECT doc_id, ${TextOps.hexToLongSql("md5(s)", 8)} AS hv FROM sh),
         |sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id),
         |bb AS ($bandSel),
         |ok AS (SELECT band, key FROM bb GROUP BY band, key
         |       HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
         |bbk AS (SELECT bb.* FROM bb JOIN ok USING (band, key)),
         |p AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |      FROM bbk a JOIN bbk b USING (band, key)
         |      WHERE a.doc_id < b.doc_id),
         |e AS (SELECT doc1 AS x, doc2 AS y FROM p
         |      JOIN sig s1 ON p.doc1 = s1.doc_id
         |      JOIN sig s2 ON p.doc2 = s2.doc_id
         |      WHERE CAST($simSum AS DOUBLE) / $H.0 >= $PurgeTau),
         |sym AS (SELECT x, y FROM e UNION SELECT y AS x, x AS y FROM e),
         |reach(id, r) AS (
         |  SELECT DISTINCT x, x FROM sym
         |  UNION
         |  SELECT s.x, reach.r FROM sym s JOIN reach ON s.y = reach.id),
         |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         |victims AS (SELECT id FROM comp WHERE id <> cluster)
         |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         |LEFT JOIN victims v ON d.doc_id = v.id
         |WHERE v.id IS NULL ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sigs = Dedup.minhashSignatures(docs)
      val edges = Dedup.lshPairs(sigs, bands, rows)
        .filter(col("est_sim") >= PurgeTau)
        .select(col("doc1").as("x"), col("doc2").as("y"))
      val victims = DupClusters.components(edges)
        .filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      docs.join(victims, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }
  }

  val all: Seq[QueryDef] =
    Seq(q_dup_clusters, q_hash_sample, q_stratified_sample, q_token_budget,
      q_shuffle_rank, q_pack_chunks, q_pack_emit, q_neardup_purge)
}
