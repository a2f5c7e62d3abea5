package graft.queries

import graft.core.Tables
import graft.dedup.Dedup
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** Text-analysis + dedup operator pack over `documents`, each with an
  * exact DuckDB oracle. */
object TextQueries {

  val q_token_stats: QueryDef = QueryDef.sqlChecked(
    "q_token_stats",
    s"""SELECT doc_id,
       |  CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(${TextOps.tokensSql("text")})) AS BIGINT) AS n_uniq,
       |  CAST(length(text) AS BIGINT) AS n_chars_calc,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        size(array_distinct(TextOps.tokens(col("text")))).cast("long").as("n_uniq"),
        length(col("text")).cast("long").as("n_chars_calc"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .orderBy(col("doc_id"))
  }

  val q_lang_guess: QueryDef = QueryDef.sqlChecked(
    "q_lang_guess",
    s"""SELECT doc_id, ${TextOps.langGuessSql("text")} AS guess,
       |  CAST(${TextOps.langGuessSql("text")} = lang AS INT) AS hit
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("guess", TextOps.langGuess(col("text")))
      .select(col("doc_id"), col("guess"),
        (col("guess") === col("lang")).cast("int").as("hit"))
      .orderBy(col("doc_id"))
  }

  val q_quality_score: QueryDef = QueryDef.sqlChecked(
    "q_quality_score",
    s"""SELECT doc_id, ${TextOps.qualitySqlColumns("text")}
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.qualityColumns(Tables.documents(s, dir))
      .select("doc_id", "n_tokens", "n_uniq", "n_stop", "stop_ratio",
        "avg_token_len", "score")
      .orderBy(col("doc_id"))
  }

  /** Document fingerprints: full md5 + 60-bit integer fingerprint. */
  val q_fingerprint: QueryDef = QueryDef.sqlChecked(
    "q_fingerprint",
    s"""SELECT doc_id, md5(text) AS fp_md5,
       |  ${TextOps.hexToLongSql("md5(text)", 15)} AS fp60
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("fp_md5"),
        TextOps.hexToLong(md5(col("text")), 15).as("fp60"))
      .orderBy(col("doc_id"))
  }

  /** Exact dedup by full text (keeper = min doc_id per group). */
  val q_dedup_exact: QueryDef = QueryDef.sqlChecked(
    "q_dedup_exact",
    """SELECT min(doc_id) AS keeper, count(*) AS copies, md5(text) AS h
      |FROM documents GROUP BY text ORDER BY keeper""".stripMargin) { (s, dir) =>
    Dedup.exactGroups(Tables.documents(s, dir), "text")
      .select(col("keeper"), col("copies"), md5(col("text")).as("h"))
      .orderBy(col("keeper"))
  }

  /** Near-dedup by 40-char prefix (coarse clustering variant). */
  val q_dedup_prefix: QueryDef = QueryDef.sqlChecked(
    "q_dedup_prefix",
    """SELECT substr(text, 1, 40) AS prefix, min(doc_id) AS keeper,
      |  count(*) AS copies
      |FROM documents GROUP BY substr(text, 1, 40) ORDER BY keeper""".stripMargin) { (s, dir) =>
    Dedup.exactGroups(
        Tables.documents(s, dir).withColumn("prefix", substring(col("text"), 1, 40)),
        "prefix")
      .select(col("prefix"), col("keeper"), col("copies"))
      .orderBy(col("keeper"))
  }

  /** MinHash signatures (16 hashes over word 3-gram shingles). */
  val q_minhash_sig: QueryDef = QueryDef.sqlChecked(
    "q_minhash_sig",
    Dedup.minhashSignaturesSql + "\nORDER BY doc_id") { (s, dir) =>
    Dedup.minhashSignatures(Tables.documents(s, dir)).orderBy(col("doc_id"))
  }

  /** 16-bit SimHash per doc. */
  val q_simhash: QueryDef = QueryDef.sqlChecked(
    "q_simhash",
    Dedup.simhashSql + "\nORDER BY doc_id") { (s, dir) =>
    Dedup.simhash(Tables.documents(s, dir)).orderBy(col("doc_id"))
  }

  /** Exact n-gram Jaccard for all pairs among doc_id < 40. */
  val q_ngram_jaccard: QueryDef = QueryDef.sqlChecked(
    "q_ngram_jaccard",
    s"""WITH ${TextOps.shingleCteSql},
       |d AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id < 40),
       |sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
       |  FROM d a JOIN d b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT d1, d2, n_inter,
       |  n_inter / (na.n + nb.n - n_inter) AS jaccard
       |FROM inter JOIN sz na ON na.doc_id = d1 JOIN sz nb ON nb.doc_id = d2
       |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, dir).filter(col("doc_id") < 40))
      .orderBy(col("d1"), col("d2"))
  }

  /** Gopher-style repetition signal: the fraction of a doc's 3-gram
    * shingles that are repeats of an earlier shingle in the same doc.
    * Exact double (derived from two integer counts). */
  val q_repetition: QueryDef = QueryDef.sqlChecked(
    "q_repetition",
    s"""WITH ${TextOps.shingleCteSql},
       |c AS (SELECT doc_id, count(*) AS n_shingles,
       |  count(DISTINCT s) AS n_uniq FROM sh GROUP BY doc_id)
       |SELECT doc_id, n_shingles, n_uniq,
       |  1.0 - n_uniq / CAST(n_shingles AS DOUBLE) AS dup_frac
       |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.shingles3(Tables.documents(s, dir))
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct(col("s")).as("n_uniq"))
      .withColumn("dup_frac",
        lit(1.0) - col("n_uniq") / col("n_shingles").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Fixed side-table root for the line-dedup fixture below. */
  final val SideRoot = SideTables.root("text_side")

  /** Deterministic multi-line doc with realistic cross-doc line reuse:
    * 4-9 lines from a 2000-phrase pool (so typical docs lose SOME lines
    * to earlier occurrences and keep the rest) plus a 1-in-4 shared
    * boilerplate footer that dedups down to a single corpus-wide
    * survivor. */
  def lineDoc(seed: Long, id: Long): String = {
    def d(i: Int): Long = graft.ingest.WebPages.draw(seed, id, i) >>> 1
    val n = 4 + (d(0) % 6).toInt
    val body = (0 until n).map { i =>
      val p = d(1 + i) % 2000
      s"phrase $p filler ${p * 7 % 13} tail ${p % 5}"
    }
    val footer = if (d(15) % 4 == 0) Seq(s"boilerplate footer ${d(15) % 3}")
                 else Seq.empty
    (body ++ footer).mkString("\n")
  }

  /** C4-style corpus-level exact line dedup (`LineDedup.dedupLines`):
    * every line kept only at its first (doc_id, pos) occurrence, docs
    * reassembled in original line order, emptied docs dropped —
    * bit-exact against the dual replaying the same rule with a
    * row_number window over the staged fixture. */
  val q_line_dedup: QueryDef = QueryDef.sqlChecked(
    "q_line_dedup",
    s"""WITH d AS (SELECT * FROM '$SideRoot/linedocs/*.parquet'),
       |sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
       |lines AS (SELECT doc_id, unnest(ls) AS line,
       |  unnest(range(len(ls))) AS pos FROM sp),
       |r AS (SELECT doc_id, pos, line, row_number() OVER (
       |  PARTITION BY line ORDER BY doc_id, pos) AS rn FROM lines)
       |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
       |FROM r WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = s.range(1000L).map(id => (id, lineDoc(11L, id))).toDF("doc_id", "text")
    graft.dedup.LineDedup.dedupLines(SideTables.stage(docs, s"$SideRoot/linedocs"))
      .orderBy(col("doc_id"))
  }

  /** PII redaction (the C4/RefinedWeb scrub pass): PII is planted
    * deterministically by doc_id residue — an email, a phone, an IPv4 —
    * onto the digit-free synthetic text, redacted by the chained
    * codegen'd regexp_replace, and the full redacted string is compared
    * bit-exactly against DuckDB running the SAME patterns (written in
    * the shared Java-regex/RE2 subset, 'g' flag). Only changed rows are
    * returned so the diff is visible in the row count too. */
  val q_redact_pii: QueryDef = {
    // parses identically in Spark SQL and DuckDB (no dialect-specific
    // casts; the synthetic text is digit-free, so the plants are the
    // only possible matches)
    val plant = "CASE doc_id % 13 " +
      "WHEN 0 THEN ' mail me: first.last+spam@ex-mail.example.com ok' " +
      "WHEN 1 THEN ' call +1 (555) 010-7788 now' " +
      "WHEN 2 THEN ' from host 10.42.7.13 today' " +
      "ELSE '' END"
    QueryDef.sqlChecked(
      "q_redact_pii",
      s"""WITH aug AS (SELECT doc_id, text || $plant AS t2 FROM documents)
         |SELECT doc_id, ${TextOps.redactPiiSql("t2")} AS red FROM aug
         |WHERE ${TextOps.redactPiiSql("t2")} <> t2
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val aug = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), expr(plant)).as("t2"))
      aug.select(col("doc_id"), TextOps.redactPii(col("t2")).as("red"), col("t2"))
        .where(col("red") =!= col("t2"))
        .select("doc_id", "red")
        .orderBy(col("doc_id"))
    }
  }

  /** Test-set decontamination: benchmark = every 97th document's text;
    * a corpus doc is flagged with the count of DISTINCT 3-gram shingles
    * it shares with the benchmark (the duplicated texts planted in the
    * synthetic corpus guarantee non-trivial overlap beyond the
    * benchmark's own members, which are excluded). The dual replays
    * shingling + both distincts + the join in DuckDB. */
  val q_decontam: QueryDef = QueryDef.sqlChecked(
    "q_decontam",
    s"""WITH ${TextOps.shingleCteSql},
       |corpus AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
       |SELECT doc_id, count(*) AS n_shared
       |FROM corpus JOIN bench USING (s)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.dedup.Decontaminate.overlap(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0))
      .orderBy(col("doc_id"))
  }

  /** Fractional contamination score ([[graft.dedup.Decontaminate
    * .score]]): n_shared / n_shingles per corpus doc, 0.0 for clean docs
    * — the graded-threshold variant of q_decontam's binary overlap. The
    * double is one IEEE division of exact integer counts, bit-exact
    * cross-engine. */
  val q_contam_score: QueryDef = QueryDef.sqlChecked(
    "q_contam_score",
    s"""WITH ${TextOps.shingleCteSql},
       |corpus AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
       |tot AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
       |shr AS (SELECT doc_id, count(*) AS n_shared
       |  FROM corpus JOIN bench USING (s) GROUP BY doc_id)
       |SELECT t.doc_id, t.n_shingles,
       |  coalesce(shr.n_shared, CAST(0 AS BIGINT)) AS n_shared,
       |  CAST(coalesce(shr.n_shared, 0) AS DOUBLE) / t.n_shingles AS contam
       |FROM tot t LEFT JOIN shr USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.dedup.Decontaminate.score(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0))
      .orderBy(col("doc_id"))
  }

  /** Rarity-weighted top-3 terms per doc ([[graft.text.Tfidf]]): salience
    * = tf/df (linear-idf tf-idf), whose ranking key is one IEEE division
    * of two exact integers — bit-identical across engines, which is what
    * makes the whole per-doc ranking oracle-checkable. Ties break on the
    * term, so the order is total. */
  val q_tfidf_topk: QueryDef = QueryDef.sqlChecked(
    "q_tfidf_topk",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       WHERE term <> '' GROUP BY doc_id, term),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |r AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
      |  row_number() OVER (PARTITION BY tf.doc_id
      |    ORDER BY CAST(tf.tf AS DOUBLE) / dfq.df DESC, tf.term) AS rk
      |  FROM tf JOIN dfq USING (term))
      |SELECT doc_id, term, tf, df, rk FROM r WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
    graft.text.Tfidf.topTerms(Tables.documents(s, dir), k = 3)
      .withColumn("rk", col("rk").cast("long"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Corpus-commonness (boilerplate) score
    * ([[graft.text.Tfidf.shingleCommonness]]): mean document frequency
    * of each doc's distinct 3-gram shingles; avg_df is one IEEE division
    * of exact integers, so the double column is bit-exact. */
  val q_boilerplate: QueryDef = QueryDef.sqlChecked(
    "q_boilerplate",
    s"""WITH ${TextOps.shingleCteSql},
       |d AS (SELECT DISTINCT doc_id, s FROM sh),
       |dfq AS (SELECT s, count(*) AS df FROM d GROUP BY s)
       |SELECT doc_id, count(*) AS n_shingles,
       |  CAST(sum(df) AS BIGINT) AS df_sum,
       |  CAST(sum(df) AS DOUBLE) / count(*) AS avg_df
       |FROM d JOIN dfq USING (s)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.text.Tfidf.shingleCommonness(Tables.documents(s, dir))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE chain of the two dup-span oracles: every duplicated
    * 5-token window's 0-based position, gaps-and-islands-merged into
    * maximal spans — the naive re-derivation of
    * [[graft.text.DupSpans.spans]]' three-shuffle decomposition. */
  private val dupSpanCte =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos,
      |        array_to_string(toks[pos:pos+4], ' ') AS kg
      |      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 4))
      |                       AS pos)
      |      WHERE len(toks) >= 5),
      |f AS (SELECT kg FROM g GROUP BY kg HAVING count(*) > 1),
      |d AS (SELECT doc_id, pos FROM g JOIN f USING (kg)),
      |m AS (SELECT doc_id, pos,
      |        max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM d),
      |i AS (SELECT doc_id, pos,
      |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
      |            THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |      FROM m),
      |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |         CAST(max(pos) + 4 AS BIGINT) AS span_end,
      |         CAST(count(*) AS BIGINT) AS n_windows
      |       FROM i GROUP BY doc_id, island)""".stripMargin

  /** Duplicated-substring spans ([[graft.text.DupSpans.spans]], after
    * Lee et al. 2022): maximal merged spans of 5-token windows whose
    * exact text repeats anywhere in the corpus. The oracle re-derives
    * them with a naive global window-frequency join + gaps-and-islands,
    * so a green row proves the engine's semi-join + per-doc island
    * decomposition exact, span for span. */
  val q_dup_spans: QueryDef = QueryDef.sqlChecked(
    "q_dup_spans",
    s"""WITH $dupSpanCte
       |SELECT doc_id, span_start, span_end, n_windows
       |FROM sp ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
    graft.text.DupSpans.spans(Tables.documents(s, dir), k = 5)
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Doc-level duplicated-token coverage
    * ([[graft.text.DupSpans.coverage]]): every doc (zero rows included)
    * with its duplicated token count and fraction; dup_frac is one IEEE
    * division of exact longs, so the double column is bit-exact. */
  val q_dup_coverage: QueryDef = QueryDef.sqlChecked(
    "q_dup_coverage",
    s"""WITH $dupSpanCte,
       |p AS (SELECT doc_id,
       |        CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_tokens,
       |        CAST(count(*) AS BIGINT) AS n_spans
       |      FROM sp GROUP BY doc_id)
       |SELECT documents.doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  coalesce(p.dup_tokens, 0) AS dup_tokens,
       |  coalesce(p.n_spans, 0) AS n_spans,
       |  coalesce(p.dup_tokens, 0) /
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dup_frac
       |FROM documents LEFT JOIN p USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.text.DupSpans.coverage(Tables.documents(s, dir), k = 5)
      .orderBy(col("doc_id"))
  }

  /** Span excision ([[graft.text.DupSpans.excise]], Lee et al. 2022
    * §4): tokens inside duplicated spans are dropped, survivors rejoin
    * into clean_text. The oracle re-derives it token-by-token — unnest
    * every (doc, pos, tok), anti-join the span intervals, string_agg
    * back in position order — so a green row proves the engine's
    * per-row array-lambda drop equals the naive relational excision,
    * byte for byte, including no-dup pass-through docs and the
    * kept/removed accounting. */
  val q_dup_excise: QueryDef = QueryDef.sqlChecked(
    "q_dup_excise",
    s"""WITH $dupSpanCte,
       |tk AS (SELECT doc_id, CAST(pos - 1 AS BIGINT) AS tpos, toks[pos] AS tok,
       |         len(toks) AS n_toks
       |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)))
       |                        AS pos)),
       |kp AS (SELECT tk.doc_id, tpos, tok, n_toks FROM tk
       |       WHERE NOT EXISTS (SELECT 1 FROM sp
       |                         WHERE sp.doc_id = tk.doc_id
       |                           AND tpos BETWEEN span_start AND span_end)),
       |ag AS (SELECT doc_id,
       |         coalesce(string_agg(tok, ' ' ORDER BY tpos), '') AS clean_text,
       |         CAST(count(*) AS BIGINT) AS kept_tokens
       |       FROM kp GROUP BY doc_id)
       |SELECT documents.doc_id,
       |  coalesce(ag.clean_text, '') AS clean_text,
       |  coalesce(ag.kept_tokens, 0) AS kept_tokens,
       |  CAST(len(string_split(text, ' ')) AS BIGINT)
       |    - coalesce(ag.kept_tokens, 0) AS removed_tokens
       |FROM documents LEFT JOIN ag USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.text.DupSpans.excise(Tables.documents(s, dir), k = 5)
      .orderBy(col("doc_id"))
  }

  /** CCNet-style LM quality scoring (graft.text.LangModel): self-trained
    * add-one bigram model, fixed-point integer rarity (no transcendental
    * — bit-exact cross-engine), doc score = ONE IEEE division of two
    * exact integers. Docs with < 2 tokens have no bigrams and no row. */
  val q_lm_score: QueryDef = QueryDef.sqlChecked(
    "q_lm_score",
    s"""WITH tk AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS t FROM documents),
       |bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i ->
       |    {'w1': t[i], 'w2': t[i+1]})) AS u
       |  FROM tk WHERE len(t) >= 2)),
       |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
       |bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
       |vv AS (SELECT count(*) AS v FROM uni),
       |sc AS (SELECT g.doc_id,
       |    ((u.c1 + vv.v) * ${graft.text.LangModel.Scale}) // (b.c12 + 1) AS r
       |  FROM bg g JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2
       |  JOIN uni u ON g.w1 = u.w1, vv)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(r) AS BIGINT) AS rarity_sum,
       |  CAST(sum(r) AS BIGINT) / count(*) AS rarity_mean
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.text.LangModel.selfScore(Tables.documents(s, dir))
      .orderBy(col("doc_id"))
  }

  /** BPE merge training (graft.text.Bpe): the first three learned
    * merges over the corpus vocabulary. The dual replays the FULL
    * algorithm three rounds deep: char-split word-frequency vocab ->
    * weighted adjacent-pair histogram -> total-order argmax -> greedy
    * merge apply, where the apply step uses the set-wise form of the
    * greedy scan (a != b occurrences never overlap so all merge; a == b
    * runs alternate from the run start via gaps-and-islands parity) —
    * so the oracle match doubles as an equivalence proof of the fold
    * and islands formulations on the corpus. */
  val q_bpe_merges: QueryDef = {
    // one training round in SQL: positions -> pair counts -> argmax ->
    // islands-selected merge positions -> rebuilt symbol lists
    def round(k: Int, prev: String): String =
      s"""pos$k AS (SELECT w, freq, u.i AS i, u.s AS s, u.s2 AS s2 FROM (
         |  SELECT w, freq, unnest(list_transform(range(1, len(syms)+1),
         |    i -> {'i': i, 's': syms[i], 's2': syms[i+1]})) AS u FROM $prev)),
         |p$k AS (SELECT s AS l, s2 AS r, CAST(sum(freq) AS BIGINT) AS c
         |  FROM pos$k WHERE s2 IS NOT NULL GROUP BY 1, 2),
         |m$k AS (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |sel$k AS (SELECT w, i FROM (
         |  SELECT w, i, min(i) OVER (PARTITION BY w, grp) AS i0 FROM (
         |    SELECT c.w, c.i,
         |      c.i - row_number() OVER (PARTITION BY c.w ORDER BY c.i) AS grp
         |    FROM pos$k c, m$k m WHERE c.s = m.l AND c.s2 = m.r))
         |  WHERE (i - i0) % 2 = 0),
         |v$k AS (SELECT p.w, any_value(p.freq) AS freq,
         |    list(CASE WHEN s1.w IS NOT NULL THEN m.l || m.r ELSE p.s END
         |         ORDER BY p.i) AS syms
         |  FROM pos$k p CROSS JOIN m$k m
         |  LEFT JOIN sel$k s1 ON s1.w = p.w AND s1.i = p.i
         |  LEFT JOIN sel$k s0 ON s0.w = p.w AND s0.i = p.i - 1
         |  WHERE s0.w IS NULL GROUP BY p.w)""".stripMargin
    QueryDef.sqlChecked(
      "q_bpe_merges",
      s"""WITH toks AS (SELECT unnest(${TextOps.tokensSql("text")}) AS w
         |  FROM documents),
         |v0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
         |    list_transform(range(1, len(w)+1), i -> w[i]) AS syms
         |  FROM toks WHERE w <> '' GROUP BY w),
         |${round(1, "v0")},
         |${round(2, "v1")},
         |${round(3, "v2")}
         |SELECT * FROM (
         |  SELECT CAST(1 AS INTEGER) AS rank, l AS pair_left,
         |    r AS pair_right, c AS pair_count FROM m1
         |  UNION ALL SELECT CAST(2 AS INTEGER), l, r, c FROM m2
         |  UNION ALL SELECT CAST(3 AS INTEGER), l, r, c FROM m3)
         |ORDER BY rank""".stripMargin) { (s, dir) =>
      graft.text.Bpe.trainMerges(Tables.documents(s, dir), 3)
        .orderBy(col("rank"))
    }
  }

  /** Sliding-window chunking (graft.text.Chunking): size-40 windows
    * every 30 tokens — map-only on the engine side; the dual re-derives
    * every window with generate_series + 1-based list slicing. */
  val q_chunk_windows: QueryDef = QueryDef.sqlChecked(
    "q_chunk_windows",
    s"""WITH tk AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS t
       |  FROM documents),
       |base AS (SELECT doc_id, t, len(t) AS n FROM tk),
       |ks AS (SELECT doc_id, t, n, unnest(generate_series(0,
       |    greatest(0, least((n - 1) // 30, (n - 40 + 30 - 1) // 30)))) AS ki
       |  FROM base)
       |SELECT doc_id, CAST(ki AS INT) AS chunk_idx,
       |  CAST(ki * 30 AS BIGINT) AS tok_start,
       |  CAST(least(40, n - ki * 30) AS BIGINT) AS n_toks,
       |  array_to_string(t[ki * 30 + 1 : ki * 30 + least(40, n - ki * 30)],
       |    ' ') AS chunk_text
       |FROM ks ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    graft.text.Chunking.slidingChunks(Tables.documents(s, dir), 40, 30)
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"),
        col("n_toks"), col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Positional inverted index ([[graft.text.InvertedIndex.postings]]):
    * one row per (term, doc_id) with sorted 1-based positions. The dual
    * re-derives it from first principles (unnest + list agg). */
  val q_postings: QueryDef = QueryDef.sqlChecked(
    "q_postings",
    s"""WITH t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks
       |  FROM documents),
       |tk AS (SELECT doc_id, toks[pos] AS term, pos FROM t,
       |  LATERAL (SELECT unnest(generate_series(1, len(toks))) AS pos))
       |SELECT term, doc_id,
       |  list_sort(list(CAST(pos AS INTEGER))) AS positions
       |FROM tk GROUP BY term, doc_id
       |ORDER BY term, doc_id""".stripMargin) { (s, dir) =>
    graft.text.InvertedIndex.postings(Tables.documents(s, dir))
      .orderBy(col("term"), col("doc_id"))
  }

  /** Exact phrase search over the positional index
    * ([[graft.text.InvertedIndex.phraseSearch]]): docs containing the
    * consecutive trigram, with 1-based match-start positions. The dual
    * is the classic positional self-join (tok_i at pos, tok_{i+1} at
    * pos+1, ...) — structurally different from the engine's
    * array-lambda position intersection. */
  val q_phrase_search: QueryDef = {
    val phrase = Seq("join", "part", "filter")
    QueryDef.sqlChecked(
      "q_phrase_search",
      s"""WITH t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks
         |  FROM documents),
         |tk AS (SELECT doc_id, toks[pos] AS tok, pos FROM t,
         |  LATERAL (SELECT unnest(generate_series(1, len(toks))) AS pos)),
         |m AS (SELECT a.doc_id, a.pos FROM tk a
         |  JOIN tk b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |    AND b.tok = '${phrase(1)}'
         |  JOIN tk c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
         |    AND c.tok = '${phrase(2)}'
         |  WHERE a.tok = '${phrase(0)}')
         |SELECT doc_id, list_sort(list(CAST(pos AS INTEGER))) AS starts,
         |  CAST(count(*) AS BIGINT) AS n_matches
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.text.InvertedIndex.phraseSearch(
        graft.text.InvertedIndex.postings(Tables.documents(s, dir)), phrase)
        .orderBy(col("doc_id"))
    }
  }

  /** Top PMI bigram collocations ([[graft.text.Collocations]]): exact
    * integer counts, the PMI RATIO (monotone in PMI, no transcendental
    * log) as one IEEE division of two integer products. The dual's
    * DuckDB sums are cast back to BIGINT before multiplying (DuckDB
    * widens sum(BIGINT) to HUGEINT — the q_pack_chunks lesson). */
  val q_pmi_bigrams: QueryDef = QueryDef.sqlChecked(
    "q_pmi_bigrams",
    s"""WITH t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks
       |  FROM documents),
       |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
       |bi AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS c_xy
       |  FROM (SELECT toks[pos] AS t1, toks[pos + 1] AS t2 FROM t,
       |    LATERAL (SELECT unnest(generate_series(1, len(toks) - 1))
       |             AS pos))
       |  GROUP BY t1, t2),
       |tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS nu,
       |               (SELECT CAST(sum(c_xy) AS BIGINT) FROM bi) AS nb)
       |SELECT b.t1, b.t2, b.c_xy, u1.c AS c_x, u2.c AS c_y,
       |  CAST(b.c_xy * nu * nu AS DOUBLE)
       |    / CAST(nb * u1.c * u2.c AS DOUBLE) AS pmi_ratio
       |FROM bi b JOIN uni u1 ON u1.tok = b.t1
       |JOIN uni u2 ON u2.tok = b.t2 CROSS JOIN tot
       |WHERE b.c_xy >= 5
       |ORDER BY pmi_ratio DESC, t1, t2 LIMIT 40""".stripMargin) { (s, dir) =>
    graft.text.Collocations.pmiBigrams(Tables.documents(s, dir), 5L)
      .orderBy(desc("pmi_ratio"), col("t1"), col("t2"))
      .limit(40)
      .select("t1", "t2", "c_xy", "c_x", "c_y", "pmi_ratio")
  }

  /** 2-D document skyline ([[graft.core.Skyline]]): the docs no other
    * doc beats on BOTH length (token count) and lexical diversity
    * (type-token ratio in exact integer per-mille, `1000·uniq/tokens`)
    * — the Pareto trade-off curve curation actually uses, since the
    * two axes anti-correlate. Computed with the two-level suffix-max
    * scan (never a global-order window). The dual is the DEFINITION:
    * strict-dominance NOT EXISTS over all pairs — a shape the engine
    * refuses (quadratic), so the oracle match proves the sweep
    * formulation equals the dominance semantics, ties and all. */
  val q_skyline: QueryDef = QueryDef.sqlChecked(
    "q_skyline",
    s"""WITH d AS (SELECT doc_id,
       |    CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(${TextOps.tokensSql("text")})) AS BIGINT)
       |      * 1000 // CAST(len(${TextOps.tokensSql("text")}) AS BIGINT)
       |      AS ttr_mille
       |  FROM documents)
       |SELECT doc_id, n_tokens, ttr_mille FROM d a
       |WHERE NOT EXISTS (SELECT 1 FROM d b
       |  WHERE b.n_tokens >= a.n_tokens AND b.ttr_mille >= a.ttr_mille
       |    AND (b.n_tokens > a.n_tokens OR b.ttr_mille > a.ttr_mille))
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val toks = TextOps.tokens(col("text"))
    val d = Tables.documents(s, dir).select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("_uniq"))
      .withColumn("ttr_mille", expr("(_uniq * 1000L) div n_tokens"))
      .drop("_uniq")
    graft.core.Skyline.frontier2(d, "n_tokens", "ttr_mille")
      .select("doc_id", "n_tokens", "ttr_mille")
      .orderBy(col("doc_id"))
  }

  /** Exact Jaccard ≥ 4/5 similarity self-join with prefix filtering
    * ([[graft.dedup.SimJoin]]) — the completeness-guaranteed exact
    * counterpart of the LSH near-dup path; every integer filter is
    * exact (`5·inter ≥ 4·uni`), jac is one IEEE division. The dual is
    * the brute-force shared-token pair join + the same integer
    * threshold — quadratic in postings, exactly the computation the
    * prefix filter exists to avoid — so the oracle match proves the
    * filter loses NO qualifying pair on this corpus. Restricted to
    * doc_id < 1000 (q_cc_* precedent): the synthetic corpus is so
    * templated that the TRUE ≥0.8 pair set grows quadratically with
    * SF, and a result-bound query would bench the output size, not
    * the operator. */
  val q_simjoin: QueryDef = QueryDef.sqlChecked(
    "q_simjoin",
    s"""WITH tok AS (SELECT DISTINCT doc_id AS doc,
       |    unnest(${TextOps.tokensSql("text")}) AS t FROM documents
       |  WHERE doc_id < 1000),
       |sz AS (SELECT doc, CAST(count(*) AS BIGINT) AS len
       |  FROM tok GROUP BY doc),
       |inter AS (SELECT x.doc AS a, y.doc AS b,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM tok x JOIN tok y ON y.t = x.t AND x.doc < y.doc
       |  GROUP BY 1, 2),
       |j AS (SELECT a, b, inter, sa.len + sb.len - inter AS uni
       |  FROM inter JOIN sz sa ON sa.doc = a JOIN sz sb ON sb.doc = b)
       |SELECT a, b, inter, uni,
       |  CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jac
       |FROM j WHERE 5 * inter >= 4 * uni ORDER BY a, b""".stripMargin) {
    (s, dir) =>
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 1000)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    graft.dedup.SimJoin.jaccardJoin(docs, "doc_id", "toks", 4L, 5L)
      .orderBy(col("a"), col("b"))
  }

  /** EXACT similarity clustering — the similarity join composed with
    * the pointer-jumping components ([[graft.dedup.SimJoin]] →
    * [[graft.dedup.DupClusters]]): clusters of docs transitively
    * connected by Jaccard ≥ 4/5, the exact-completeness counterpart of
    * the LSH q_neardup_purge chain (no banding misses — every
    * qualifying edge is present by the prefix-filter guarantee).
    * Singletons (docs in no pair) are excluded, matching the edge-list
    * CC contract. The dual closes the brute-force pair set with a
    * recursive min-label CTE. */
  val q_sim_clusters: QueryDef = QueryDef.sqlChecked(
    "q_sim_clusters",
    s"""WITH RECURSIVE tok AS (SELECT DISTINCT doc_id AS doc,
       |    unnest(${TextOps.tokensSql("text")}) AS t FROM documents
       |  WHERE doc_id < 1000),
       |sz AS (SELECT doc, CAST(count(*) AS BIGINT) AS len
       |  FROM tok GROUP BY doc),
       |inter AS (SELECT x.doc AS a, y.doc AS b,
       |    CAST(count(*) AS BIGINT) AS i
       |  FROM tok x JOIN tok y ON y.t = x.t AND x.doc < y.doc
       |  GROUP BY 1, 2),
       |e AS (SELECT a, b FROM inter
       |  JOIN sz sa ON sa.doc = a JOIN sz sb ON sb.doc = b
       |  WHERE 5 * i >= 4 * (sa.len + sb.len - i)),
       |sym AS (SELECT a AS x, b AS y FROM e
       |  UNION SELECT b AS x, a AS y FROM e),
       |nodes AS (SELECT DISTINCT x AS id FROM sym),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.x, reach.r FROM sym s JOIN reach ON s.y = reach.id)
       |SELECT id AS doc_id, min(r) AS cluster
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 1000)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val pairs = graft.dedup.SimJoin.jaccardJoin(docs, "doc_id", "toks",
      4L, 5L).select("a", "b")
    graft.dedup.DupClusters.components(pairs)
      .select(col("id").as("doc_id"), col("cluster"))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE chain for the CDC queries: windowed rolling hash by
    * 16-offset splat, mask cuts, segment assembly — the exact SQL
    * mirror of [[graft.text.Cdc.chunks]] (doc_id < 200: the splat is
    * 16× chars, so the driver query bounds its input like q_simjoin;
    * both sides ALSO bound doc length < 4096 — the dual's position
    * range is a fixed table, and an unmatched engine-side long doc
    * would silently diverge past it). */
  private val cdcCtes: String =
    s"""d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
       |  FROM documents WHERE doc_id < 200 AND length(text) < 4096),
       |chars AS (SELECT doc_id, len, i.range AS pos,
       |    CAST(unicode(substr(text, CAST(i.range + 1 AS INTEGER), 1))
       |         AS BIGINT) AS code
       |  FROM d, range(4096) i
       |  WHERE i.range < len),
       |splat AS (SELECT doc_id, len, pos + o.range AS p,
       |    CAST(sum(code * (1::BIGINT << o.range)) AS BIGINT) AS h
       |  FROM chars, range(16) o GROUP BY 1, 2, 3),
       |cuts AS (SELECT doc_id, p FROM splat
       |  WHERE p >= 15 AND p <= len - 1
       |    AND (h * 48271 % 2147483647) % 256 = 0),
       |ends AS (SELECT doc_id, p FROM cuts
       |  UNION SELECT doc_id, len - 1 FROM d WHERE len > 0),
       |segs AS (SELECT doc_id, p,
       |    coalesce(lag(p) OVER w, -1) + 1 AS start,
       |    CAST(row_number() OVER w - 1 AS BIGINT) AS ci
       |  FROM ends WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |chunkq AS (SELECT s.doc_id, ci, start, p - start + 1 AS len,
       |    md5(substr(text, CAST(start + 1 AS INTEGER),
       |        CAST(p - start + 1 AS INTEGER))) AS h
       |  FROM segs s JOIN d USING (doc_id))""".stripMargin

  private def cdcChunks(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.text.Cdc.chunks(
      Tables.documents(s, dir)
        .filter(col("doc_id") < 200 && length(col("text")) < 4096))

  /** Content-defined chunking ([[graft.text.Cdc]]): boundary-stable
    * chunks whose cuts move with content, every hash an exact integer
    * shared with the dual. */
  val q_cdc_chunks: QueryDef = QueryDef.sqlChecked(
    "q_cdc_chunks",
    s"""WITH $cdcCtes
       |SELECT doc_id, ci, start, len, h FROM chunkq
       |ORDER BY doc_id, ci""".stripMargin) { (s, dir) =>
    cdcChunks(s, dir).orderBy(col("doc_id"), col("ci"))
  }

  /** Cross-document duplicate chunks from the CDC table — the
    * content-addressed-store savings report (offset-shifted boilerplate
    * that fixed shingling cannot align). */
  val q_cdc_dedup: QueryDef = QueryDef.sqlChecked(
    "q_cdc_dedup",
    s"""WITH $cdcCtes
       |SELECT h, len, CAST(count(*) AS BIGINT) AS n_copies,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST((count(*) - 1) * len AS BIGINT) AS chars_saved
       |FROM chunkq GROUP BY h, len HAVING count(*) > 1
       |ORDER BY h""".stripMargin) { (s, dir) =>
    graft.text.Cdc.dupChunks(cdcChunks(s, dir)).orderBy(col("h"))
  }

  val all: Seq[QueryDef] = Seq(
    q_simjoin, q_sim_clusters, q_cdc_chunks, q_cdc_dedup,
    q_token_stats, q_lang_guess, q_quality_score, q_fingerprint,
    q_dedup_exact, q_dedup_prefix, q_minhash_sig, q_simhash, q_ngram_jaccard,
    q_repetition, q_line_dedup, q_redact_pii, q_decontam, q_contam_score,
    q_tfidf_topk, q_boilerplate, q_dup_spans, q_dup_coverage, q_dup_excise,
    q_lm_score, q_bpe_merges, q_chunk_windows, q_postings, q_phrase_search,
    q_pmi_bigrams, q_skyline)
}
