package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text analysis for the training-data pipeline: tokenization, language
 * guessing, quality scoring, fingerprinting, shingling. Every operator
 * is a pure Catalyst expression tree (no UDFs — whole-stage codegen
 * keeps these in the scan pipeline at 100 TB), and each has an exact
 * DuckDB SQL dual used by the oracle queries.
 *
 * Hash convention: cryptographic md5 (identical in Spark and DuckDB)
 * sliced to n hex chars and read as an integer — `hexToLong`. Spark uses
 * `conv`; DuckDB lacks hex->int casts, so the dual is an explicit
 * positional strpos polynomial. Both yield the same BIGINT.
 */
object TextOps {

  /** Whitespace tokens, keeping empties — matches DuckDB string_split. */
  def tokens(text: Column): Column = split(text, " ", -1)
  def tokensSql(text: String): String = s"string_split($text, ' ')"

  // ---- hex -> long ------------------------------------------------------

  /** First n hex chars of an md5 column as a long (n <= 15). */
  def hexToLong(hexCol: Column, n: Int): Column = {
    require(n <= 15)
    conv(substring(hexCol, 1, n), 16, 10).cast("long")
  }

  def hexToLongSql(hexExpr: String, n: Int): String = {
    require(n <= 15)
    (1 to n).map { i =>
      val p = math.pow(16.0, (n - i).toDouble).toLong
      s"(strpos('0123456789abcdef', substr($hexExpr, $i, 1)) - 1) * $p"
    }.mkString("(", " + ", ")")
  }

  // ---- language guess ---------------------------------------------------

  /** Marker word per language; score = length delta when the marker is
    * removed (proportional to occurrence count). Deterministic argmax
    * with fixed tie-break order. */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "the", "de" -> "data", "fr" -> "query", "es" -> "table", "zh" -> "spark")

  def langGuess(text: Column): Column = {
    val scores = LangMarkers.map { case (l, m) =>
      l -> (length(text) - length(replaceLit(text, m)))
    }
    // first language whose score >= all later scores wins
    scores.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((l, s), i), elseCol) =>
        val laterGte = scores.drop(i + 1).map(_._2).foldLeft(lit(true))((acc, o) => acc && s >= o)
        when(laterGte, lit(l)).otherwise(elseCol)
    }
  }

  private def replaceLit(c: Column, m: String): Column =
    org.apache.spark.sql.functions.replace(c, lit(m), lit(""))

  def langGuessSql(text: String): String = {
    def score(m: String) = s"(length($text) - length(replace($text, '$m', '')))"
    val s = LangMarkers.map { case (l, m) => l -> score(m) }
    val cases = s.zipWithIndex.dropRight(1).map { case ((l, sc), i) =>
      val cond = s.drop(i + 1).map(o => s"$sc >= ${o._2}").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${s.last._1}' END"
  }

  // ---- quality ----------------------------------------------------------

  val StopWords: Seq[String] = Seq("the", "a", "data")
  private def stopList = StopWords.map(w => s"'$w'").mkString(", ")

  /** (n_tokens, n_uniq, stop_ratio, avg_token_len, score) columns. All
    * built from exact integer counts, so the derived doubles are
    * bit-identical across engines. */
  def qualityColumns(df: DataFrame, text: String = "text"): DataFrame =
    df.withColumn("toks", tokens(col(text)))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_stop",
        size(expr(s"filter(toks, t -> t IN ($stopList))")).cast("long"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
      .withColumn("avg_token_len",
        (length(col(text)) - (col("n_tokens") - lit(1L))) / col("n_tokens"))
      .withColumn("score",
        least(lit(1.0), col("n_tokens") / lit(200.0)) * lit(0.5)
          + (col("n_uniq") / col("n_tokens")) * lit(0.3)
          + col("stop_ratio") * lit(0.2))
      .drop("toks")

  def qualitySqlColumns(text: String): String = {
    val t = tokensSql(text)
    s"""CAST(len($t) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct($t)) AS BIGINT) AS n_uniq,
       |  CAST(len(list_filter($t, t -> t IN ($stopList))) AS BIGINT) AS n_stop,
       |  len(list_filter($t, t -> t IN ($stopList))) / len($t) AS stop_ratio,
       |  (length($text) - (len($t) - 1)) / len($t) AS avg_token_len,
       |  least(1.0, len($t) / 200.0) * 0.5
       |    + (len(list_distinct($t)) / len($t)) * 0.3
       |    + (len(list_filter($t, t -> t IN ($stopList))) / len($t)) * 0.2 AS score""".stripMargin
  }

  // ---- shingles ---------------------------------------------------------

  /** Word 3-gram shingles as an array column (empty if < 3 tokens).
    *
    * The tokenizing split is hoisted into its OWN projection and the
    * shingle zip reads the materialized array attribute, so the regex
    * split runs exactly once per row. Two traps this dodges:
    * (a) `transform(sequence(...), i -> element_at(toks, i) ...)` gets
    * the split inlined into the lambda and re-executed per ELEMENT
    * (measured 40x slower); (b) writing `split(...)` six times in one
    * projection re-executes it per SLICE — higher-order functions skip
    * whole-stage codegen, so nothing de-duplicates them (measured ~2x
    * on q_minhash_sig). CollapseProject keeps the hoisted projection:
    * a non-cheap alias consumed six times is never inlined. */
  def shingles3(df: DataFrame, text: String = "text"): DataFrame =
    df.withColumn("__toks", split(col(text), " ", -1))
      .withColumn("shingles", expr(
        s"""CASE WHEN size(__toks) >= 3 THEN
           |  zip_with(
           |    zip_with(
           |      slice(__toks, 1, size(__toks) - 2),
           |      slice(__toks, 2, size(__toks) - 2),
           |      (a, b) -> concat(a, ' ', b)),
           |    slice(__toks, 3, size(__toks) - 2),
           |    (ab, c) -> concat(ab, ' ', c))
           |ELSE array() END""".stripMargin))
      .drop("__toks")

  // ---- PII redaction (C4/RefinedWeb-style scrub pass) ----------------

  /** (pattern, applied in this order). Email first — its local part
    * contains digits the phone pattern would otherwise bite into; the
    * replacement token carries no digits, so later patterns can never
    * re-match inside an earlier redaction. Patterns are written in the
    * common Java-regex/RE2 subset so the DuckDB dual applies the SAME
    * automaton. */
  final val PiiPatterns: Seq[String] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", // email
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", // ipv4
    // phone-like: 7-15 ACTUAL digits with at most two ()- or space
    // separators between consecutive digits. The digit-count bound (vs
    // the earlier unbounded [0-9()\- ]{6,} run) stops it from eating
    // whole numeric tables and long ID/serial runs; separator-joined
    // dates (2026-08-18 has 8 digits) still match — an intentional
    // removal-direction bias for a scrub pass, where over-redacting a
    // date is cheaper than leaking a phone number.
    "\\+?[0-9](?:[()\\- ]{0,2}[0-9]){6,14}")
  final val PiiToken = "<PII>"

  /** Redact emails, IPv4 addresses, and phone-like digit runs to
    * [[PiiToken]] — chained codegen'd regexp_replace, no UDF. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text)((c, p) => regexp_replace(c, p, PiiToken))

  /** DuckDB dual of [[redactPii]] (RE2 with the 'g' flag; single-quoted
    * SQL strings keep the backslashes literal). */
  def redactPiiSql(text: String): String =
    PiiPatterns.foldLeft(text)((e, p) =>
      s"regexp_replace($e, '$p', '$PiiToken', 'g')")

  /** CTE: documents -> (doc_id, s) one row per 3-gram shingle. */
  def shingleCteSql: String =
    s"""toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |sh AS (SELECT doc_id,
       |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
       |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       |  FROM toks)""".stripMargin
}
