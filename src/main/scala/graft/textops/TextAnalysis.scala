package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: tokenization, quality scoring, language ID,
  * fingerprinting. All pure `Column` expressions / array HOFs — codegen
  * stays intact, no UDFs, so the ops scale linearly with document bytes
  * and shuffle nothing.
  *
  * Shared constants (stopword lists, hash moduli) are interpolated into
  * both the Spark expressions and the DuckDB oracle SQL from this one
  * object, so engine and oracle cannot drift.
  */
object TextAnalysis {

  /** whitespace tokenization of lowercased, trimmed text */
  def tokensExpr: String = "split(lower(trim(text)), '\\\\s+')"
  def tokensExprDuck: String = "string_split_regex(lower(trim(text)), '\\s+')"

  // Per-language stopword marker lists (tiny n-gram-ish heuristic).
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "fur", "auf", "ein"),
    "es" -> Seq("el", "los", "las", "y", "en", "que", "por", "con", "una", "del"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "une", "que", "pour", "dans"))
  /** deterministic arg-max order when scores tie */
  val langOrder: Seq[String] = Seq("en", "de", "es", "fr")

  def inList(words: Seq[String]): String = words.map(w => s"'$w'").mkString(", ")

  // ---- DuckDB oracle generators (shared by every query that embeds the
  // lang-ID or quality formulas, so engine and oracle cannot drift) ----

  /** per-language stopword-hit score select-list items over a `toks` list */
  def langScoresSqlDuck: String = langOrder.map { l =>
    s"CAST(len(list_filter(toks, t -> t IN (${inList(stopwords(l))}))) AS BIGINT) AS score_$l"
  }.mkString(",\n                 ")

  /** nested CASE replicating withLangId's strict-> argmax fold over score_<l> */
  def langBestSqlDuck: String =
    langOrder.tail.foldLeft((s"'${langOrder.head}'", s"score_${langOrder.head}")) {
      case ((bestL, bestS), l) =>
        (s"(CASE WHEN score_$l > $bestS THEN '$l' ELSE $bestL END)",
          s"(CASE WHEN score_$l > $bestS THEN score_$l ELSE $bestS END)")
    }._1

  /** quality_score formula over (text, toks) — matches withQuality exactly */
  def qualityScoreSqlDuck: String =
    s"""CAST(0.4 AS DOUBLE) * (CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE) / length(text))
          + CAST(0.4 AS DOUBLE) * (CAST(len(list_filter(toks, t -> t IN (${inList(stopwords("en"))}))) AS DOUBLE) / len(toks))
          + CAST(0.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text))"""

  /** count of tokens belonging to `words` (Spark array HOF) */
  def hitCount(words: Seq[String]): Column =
    expr(s"size(filter(toks, t -> t IN (${inList(words)})))").cast("long")

  /** polynomial rolling hash over tokens: each token → 60-bit md5 prefix
    * mod 1000003, folded left as h = (h*31 + k) mod 1e9+7. Exact integer
    * arithmetic → bit-identical across engines; order-sensitive by design
    * (it fingerprints the token SEQUENCE, not the bag).
    */
  val tokenMod = 1000003L
  val fpMod = 1000000007L

  def rollingHashExpr: String =
    s"""aggregate(
          transform(toks, t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint) % $tokenMod),
          cast(0 as bigint),
          (h, k) -> (h * 31 + k) % $fpMod)"""

  def rollingHashExprDuck: String =
    s"""list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % $tokenMod)),
          (h, k) -> (h * 31 + k) % $fpMod)"""

  /** Canonical deterministic content-hash bucket in [0, n): the md5-prefix
    * integer of `key` reduced mod n — IDENTICAL arithmetic in both
    * engines. Every sampler/splitter builds its keep decision from this
    * pair rather than re-typing the idiom (hand-retyped variants are how
    * cast asymmetries slip in). When comparing against a FLOAT-derived
    * threshold, floor() the threshold explicitly on both sides: Spark's
    * cast-to-long truncates but DuckDB's CAST rounds half-away-from-zero.
    */
  def hashBucketExpr(key: String, n: Long): String =
    s"${hashRawExpr(key)} % $n"

  def hashBucketSqlDuck(key: String, n: Long): String =
    s"${hashRawSqlDuck(key)} % $n"

  /** Winnowing gram-hash constants shared by the `graft_winnow` kernel
    * (`functions/RollingWinnow`) and its DuckDB oracle: mod-M Horner over
    * codepoints, base 131. M·B ≈ 1.3e11 bounds every intermediate far
    * inside BIGINT in both engines.
    */
  val WinnowBase = 131L
  val WinnowMod = 1000000007L

  /** DuckDB side of the winnowing gram hash: the k-codepoint Horner
    * polynomial at 1-based position `i` of column `t`, mod at each step —
    * positionally identical to RollingWinnow's first-gram loop, and
    * algebraically identical to its rolling recurrence.
    */
  def hornerGramSqlDuck(t: String, i: String, k: Int): String =
    (1 until k).foldLeft(
      s"CAST(unicode(substr($t, CAST($i AS INT), 1)) AS BIGINT)") { (acc, j) =>
      s"(($acc * $WinnowBase + unicode(substr($t, CAST($i + $j AS INT), 1))) % $WinnowMod)"
    }

  /** Spark-expression twin of [[hornerGramSqlDuck]] (ascii ≡ unicode for
    * the engine's normalized corpora) — the per-position formulation the
    * throughput smoke compares the rolling kernel against.
    */
  def hornerGramExprSpark(t: String, i: String, k: Int): String =
    (1 until k).foldLeft(
      s"cast(ascii(substring($t, cast($i as int), 1)) as bigint)") { (acc, j) =>
      s"(($acc * $WinnowBase + ascii(substring($t, cast($i + $j as int), 1))) % $WinnowMod)"
    }

  /** The un-bucketed 60-bit hash — for call sites whose modulus is a
    * runtime COLUMN (e.g. a string length), which the bucketed helpers
    * cannot interpolate. */
  def hashRawExpr(key: String): String =
    s"cast(conv(substring(md5(cast($key as string)), 1, 15), 16, 10) as bigint)"

  def hashRawSqlDuck(key: String): String =
    s"CAST(('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 15)) AS BIGINT)"

  /** Reuse the caller's `toks` column when present (value-identical: every
    * producer assigns the same [[tokensExpr]]); otherwise project it. One
    * split() per row instead of one per consumer when withQuality and
    * withLangId stack (r18).
    */
  private def ensureToks(documents: DataFrame): DataFrame =
    if (documents.columns.contains("toks")) documents
    else documents.withColumn("toks", expr(tokensExpr))

  /** Identity wrapper that reports non-determinism
    * ([[graft.plans.OptimizerBarrier]] behind the `graft_barrier`
    * function): the optimizer may not inline, duplicate or push filters
    * through the wrapped alias. Applied to `quality_score` (r18): a
    * quality-gate filter (`quality_score >= min`) was alias-substituted
    * by PushPredicateThroughNonJoin below the scan spread exchange,
    * evaluating the ENTIRE tokenize+quality tree once per row in the
    * single-task scan stage — and again in the projection above for the
    * survivors (the fuzzy-rewrite disease, same cure). Values unchanged.
    */
  private def opaque(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_barrier", c)

  /** Tokenize + per-document quality metrics. All ratios are
    * CAST(x AS DOUBLE)/y — single deterministic division per row.
    */
  def withQuality(documents: DataFrame): DataFrame = {
    val d = ensureToks(documents)
    val nTok = size(col("toks")).cast("long")
    val nChars = length(col("text")).cast("long")
    val alnum = length(regexp_replace(col("text"), "[^a-zA-Z0-9]", "")).cast("long")
    val punct = length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")).cast("long")
    val stopHits = hitCount(stopwords("en"))
    // every ratio is guarded on its denominator: an empty or
    // whitespace-only document has n_tokens = 0 (and "" has n_chars = 0),
    // and under Spark 4 ANSI an unguarded division THROWS where the SQL
    // semantics every oracle follows say NULL (degenerate-gauntlet
    // finding — the crash reached text_quality, token_budget_sample, and
    // all three curation composites). Null ratios → null quality_score →
    // the quality gate drops the doc, which is exactly what a curation
    // pipeline wants from an empty document.
    def ratio(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den)
    d.withColumn("n_tokens", nTok)
      .withColumn("n_chars2", nChars)
      .withColumn("avg_token_len", ratio(col("n_chars2"), col("n_tokens")))
      .withColumn("alnum_ratio", ratio(alnum, col("n_chars2")))
      .withColumn("punct_ratio", ratio(punct, col("n_chars2")))
      .withColumn("stopword_ratio", ratio(stopHits, col("n_tokens")))
      .withColumn("quality_score",
        opaque(lit(0.4) * col("alnum_ratio") + lit(0.4) * col("stopword_ratio") +
          lit(0.2) * (lit(1.0) - col("punct_ratio"))))
  }

  /** Language ID: stopword-hit scores per language, deterministic arg-max
    * (ties resolved in `langOrder`).
    */
  def withLangId(documents: DataFrame): DataFrame = {
    val d = ensureToks(documents)
    val scored = langOrder.foldLeft(d) { (acc, l) =>
      acc.withColumn(s"score_$l", hitCount(stopwords(l)))
    }
    // strict > chain in langOrder: a later language wins only when strictly higher
    val pred = langOrder.tail.foldLeft((lit(langOrder.head), col(s"score_${langOrder.head}"))) {
      case ((bestLang, bestScore), l) =>
        val s = col(s"score_$l")
        (when(s > bestScore, lit(l)).otherwise(bestLang),
          when(s > bestScore, s).otherwise(bestScore))
    }
    scored.withColumn("predicted_lang", pred._1)
  }
}
