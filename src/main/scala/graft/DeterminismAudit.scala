package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.types.MapType

/** Mechanizes the two cross-engine determinism conventions the r11 sf1
  * sweep found BY HAND (QueryDef scaladoc, SCALE.md "Fourth-scale-factor
  * oracle sweep"), so entry #200 cannot re-introduce either class:
  *
  *  1. NON-TOTAL ORDER BY — an entry whose sort key admits tie groups
  *     with non-identical rows hashes differently across engines the
  *     moment partitioning perturbs tie order (the
  *     (l_orderkey, l_linenumber) trap: unique-looking, 143k duplicate
  *     pairs at sf0.1, diverged only at sf1). The convention is not
  *     "keys unique" but the weaker sufficient condition actually relied
  *     on: within every tie group of the outermost ORDER BY, all rows
  *     are FULLY identical (identical rows hash equal under any order).
  *     [[tieProbe]] proves that against the DATA: group the
  *     de-duplicated output by the sort key; any group of size >1 is a
  *     violation.
  *
  *  2. STRICT COMPARISON AGAINST AN UNROUNDED FLOAT AGGREGATE — a
  *     boundary test like `value < quantile_cont(...)` flips on 1-ulp
  *     cross-engine interpolation/summation differences that the float
  *     output tolerance hides (winsorize_stats, r11: n_clamped off by 50
  *     of 1M while the thresholds "matched"). [[strictFloatFlags]] walks
  *     the oracle SQL: any strict comparison whose operand references a
  *     float-aggregate-derived alias (or a direct aggregate call) that is
  *     not grid-rounded (`round(agg, k)`) or integer-cast is flagged.
  *     Flags must be answered by [[strictFloatWhitelist]] with a reason.
  *
  *  3. FLOAT-AGGREGATE OUTPUT COLUMNS (r12 sf1 sweep find) — even a
  *     grid-ROUNDED float aggregate output hashes differently the moment
  *     a group's unrounded value drifts across a rounding boundary:
  *     summation order is partition-/thread-dependent in both engines,
  *     so `round(avg(...), 4)` flips its last digit with probability
  *     ∝ (summation drift / grid) per group — interval_join_agg hit it
  *     at sf1 on 1 of 26k groups over a 42.9M-value match stream. The
  *     EXACT form (integer-cast the argument, divide once:
  *     `sum(CAST(round(v*10000) AS BIGINT)) / 10000.0 / count(*)`) has
  *     no boundary at all. [[floatAggOutputGuards]] classifies every
  *     float-aggregate output alias (int_exact / rounded / raw); any
  *     alias that is float-typed in the Spark output and not int_exact
  *     must carry a [[floatOutputWhitelist]] reason — typically the
  *     measured sf1 hash-match plus a bounded-drift argument, with the
  *     exact pattern prescribed for new large-stream aggregations.
  *
  * The sort-key extraction is from the ORACLE SQL text (the single
  * source both engines mirror by convention): the outermost ORDER BY is
  * the last one at paren depth 0 outside string literals. Keys must
  * resolve to output columns of the Spark result; an entry whose tail is
  * not mechanically resolvable goes in [[sortKeyWhitelist]] with a
  * reason (and gets no data probe — so the whitelist is a real cost, not
  * an escape hatch).
  *
  * `DeterminismAuditSpec` runs the scanners over all catalog entries and
  * the tie probe at sf0.001 on every sbt test; [[main]] extends the tie
  * probe to larger SFs (the driver data at sf0.01 AND sf0.1, per the r11
  * verdict) and writes the per-entry artifact.
  */
object DeterminismAudit {

  // ---------------------------------------------------------------- SQL text scanning

  /** Paren depth at each char, with single-quoted SQL strings (''-escaped)
    * and double-quoted identifiers opaque — oracle SQL carries regex
    * literals full of parens/commas that must not confuse the scanner.
    * Depth of char i = depth BEFORE consuming char i. Chars inside
    * quotes get depth -1 (never matched by the token scanners).
    */
  private def depths(s: String): Array[Int] = {
    val d = Array.ofDim[Int](s.length)
    var depth = 0
    var i = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        d(i) = -1
        if (c == quote) {
          // '' inside a '-string is an escaped quote, not a terminator
          if (quote == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
            i += 1; d(i) = -1
          } else quote = 0
        }
      } else {
        d(i) = depth
        c match {
          case '\'' | '"' => quote = c; d(i) = -1
          case '(' => depth += 1
          case ')' => depth -= 1; d(i) = depth.max(0)
          case _ =>
        }
      }
      i += 1
    }
    d
  }

  /** `-- line comments` stripped (string-literal-aware), so a commented
    * ORDER BY can neither satisfy nor confuse the extractor. */
  def stripLineComments(sql: String): String = {
    val d = depths(sql)
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (d(i) >= 0 && sql.startsWith("--", i)) {
        while (i < sql.length && sql.charAt(i) != '\n') i += 1
      } else { out.append(sql.charAt(i)); i += 1 }
    }
    out.toString
  }

  private val orderByRe = "(?i)\\bORDER\\s+BY\\b".r
  private val tailStopRe = "(?i)\\b(LIMIT|OFFSET|FETCH)\\b".r

  /** Text of the outermost (last depth-0) ORDER BY clause, up to a
    * depth-0 LIMIT/OFFSET or end of statement. None = no total order
    * stated — itself a convention violation. */
  def outerOrderBy(sqlRaw: String): Option[String] = {
    val sql = stripLineComments(sqlRaw)
    val d = depths(sql)
    val hits = orderByRe.findAllMatchIn(sql).filter(m => d(m.start) == 0).toSeq
    hits.lastOption.map { m =>
      val rest = sql.substring(m.end)
      val rd = depths(rest)
      val stop = tailStopRe.findAllMatchIn(rest).filter(x => rd(x.start) == 0)
        .map(_.start).minOption.getOrElse(rest.length)
      rest.substring(0, stop).trim.stripSuffix(";").trim
    }
  }

  /** Split on commas at depth 0 of `s` (string-literal-aware). */
  def splitTopLevel(s: String): Seq[String] = {
    val d = depths(s)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ',' && d(i) == 0) { parts += s.substring(start, i); start = i + 1 }
      i += 1
    }
    parts += s.substring(start)
    parts.map(_.trim).filter(_.nonEmpty).toSeq
  }

  private val dirRe = "(?i)\\s+(ASC|DESC)$".r
  private val nullsRe = "(?i)\\s+NULLS\\s+(FIRST|LAST)$".r
  private val identRe = "^[A-Za-z_][A-Za-z0-9_]*$".r
  private val castRe = "(?is)^CAST\\s*\\((.+)\\s+AS\\s+[A-Za-z0-9 ()]+\\)$".r
  private val sqlKeywords = Set("as", "case", "when", "then", "else", "end",
    "and", "or", "not", "null", "cast", "interval", "true", "false")

  /** One ORDER BY item, normalized: direction/null-placement stripped,
    * CAST shells unwrapped (a lossless cast of a column orders like the
    * column), qualifiers dropped from bare identifiers. The result is
    * either a plain output-column name or a deterministic SQL expression
    * the tie probe evaluates with Spark's `expr()` (identical scalar
    * semantics for the ln/arithmetic tails the catalog uses — both
    * engines compute the same IEEE doubles). */
  def normalizeKey(keyRaw: String): String = {
    var k = keyRaw.trim
    k = nullsRe.replaceAllIn(k, "")
    k = dirRe.replaceAllIn(k, "")
    k = k.trim
    k match {
      case castRe(inner) => normalizeKey(inner)
      case _ if identRe.matches(k) => k
      case _ if !k.exists(c => "() +-*/".contains(c)) && k.contains(".") &&
        k.split("\\.").forall(p => identRe.matches(p)) => k.split("\\.").last
      case _ => k
    }
  }

  /** Column names an expression key reads: identifiers that are not
    * function calls (followed by `(`) and not SQL keywords. */
  def keyIdents(key: String): Set[String] =
    "[A-Za-z_][A-Za-z0-9_]*".r.findAllMatchIn(key).collect {
      case m if !sqlKeywords.contains(m.group(0).toLowerCase) &&
        !key.substring(m.end).dropWhile(_ == ' ').startsWith("(") => m.group(0)
    }.toSet

  /** Normalized sort keys of the oracle's outermost ORDER BY;
    * Left(reason) when no depth-0 ORDER BY exists. */
  def sortKeyColumns(sql: String): Either[String, Seq[String]] =
    outerOrderBy(sql) match {
      case None => Left("no depth-0 ORDER BY in oracle SQL")
      case Some(tail) =>
        val keys = splitTopLevel(tail)
        if (keys.isEmpty) Left("empty ORDER BY tail")
        else Right(keys.map(normalizeKey))
    }

  // ---------------------------------------------------------------- strict-float scan

  /** Aggregates whose result is a float interpolation/accumulation that
    * can differ by ~1 ulp across engines. count()/min/max are exact;
    * sum over floats drifts too but the catalog compares sums only as
    * round(4) outputs, never as boundaries — include it anyway: a flag
    * costs a whitelist line, a miss costs an sf1 divergence. */
  private val floatAggRe =
    ("(?i)\\b(quantile_cont|quantile_disc|percentile_cont|percentile_disc|percentile|median|" +
      "avg|mean|stddev_samp|stddev_pop|stddev|var_samp|var_pop|variance|corr|" +
      "covar_samp|covar_pop|sum)\\s*\\(").r

  private val intCastRe = "(?i)CAST\\s*\\(.*\\bAS\\s+(BIGINT|INT|INTEGER|SMALLINT|HUGEINT)\\b".r

  /** Aliases in `sql` defined from a float aggregate, -> whether the
    * defining select item grid-rounds (or integer-casts) the value.
    * Select-item boundaries: commas/clause keywords at the aggregate
    * call's own paren depth.
    */
  private val stopClauseRe =
    "(?i)\\b(FROM|WHERE|GROUP|ORDER|WINDOW|HAVING|QUALIFY|UNION|EXCEPT|INTERSECT)\\b".r

  /** The full SELECT-item span containing position `pos` — delimited at
    * the depth of the GOVERNING SELECT (the nearest SELECT to the left
    * never exited on the walk), not at `pos`'s own depth, so an
    * aggregate nested inside `round(...)`/arithmetic still maps to its
    * item and alias (the original same-depth walk silently dropped
    * `round(avg(v),4) AS a` — found while building the class-3 scan).
    */
  private def selectItemSpan(sql: String, d: Array[Int], pos: Int): Option[(Int, Int)] = {
    // governing SELECT: scan left tracking the minimum depth seen; a
    // SELECT keyword counts only at that running minimum (an embedded
    // completed subquery's SELECT sits above it and is skipped)
    var i = pos
    var minD = d(pos)
    var sel = -1
    while (i >= 0 && sel < 0) {
      if (d(i) >= 0 && d(i) < minD) minD = d(i)
      if (d(i) == minD && sql.regionMatches(true, i, "SELECT", 0, 6) &&
        (i == 0 || !Character.isLetterOrDigit(sql.charAt(i - 1))))
        sel = i
      i -= 1
    }
    if (sel < 0) return None
    val dS = d(sel)
    // item start: last comma at depth dS between the SELECT and pos
    var s = sel + 6
    var j = s
    while (j < pos) {
      if (d(j) == dS && sql.charAt(j) == ',') s = j + 1
      j += 1
    }
    // item end: next comma/clause keyword at depth dS, or exiting dS
    var e = pos
    var stop = false
    while (!stop && e < sql.length) {
      if (d(e) >= 0 && d(e) < dS) stop = true
      else if (d(e) == dS && (sql.charAt(e) == ',' ||
        stopClauseRe.findPrefixMatchOf(sql.substring(e)).isDefined)) stop = true
      else e += 1
    }
    Some((s, e))
  }

  /** Matching close paren of the '(' at `open` (positions with d<0 are
    * inside string literals and don't count); -1 if unbalanced.
    */
  private def matchingParen(sql: String, d: Array[Int], open: Int): Int = {
    var k = open
    var bal = 0
    while (k < sql.length) {
      val ch = sql.charAt(k)
      if (d(k) >= 0) {
        if (ch == '(') bal += 1
        else if (ch == ')') { bal -= 1; if (bal == 0) return k }
      }
      k += 1
    }
    -1
  }

  private val roundCallRe = "(?i)\\bround\\s*\\(".r

  /** Positional guard test: does some `round(...)` call inside the item
    * span [s,e) WRAP the aggregate call occupying [aggS,aggE]? Substring
    * containment ("round(" anywhere in the item) was a false negative:
    * `quantile_cont(round(v,2), 0.5) AS lo` and `round(a,2)+avg(v) AS x`
    * both contain round( without guarding the aggregate's output.
    */
  private def roundWrapsAgg(sql: String, d: Array[Int], s: Int, e: Int,
                            aggS: Int, aggE: Int): Boolean =
    roundCallRe.findAllMatchIn(sql.substring(s, e)).exists { rm =>
      val open = s + rm.end - 1
      if (d(open) < 0) false
      else {
        val closed = matchingParen(sql, d, open)
        closed >= 0 && open < aggS && aggE <= closed
      }
    }

  def floatAggAliases(sqlRaw: String): Map[String, Boolean] = {
    val sql = stripLineComments(sqlRaw)
    val d = depths(sql)
    val asRe = "(?i)\\bAS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    floatAggRe.findAllMatchIn(sql).toSeq.flatMap { m =>
      selectItemSpan(sql, d, m.start).flatMap { case (s, e) =>
        val item = sql.substring(s, e).trim
        val aggE = matchingParen(sql, d, m.end - 1)
        val guarded = (aggE >= 0 && roundWrapsAgg(sql, d, s, e, m.start, aggE)) ||
          intCastRe.findFirstIn(item).isDefined
        asRe.findFirstMatchIn(item).map(am => am.group(1) -> guarded)
      }
    }.groupMapReduce(_._1)(_._2)(_ && _) // alias reused → guarded only if ALL defs guard
  }

  /** Classification of every float-aggregate OUTPUT alias in `sql`
    * (determinism class 3):
    *
    *  - "int_exact" — the aggregate's ARGUMENT is integer-cast
    *    (`sum(CAST(round(v*10000) AS BIGINT))`): the aggregation is
    *    exact integer arithmetic in both engines, any trailing division
    *    sees identical operands — no boundary exists.
    *  - "rounded"  — `round(...)` wraps the aggregate: stable except
    *    when a group's value lands within summation drift of a rounding
    *    boundary (the interval_join_agg sf1 flip).
    *  - "raw"      — neither: any 1-ulp drift fails the exact hash.
    *
    * When one alias is defined from several aggregates (`avg(x)/avg(y)`)
    * the WORST class wins. Whether an alias actually matters is decided
    * against the Spark output schema (integral outputs — e.g. sums the
    * detector can't type — are exact regardless).
    */
  def floatAggOutputGuards(sqlRaw: String): Map[String, String] = {
    val sql = stripLineComments(sqlRaw)
    val d = depths(sql)
    val asRe = "(?i)\\bAS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    def worse(a: String, b: String): String =
      Seq("raw", "rounded", "int_exact").find(c => a == c || b == c).get
    floatAggRe.findAllMatchIn(sql).toSeq.flatMap { m =>
      selectItemSpan(sql, d, m.start).flatMap { case (s, e) =>
        val item = sql.substring(s, e).trim
        // argument span: from the aggregate's '(' to its matching ')'
        val k = matchingParen(sql, d, m.end - 1)
        val arg = sql.substring(m.end - 1,
          math.min((if (k >= 0) k else sql.length - 1) + 1, sql.length))
        val guard =
          if (intCastRe.findFirstIn(arg).isDefined) "int_exact"
          else if (k >= 0 && roundWrapsAgg(sql, d, s, e, m.start, k)) "rounded"
          else "raw"
        asRe.findFirstMatchIn(item).map(am => am.group(1) -> guard)
      }
    }.groupMapReduce(_._1)(_._2)(worse)
  }

  /** Strict comparisons whose operands touch an unguarded float-aggregate
    * alias or a direct float-aggregate call: `(entry-local snippet)`s for
    * flagging. Both `<`/`>` and `<=`/`>=` sit on the same knife edge.
    * Equality on floats is excluded — the catalog never joins or filters
    * on float equality (that class would fail the hash compare outright,
    * not silently).
    */
  def strictFloatFlags(sqlRaw: String): Seq[String] = {
    val sql = stripLineComments(sqlRaw)
    val d = depths(sql)
    val aliases = floatAggAliases(sql)
    val unguarded = aliases.collect { case (a, false) => a }.toSet
    val cmpRe = "(<=|>=|<|>)".r
    cmpRe.findAllMatchIn(sql).toSeq.filter(m => d(m.start) >= 0).flatMap { m =>
      // operand window: the surrounding text to the nearest same-depth
      // comma/paren/logical connective on each side. Balanced paren
      // groups (function calls like avg(v), round(x, 4)) are JUMPED
      // over whole — only an ENCLOSING paren or a same-depth separator
      // terminates the operand.
      val depth = d(m.start)
      var s = m.start
      var stop = false
      while (!stop && s > 0) {
        val c = sql.charAt(s - 1)
        if (c == ')' && d(s - 1) >= depth) {
          // jump left over the balanced group to just before its '('
          var k = s - 1
          var bal = 0
          while (k >= 0 && { val ch = sql.charAt(k)
            if (ch == ')' && d(k) >= 0) bal += 1
            else if (ch == '(' && d(k) >= 0) bal -= 1
            bal != 0 }) k -= 1
          s = k
        } else if (d(s - 1) < depth ||
          (d(s - 1) == depth && ",(".contains(c)) ||
          sql.regionMatches(true, s - 5, " AND ", 0, 5) ||
          sql.regionMatches(true, s - 4, " OR ", 0, 4) ||
          sql.regionMatches(true, s - 6, " WHEN ", 0, 6) ||
          sql.regionMatches(true, s - 6, "WHERE ", 0, 6) ||
          sql.regionMatches(true, s - 7, "HAVING ", 0, 7)) stop = true
        else s -= 1
      }
      var e = m.end
      stop = false
      while (!stop && e < sql.length) {
        val c = sql.charAt(e)
        if (c == '(' && d(e) >= depth) {
          var k = e
          var bal = 0
          while (k < sql.length && { val ch = sql.charAt(k)
            if (ch == '(' && d(k) >= 0) bal += 1
            else if (ch == ')' && d(k) >= 0) bal -= 1
            bal != 0 }) k += 1
          e = k + 1
        } else if (d(e) < depth ||
          (d(e) == depth && ",)".contains(c)) ||
          sql.regionMatches(true, e, " AND ", 0, 5) ||
          sql.regionMatches(true, e, " OR ", 0, 4) ||
          sql.regionMatches(true, e, " THEN ", 0, 6)) stop = true
        else e += 1
      }
      val snippet = sql.substring(s, e).trim
      val idents = "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(snippet).toSet
      val touchesAlias = idents.exists(unguarded.contains)
      // each operand side checked independently: an agg on the right is
      // not excused by a round() on the left. A side that integer-casts
      // (SUM(CAST(... AS BIGINT))) is exact in both engines — no float
      // boundary exists.
      val directAgg = Seq(sql.substring(s, m.start), sql.substring(m.end, e)).exists { side =>
        floatAggRe.findFirstMatchIn(side).exists(a =>
          !side.toLowerCase.substring(0, a.start.max(0)).contains("round(") &&
            intCastRe.findFirstIn(side).isEmpty)
      }
      if (touchesAlias || directAgg) Some(snippet.replaceAll("\\s+", " ")) else None
    }.distinct
  }

  // ---------------------------------------------------------------- whitelists

  /** Probe-key SUBSTITUTES for entries whose ORDER BY references a
    * column that is not in the output — the override states the
    * output-column key set the stated tail is equivalent to, and the tie
    * probe still RUNS on it (this is a re-expression, not an escape
    * hatch). Reason goes in the comment.
    */
  val sortKeyOverride: Map[String, Seq[String]] = Map(
    // ORDER BY (query_id, rn) where rn = row_number() OVER (PARTITION BY
    // query_id ORDER BY cos DESC, cand_id) — ordering by rn within
    // query_id IS ordering by its window's sort key, so the equivalent
    // output-column tail is (query_id, cos, cand_id); cand_id is unique
    // per query partition, which the probe proves against the data.
    "sql_adhoc_similarity" -> Seq("query_id", "cos", "cand_id"))

  /** Entries whose oracle ORDER BY tail is not mechanically resolvable to
    * output columns at all (no override possible) — each carries the
    * human argument the machine can't make, and gets NO data probe. Keep
    * EMPTY unless an entry genuinely cannot state a probeable tail.
    */
  val sortKeyWhitelist: Map[String, String] = Map.empty

  /** Entries with a flagged strict-float comparison plus the reason the
    * boundary cannot flip cross-engine. A new flag without a row here
    * fails DeterminismAuditSpec; a fixable flag should be FIXED (grid-
    * round the threshold in both engines, like winsorize_stats and
    * skew_join_salted) rather than listed. */
  val strictFloatWhitelist: Map[String, String] = Map(
    "acf_lags" -> ("s1a/s1b > 0 are zero-variance GUARDS on stddev_samp: " +
      "both engines' stable accumulators return exactly 0 iff the lag " +
      "window is constant, else a value orders of magnitude above 1 ulp " +
      "- the boundary itself is not reachable by summation drift"),
    "corr_stats" -> ("sd_v/sd_u > 0 are zero-variance guards on " +
      "stddev_samp - exact 0 in both engines iff the column is constant, " +
      "else >> 1 ulp from 0; same class as acf_lags"),
    "zscore_anomaly" -> ("|z| > 2.5 where z derives from unrounded " +
      "mu/sd: safe because cross-engine summation drift is ~1e-13 " +
      "RELATIVE while no |z| in the data sits within 1e-6 of 2.5 - and " +
      "the filtered rows' own z output is round(4), so a flip would " +
      "surface as a row-count mismatch at the next oracle sweep, not " +
      "silently (argued in the entry's comment)"),
    "dedup_simhash" -> ("w0..w63 > 0 compare INTEGER sums (token count " +
      "x +-1 bit weight) - SUM over integers is exact BIGINT in both " +
      "engines, no float boundary exists; the detector cannot see types"),
    "ab_test_zscore" -> ("5*sum(CASE..1..0) > count(*) compares two " +
      "INTEGER aggregates - exact in both engines; the detector cannot " +
      "see that the sum argument is 0/1"),
    "token_budget_sample" -> ("cum_tokens <= budget compares a running " +
      "SUM of integer token counts - exact BIGINT in both engines, no " +
      "float boundary exists; the detector cannot see the sum's type"))

  /** Entries with float-typed aggregate OUTPUT columns that are not the
    * exact integer-sum pattern, plus the reason the residual
    * boundary-flip risk is accepted (class 3 — see the object scaladoc).
    * Every entry here hash-matched the exact DuckDB oracle at sf1 in the
    * r12 200/200 sweep (tools/sf1_signal_r12.json), so the listed risk
    * is the RESIDUAL beyond a measured 10× driver scale. The flip
    * probability per group is ≈ summation-drift/grid, and drift grows
    * with values-per-group — so the rule of thumb encoded here: rounded
    * outputs over SMALL bounded groups (ticks per day, dims per label)
    * are accepted on measurement; any aggregation over an UNBOUNDED or
    * join-product stream must use the exact quantized-BIGINT pattern
    * (the interval_join_agg fix, the one entry that actually flipped).
    * A new flag without a row here fails DeterminismAuditSpec.
    */
  val floatOutputWhitelist: Map[String, String] = Map(
    // -- (r13: the seven "exact already, detector cannot see the types"
    // rows were converted to STRUCTURAL proofs: their oracle SQL now
    // int-casts the aggregate arguments - a no-op on values that makes
    // the int_exact classification mechanically derivable from the SQL
    // instead of argued here. embedding_stats, gini_concentration,
    // dup_rate_by_source, event_transitions, tokenizer_fertility,
    // dup_span_stats, zorder_curve.)
    // -- (r14: eight more rows converted to STRUCTURAL proofs:
    //  * order-statistic interpolation — mad_stats, time_to_convert,
    //    value_quantiles, and winsorize_stats' lo/hi bounds — now use
    //    graft.operators.ExactQuantiles: explicit rank selection plus
    //    ONE shared interpolation formula, so both engines evaluate
    //    identical operands through identical operations and no
    //    built-in quantile_cont/percentile appears in the SQL at all;
    //  * the int64-overflow sum-of-squares family — embedding_dim_stats,
    //    embedding_quantize_int8, winsorize_stats' wins_std — quantizes
    //    per VALUE (one deterministic round of an identical double) and
    //    sums in int128: HUGEINT on the DuckDB side (matched by
    //    intCastRe, so int_exact is mechanically derived), DECIMAL(38,0)
    //    on the Spark side;
    //  * label_centroids / pricing_summary_q1 avgs became plain exact
    //    quantized-integer sums divided once.)
    // -- rounded float sums over BOUNDED groups, sf1-matched ----------
    // (the candle-family turnover rows — ohlcv_daily/typed/incremental,
    // etl_pipeline, resample_daily — plus twap_daily, unpivot_quartiles
    // and seasonal_decompose were converted to the exact fixed-point
    // pattern in r13: quantize on the value grid (price cents; 7·n−sum7
    // for the detrended counts), sum integers, divide once. The rows
    // that remain here aggregate values that are THEMSELVES transcendental
    // per-row doubles (ln/exp outputs) — a value grid would change the
    // semantics, and the bounded-group + sf1-measured argument stands.)
    // r15: each surviving row carries a MACHINE-CHECKED bound, not only
    // the prose — graft.DriftBounds derives a worst-case cross-engine
    // drift from the group's term count and Σ|term| (ulp summation
    // model) and certifies every output row sits ≥8× that drift away
    // from its nearest round(4) boundary (DriftBoundsSpec at sf0.001 on
    // every sbt test; tools/drift_bounds_r15.json at sf0.1 — closest
    // measured margin 3.6e3×, so a cross-engine flip is impossible on
    // these corpora, not merely unobserved).
    "bigram_lm_perplexity" -> ("avg_nll/ppl per document: bigrams-per-" +
      "doc bounded by text length; log/exp of identical operands; " +
      "round(4) absorption machine-certified by DriftBounds"),
    "perplexity_filter" -> ("same per-document avg_nll/ppl class as " +
      "bigram_lm_perplexity; DriftBounds-certified"),
    "tfidf_search" -> ("score sums <= 3 query-term tf*idf products per " +
      "doc - bounded tiny groups; DriftBounds-certified"),
    "bm25_search" -> ("score sums <= 3 query-term BM25 terms per doc - " +
      "same bounded tiny-group class as tfidf_search; DriftBounds-certified"))

  /** The class-3 flag set for one entry: float-aggregate output aliases
    * (from the oracle SQL) that are NOT int_exact AND are float-typed in
    * the Spark output schema (plan analysis only — no job runs, except
    * for entries whose construction itself runs bounded pass-1 jobs,
    * documented on GlobalRank). Returned as "alias:guard" strings.
    */
  def floatOutputAliases(spark: SparkSession, sfDir: String, qd: QueryDef): Seq[String] = {
    val guards = floatAggOutputGuards(qd.oracle.get).filter(_._2 != "int_exact")
    if (guards.isEmpty) return Nil
    val floatCols =
      try qd.run(spark, sfDir).schema.fields
        .filter(f => f.dataType == org.apache.spark.sql.types.DoubleType ||
          f.dataType == org.apache.spark.sql.types.FloatType)
        .map(_.name).toSet
      catch { case e: Exception => return Seq(s"SCHEMA_ERROR:${e.getMessage.take(80)}") }
    guards.collect { case (a, g) if floatCols.contains(a) => s"$a:$g" }.toSeq.sorted
  }

  // ---------------------------------------------------------------- data probe

  /** Number of outermost-sort-key tie groups whose rows are NOT fully
    * identical — must be 0. Keys may be expressions over output columns
    * (evaluated with `expr` — same scalar semantics both engines). Map
    * columns are not comparable in Spark grouping; probe them through
    * their JSON image (deterministic for the catalog's string-keyed
    * metadata maps). */
  def tieProbe(df: DataFrame, keys: Seq[String]): Long = {
    val cols = df.columns.toSeq
    val safe = df.select(cols.map { c =>
      df.schema(c).dataType match {
        case _: MapType => to_json(col(c)).as(c)
        case _ => col(c)
      }
    }: _*)
    safe.dropDuplicates()
      .groupBy(keys.zipWithIndex.map { case (k, i) =>
        org.apache.spark.sql.functions.expr(k).as(s"_k$i")
      }: _*)
      .count()
      .filter(col("count") > 1)
      .count()
  }

  /** Per-entry audit outcome. `status` ∈ keys_cover_all_columns |
    * total_by_data | total_by_data_override | single_row_no_order_by |
    * whitelisted | VIOLATION | UNPARSEABLE | ERROR. */
  final case class Audit(name: String, keys: Seq[String], status: String, detail: String = "")

  def auditEntry(spark: SparkSession, sfDir: String, qd: QueryDef): Audit = {
    val sql = qd.oracle.get
    def run() = qd.run(spark, sfDir)
    (sortKeyColumns(sql), sortKeyOverride.get(qd.name)) match {
      case (_, Some(substitute)) =>
        try {
          val bad = tieProbe(run(), substitute)
          if (bad == 0) Audit(qd.name, substitute, "total_by_data_override")
          else Audit(qd.name, substitute, "VIOLATION",
            s"$bad tie groups with non-identical rows (override keys)")
        } catch { case e: Throwable =>
          Audit(qd.name, substitute, "ERROR", s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      case (Left(_), None) if sortKeyWhitelist.contains(qd.name) =>
        Audit(qd.name, Nil, "whitelisted", sortKeyWhitelist(qd.name))
      case (Left(reason), None) =>
        // no stated total order: acceptable ONLY for a global-aggregate
        // single-row result (one row has one order at any scale the
        // aggregate stays global — re-proven at every probed SF)
        try {
          val df = run()
          val n = df.limit(2).count()
          if (n <= 1) Audit(qd.name, Nil, "single_row_no_order_by")
          else Audit(qd.name, Nil, "UNPARSEABLE", s"$reason (and output has $n+ rows)")
        } catch { case e: Throwable =>
          Audit(qd.name, Nil, "ERROR", s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      case (Right(keys), None) =>
        try {
          val df = run()
          val out = df.columns.toSet
          // keys whose every referenced column is in the output are
          // probeable; others (e.g. weighted_sample's ln(u)/w over a
          // CTE-only column) are DROPPED — sound, because grouping by a
          // key SUBSET makes tie groups coarser: if the subset already
          // separates rows (or leaves only identical rows tied), the
          // full key tuple does too.
          val (probeable, dropped) = keys.partition(k =>
            if (identRe.matches(k)) out.contains(k) else keyIdents(k).subsetOf(out))
          if (probeable.isEmpty)
            Audit(qd.name, keys, "UNPARSEABLE",
              s"no sort key resolvable against output columns: ${keys.mkString(", ")}")
          else if (out.subsetOf(probeable.filter(identRe.matches(_)).toSet))
            // the key IS the whole row — ties are identical rows by definition
            Audit(qd.name, probeable, "keys_cover_all_columns")
          else {
            val bad = tieProbe(df, probeable)
            if (bad == 0)
              Audit(qd.name, probeable,
                if (dropped.isEmpty) "total_by_data" else "total_by_data_subset",
                if (dropped.isEmpty) "" else s"unprobeable keys dropped: ${dropped.mkString(", ")}")
            else Audit(qd.name, probeable, "VIOLATION",
              s"$bad tie groups with non-identical rows" +
                (if (dropped.nonEmpty) s" (probed subset; dropped: ${dropped.mkString(", ")})" else ""))
          }
        } catch {
          case e: Throwable =>
            Audit(qd.name, keys, "ERROR", s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
    }
  }

  // ---------------------------------------------------------------- main

  /** Usage: DeterminismAudit <outJson> <sfDir>[,<sfDir>...]
    * Runs the tie probe for every oracled catalog entry at every sfDir
    * and the static strict-float scan once; writes one JSON artifact.
    * Any VIOLATION/UNPARSEABLE/unwhitelisted flag → exit 1.
    */
  def main(args: Array[String]): Unit = {
    val outPath = args(0)
    val sfDirs = args(1).split(",").toSeq
    val spark = GraftSession("graft-determinism-audit")
    spark.sparkContext.setLogLevel("WARN")

    val entries = SparkEntry.catalogEntries.filter(_.oracle.isDefined).sortBy(_.name)
    val floatFlags = entries.flatMap { qd =>
      val flags = strictFloatFlags(qd.oracle.get)
      if (flags.isEmpty) None
      else Some(qd.name -> (flags, strictFloatWhitelist.get(qd.name)))
    }
    // class 3: float-typed aggregate output columns not int_exact
    val floatOutputs = entries.flatMap { qd =>
      floatOutputAliases(spark, sfDirs.head, qd) match {
        case Seq() => None
        case as => Some(qd.name -> (as, floatOutputWhitelist.get(qd.name)))
      }
    }

    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").replace("\t", " ")
    val perSf = sfDirs.map { dir =>
      println(s"[audit] tie probe over ${entries.size} entries at $dir")
      val audits = entries.map { qd =>
        val a = auditEntry(spark, dir, qd)
        if (a.status == "VIOLATION" || a.status == "UNPARSEABLE" || a.status == "ERROR")
          println(s"[audit]   ${a.name}: ${a.status} ${a.detail}")
        a
      }
      dir -> audits
    }
    val bad = perSf.flatMap(_._2).filter(a =>
      a.status == "VIOLATION" || a.status == "UNPARSEABLE" || a.status == "ERROR") ++
      floatFlags.collect { case (n, (f, None)) => Audit(n, Nil, "FLOAT_FLAG", f.mkString("; ")) } ++
      floatOutputs.collect { case (n, (as, None)) =>
        Audit(n, Nil, "FLOAT_OUTPUT", as.mkString("; ")) }

    val json = new StringBuilder
    json.append("{\n  \"strict_float_flags\": {")
    json.append(floatFlags.map { case (n, (f, wl)) =>
      s"\n    \"${esc(n)}\": {\"snippets\": [${f.map(x => "\"" + esc(x) + "\"").mkString(", ")}], " +
        s"\"whitelisted\": ${wl.isDefined}${wl.map(w => s", \"reason\": \"${esc(w)}\"").getOrElse("")}}"
    }.mkString(","))
    json.append("\n  },\n  \"float_output_flags\": {")
    json.append(floatOutputs.map { case (n, (as, wl)) =>
      s"\n    \"${esc(n)}\": {\"aliases\": [${as.map(x => "\"" + esc(x) + "\"").mkString(", ")}], " +
        s"\"whitelisted\": ${wl.isDefined}${wl.map(w => s", \"reason\": \"${esc(w)}\"").getOrElse("")}}"
    }.mkString(","))
    json.append("\n  },\n")
    perSf.foreach { case (dir, audits) =>
      json.append(s"  \"${esc(dir)}\": {")
      json.append(audits.map(a =>
        s"\n    \"${esc(a.name)}\": {\"status\": \"${a.status}\", \"keys\": " +
          s"[${a.keys.map(k => "\"" + esc(k) + "\"").mkString(", ")}]" +
          (if (a.detail.nonEmpty) s", \"detail\": \"${esc(a.detail)}\"" else "") + "}"
      ).mkString(","))
      json.append("\n  },\n")
    }
    val counts = perSf.map { case (d, as) =>
      s"\"${esc(d)}\": {${as.groupBy(_.status).toSeq.sortBy(_._1)
        .map { case (s, xs) => s"\"$s\": ${xs.size}" }.mkString(", ")}}"
    }
    json.append(s"  \"summary\": {${counts.mkString(", ")}, \"bad\": ${bad.size}}\n}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json.toString)
    println(s"[audit] wrote $outPath; bad=${bad.size}")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
