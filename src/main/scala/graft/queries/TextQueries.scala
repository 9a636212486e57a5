package graft.queries

import graft.{QueryDef, Tables}
import graft.textops.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Training-data text operators over `documents`: quality scoring,
  * language ID, fingerprinting, exact / n-gram-Jaccard / MinHash-LSH /
  * SimHash deduplication. Oracle SQL is GENERATED from the same constants
  * the Spark side uses (stopword lists, hash params), so the two engines
  * cannot drift.
  */
object TextQueries {

  import TextAnalysis.{inList, langOrder, stopwords}

  private val toksDuck = TextAnalysis.tokensExprDuck

  // language-ID oracle generators live with the operator (TextAnalysis)
  private def langPredSql: String = TextAnalysis.langBestSqlDuck
  private val langScoresDuck = TextAnalysis.langScoresSqlDuck

  // ---- minhash oracle pieces, generated from Dedup.minhashParams ----
  private val shinglesDuck =
    s"""tok AS (
          SELECT doc_id, $toksDuck AS toks FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest(list_transform(toks, (x, i) ->
              CASE WHEN i + 4 <= len(toks)
                   THEN toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] END)) AS shingle
            FROM tok) t
          WHERE shingle IS NOT NULL
        )"""

  // minhash oracle generators live with the operator (Dedup)
  private val sigSelectDuck = Dedup.sigSelectSqlDuck
  private val bandsDuck = Dedup.bandsSqlDuck

  private val simhashSumsDuck = (0 until Dedup.simhashBits)
    .map(b => s"SUM(cnt * (((h >> $b) & 1) * 2 - 1)) AS w$b").mkString(", ")
  private val simhashValDuck = (0 until Dedup.simhashBits)
    .map(b => s"(CASE WHEN w$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")

  val entries: Seq[QueryDef] = Seq(
    // n-gram language-model statistics: top-5 bigrams per language by
    // frequency — explode bigrams (zip of the token list with its own
    // tail), count per (lang, bigram), bounded top-k by a total order.
    // The shuffle key is the content-derived (lang, bigram) — work
    // scales with corpus token volume, the partial agg collapses
    // duplicates map-side
    QueryDef(
      "ngram_top",
      Some(s"""
        WITH toks AS (
          SELECT doc_id, lang, $toksDuck AS t FROM documents
        ), bg AS (
          SELECT lang, u.bigram
          FROM toks, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS u(bigram)
        ), counted AS (
          SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY lang, bigram
        ), ranked AS (
          SELECT lang, bigram, n,
                 row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rank
          FROM counted
        )
        SELECT lang, bigram, n, CAST(rank AS BIGINT) AS rank FROM ranked
        WHERE rank <= 5
        ORDER BY lang, rank
      """.stripMargin.trim),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val bigrams = Tables.documents(spark, dir)
          .withColumn("t", expr(TextAnalysis.tokensExpr))
          .select(col("lang"), explode(expr(
            """zip_with(slice(t, 1, greatest(size(t) - 1, 0)),
                        slice(t, 2, greatest(size(t) - 1, 0)),
                        (a, b) -> concat(a, ' ', b))""")).as("bigram"))
        val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("bigram"))
        bigrams
          .groupBy(col("lang"), col("bigram"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .orderBy("lang", "rank")
      }),

    // collocation mining: bigrams whose joint frequency beats the
    // independence assumption — ranked by pointwise mutual information
    // over EXACT integer counts (unigram/bigram totals are BIGINTs; the
    // only float is the final ln of an exact rational, absorbed by the
    // round-4 convention). The count floor prunes the hapax noise that
    // dominates raw PMI BEFORE the unigram joins, so the expensive part
    // of the plan runs on the tiny surviving set; the two scalar totals
    // ride broadcast cross joins, never a shuffle
    QueryDef(
      "collocation_pmi",
      Some(s"""
        WITH toks AS (
          SELECT list_filter($toksDuck, x -> length(x) > 0) AS t FROM documents
        ), uni AS (
          SELECT u.w, COUNT(*) AS cw FROM toks, unnest(t) AS u(w) GROUP BY u.w
        ), nu AS (
          SELECT CAST(SUM(cw) AS DOUBLE) AS nuni FROM uni
        ), bgc AS (
          SELECT t[CAST(u.i AS INT)] AS a, t[CAST(u.i AS INT) + 1] AS b, COUNT(*) AS cab
          FROM toks, unnest(range(1, len(t))) AS u(i)
          GROUP BY 1, 2
        ), nb AS (
          SELECT CAST(SUM(cab) AS DOUBLE) AS nbg FROM bgc
        )
        SELECT a, b, CAST(cab AS BIGINT) AS cab,
               round(ln((CAST(cab AS DOUBLE) * nuni * nuni) /
                        (nbg * CAST(ua.cw AS DOUBLE) * CAST(ub.cw AS DOUBLE))), 4) AS pmi
        FROM bgc
        JOIN uni ua ON bgc.a = ua.w
        JOIN uni ub ON bgc.b = ub.w
        CROSS JOIN nu CROSS JOIN nb
        WHERE cab >= 10
        ORDER BY pmi DESC, a, b
        LIMIT 40
      """.stripMargin.trim),
      (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .withColumn("t", expr(s"filter(${TextAnalysis.tokensExpr}, x -> length(x) > 0)"))
        val uni = toks.select(explode(col("t")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cw"))
        val nuni = uni.agg(sum("cw").cast("double").as("nuni"))
        val bgc = toks.select(explode(expr(
          """zip_with(slice(t, 1, greatest(size(t) - 1, 0)),
                      slice(t, 2, greatest(size(t) - 1, 0)),
                      (x, y) -> struct(x AS a, y AS b))""")).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("cab"))
        val nbg = bgc.agg(sum("cab").cast("double").as("nbg"))
        // same-aliased uni joined via conditions (r18): per-side renamed
        // projections made the two build subtrees canonically unequal,
        // so the unigram-count aggregation (a full tokenize pass) and
        // its broadcast were built twice instead of reused
        bgc.filter(col("cab") >= 10)
          .join(uni.as("ua"), col("a") === col("ua.w"))
          .join(uni.as("ub"), col("b") === col("ub.w"))
          .crossJoin(broadcast(nuni)).crossJoin(broadcast(nbg))
          .select(col("a"), col("b"), col("cab").cast("long").as("cab"),
            round(expr("ln((cast(cab as double) * nuni * nuni) / " +
              "(nbg * cast(ua.cw as double) * cast(ub.cw as double)))"), 4).as("pmi"))
          .orderBy(col("pmi").desc, col("a"), col("b"))
          .limit(40)
      }),

    // document chunking: fixed 64-token non-overlapping chunks — the
    // split step before tokenize-and-pack. One explode per doc over a
    // computed chunk-index range; only chunk metadata is emitted
    QueryDef(
      "chunk_documents",
      Some(s"""
        WITH toks AS (
          SELECT doc_id, $toksDuck AS t FROM documents
        ), chunks AS (
          SELECT doc_id, u.chunk_id,
                 CAST(least(64, len(t) - u.chunk_id*64) AS BIGINT) AS chunk_len,
                 t[u.chunk_id*64 + 1] AS first_tok
          FROM toks, unnest(range(0, CAST(ceil(len(t)/64.0) AS BIGINT))) AS u(chunk_id)
        )
        SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, chunk_len, first_tok
        FROM chunks
        ORDER BY doc_id, chunk_id
      """.stripMargin.trim),
      (spark, dir) => {
        Tables.documents(spark, dir)
          .withColumn("t", expr(TextAnalysis.tokensExpr))
          .select(col("doc_id"), col("t"),
            explode(expr("sequence(0L, cast(ceil(size(t)/64.0) as long) - 1)")).as("chunk_id"))
          .select(
            col("doc_id"), col("chunk_id"),
            least(lit(64L), size(col("t")) - col("chunk_id") * 64).cast("long").as("chunk_len"),
            expr("element_at(t, cast(chunk_id*64 + 1 as int))").as("first_tok"))
          .orderBy("doc_id", "chunk_id")
      }),

    // concat-then-split sequence packing (LLM-pretraining packing): all
    // docs concatenated in doc_id order, split at 512-token boundaries.
    // Each doc's global start offset comes from the DISTRIBUTED two-phase
    // prefix sum (operators/PrefixSum) — the oracle's global window
    // formulation (SUM OVER (ORDER BY ...) with no partition) is the
    // single-reducer plan this operator exists to avoid
    QueryDef(
      "pack_sequences",
      Some(s"""
        WITH toks AS (
          SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS n FROM documents
        ), cum AS (
          SELECT doc_id, n,
                 CAST(SUM(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
          FROM toks
        )
        SELECT doc_id, n, cum_end - n AS start_off,
               CAST((cum_end - n) // 512 AS BIGINT) AS seq_id,
               CAST((cum_end - n) % 512 AS BIGINT) AS seq_off,
               (cum_end - 1) // 512 > (cum_end - n) // 512 AS straddles
        FROM cum
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .select(col("doc_id"), size(expr(TextAnalysis.tokensExpr)).cast("long").as("n"))
        graft.operators.PrefixSum.exclusivePrefixSum(toks, "doc_id", "n")
          .select(
            col("doc_id"), col("n"), col("start_off"),
            // `div` = integer division (Column `/` is double division)
            expr("start_off div 512").as("seq_id"),
            (col("start_off") % 512).as("seq_off"),
            expr("(start_off + n - 1) div 512 > start_off div 512").as("straddles"))
          .orderBy("doc_id")
      }),

    // Gopher-style repetition filters: duplicate-token fraction and top
    // token share per document — the quality signals that catch boiler-
    // plate and degenerate repetition. The ratios are exact rationals
    // (int/int in double), so no rounding is needed for parity
    QueryDef(
      "repetition_stats",
      Some(s"""
        WITH toks AS (
          SELECT doc_id, $toksDuck AS t FROM documents
        ), per_tok AS (
          SELECT doc_id, u.tok, COUNT(*) AS c
          FROM toks, unnest(t) AS u(tok) GROUP BY doc_id, u.tok
        ), agg AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct,
                 CAST(MAX(c) AS BIGINT) AS top_count
          FROM per_tok GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, n_distinct,
               1.0 - CAST(n_distinct AS DOUBLE)/n_tokens AS dup_frac,
               CAST(top_count AS DOUBLE)/n_tokens AS top_share
        FROM agg
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        Tables.documents(spark, dir)
          .select(col("doc_id"), explode(expr(TextAnalysis.tokensExpr)).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            max(col("c")).as("top_count"))
          .select(
            col("doc_id"), col("n_tokens"), col("n_distinct"),
            (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")).as("dup_frac"),
            (col("top_count").cast("double") / col("n_tokens")).as("top_share"))
          .orderBy("doc_id")
      }),

    // PII-pattern scrub pass: digit masking + whitespace normalization,
    // fingerprinted (the scrubbed text itself stays narrow in the
    // result); n_digits counts what was masked. Same regex text on both
    // engines; Spark regexp_replace is global by default ≡ DuckDB 'g'
    QueryDef(
      "pii_scrub",
      Some("""
        SELECT doc_id,
               md5(regexp_replace(regexp_replace(text, '[0-9]', '#', 'g'), '\s+', ' ', 'g')) AS scrub_fp,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits
        FROM documents
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        Tables.documents(spark, dir)
          .select(
            col("doc_id"),
            md5(regexp_replace(regexp_replace(col("text"), "[0-9]", "#"), "\\s+", " "))
              .as("scrub_fp"),
            length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("n_digits"))
          .orderBy("doc_id")
      }),

    QueryDef(
      "text_quality",
      Some(s"""
        WITH d AS (
          SELECT doc_id, text, $toksDuck AS toks FROM documents
        ), r AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(length(text) AS DOUBLE) / len(toks) AS avg_token_len,
                 CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE) / length(text) AS alnum_ratio,
                 CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
                 CAST(len(list_filter(toks, t -> t IN (${inList(stopwords("en"))}))) AS DOUBLE) / len(toks) AS stopword_ratio
          FROM d
        )
        SELECT doc_id, n_tokens, n_chars, avg_token_len, alnum_ratio, punct_ratio, stopword_ratio,
               CAST(0.4 AS DOUBLE) * alnum_ratio + CAST(0.4 AS DOUBLE) * stopword_ratio
                 + CAST(0.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - punct_ratio) AS quality_score
        FROM r
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        TextAnalysis.withQuality(Tables.documents(spark, dir))
          .select(
            col("doc_id"), col("n_tokens"), col("n_chars2").as("n_chars"),
            col("avg_token_len"), col("alnum_ratio"), col("punct_ratio"),
            col("stopword_ratio"), col("quality_score"))
          .orderBy("doc_id")
      }),

    QueryDef(
      "lang_id",
      Some(s"""
        WITH d AS (
          SELECT doc_id, lang, $toksDuck AS toks FROM documents
        ), s AS (
          SELECT doc_id, lang,
                 $langScoresDuck
          FROM d
        )
        SELECT doc_id, lang, ${langOrder.map(l => s"score_$l").mkString(", ")},
               $langPredSql AS predicted_lang
        FROM s
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        TextAnalysis.withLangId(Tables.documents(spark, dir))
          .select(col("doc_id") +: col("lang") +:
            langOrder.map(l => col(s"score_$l")) :+ col("predicted_lang"): _*)
          .orderBy("doc_id")
      }),

    // token counting two ways: whitespace tokens + BPE-ish regex pieces
    // (letter runs / digit runs / single punctuation, the common
    // pre-tokenizer split)
    QueryDef(
      "token_counts",
      Some(s"""
        SELECT doc_id,
               CAST(len($toksDuck) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_pieces,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        Tables.documents(spark, dir)
          .select(
            col("doc_id"),
            size(expr(TextAnalysis.tokensExpr)).cast("long").as("ws_tokens"),
            size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
              .cast("long").as("bpe_pieces"),
            length(col("text")).cast("long").as("n_chars"))
          .orderBy("doc_id")
      }),

    QueryDef(
      "doc_fingerprint",
      Some(s"""
        WITH d AS (
          SELECT doc_id, text, $toksDuck AS toks FROM documents
        )
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS md5_fp,
               ${TextAnalysis.rollingHashExprDuck} AS rolling_fp
        FROM d
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        Tables.documents(spark, dir)
          .withColumn("toks", expr(TextAnalysis.tokensExpr))
          .select(
            col("doc_id"),
            md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("md5_fp"),
            expr(TextAnalysis.rollingHashExpr).as("rolling_fp"))
          .orderBy("doc_id")
      }),

    // MOSS-style winnowing (Schleimer et al. 2003): hash every k-gram
    // (k=5) of the normalized text, slide a w=4 window over the hash
    // sequence, keep each window's minimum — the fingerprint set that
    // guarantees any match of length ≥ k+w−1 shares a selected hash,
    // which is what makes it the standard plagiarism/near-dup sketch.
    // Per-doc output is order-independent aggregates of the selected
    // set (distinct count, SUM(DISTINCT), min), so the hash compare
    // never depends on selection order.
    //
    // ============== BASELINE — DO NOT COPY THIS PLAN ==============
    // This is the O(n·k) COMPOSABLE formulation (md5 per gram position +
    // a doc_id-shuffled window frame), kept deliberately as the measured
    // counterpart that PROVES the native kernel's strength reduction:
    // `winnow_rolling` computes the same selection O(n) inside the row
    // via `graft_winnow` with NO shuffle — 4.4 s vs 0.56 s at sf0.1,
    // 21× at a 10× corpus (SCALE.md "winnowing"). New winnowing-shaped
    // work must build on `graft_winnow` / `winnow_rolling`; reach for
    // this explode+window idiom only when a per-row kernel genuinely
    // cannot express the semantics.
    // ==============================================================
    QueryDef(
      "winnow_fingerprints",
      Some(s"""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
          FROM documents
        ), pos AS (
          SELECT doc_id, u.i AS i,
                 ${TextAnalysis.hashRawSqlDuck("substring(t, CAST(u.i AS INT), 5)")} % 1000000007 AS h
          FROM d, unnest(range(1, length(t) - 3)) AS u(i)
          WHERE length(t) >= 8
        ), win AS (
          SELECT doc_id, i,
                 min(h) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                 count(*) OVER (PARTITION BY doc_id) AS np
          FROM pos
        ), sel AS (
          SELECT doc_id, fp FROM win WHERE i <= np - 3
        )
        SELECT doc_id,
               COUNT(*) AS n_windows,
               COUNT(DISTINCT fp) AS n_fps,
               CAST(SUM(DISTINCT fp) AS BIGINT) AS fp_checksum,
               CAST(MIN(fp) AS BIGINT) AS min_fp
        FROM sel GROUP BY doc_id ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.documents(spark, dir)
          .select(col("doc_id"),
            regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
          .filter(length(col("t")) >= 8)
        val pos = d
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(1L), (length(col("t")) - 4).cast("long"))).as("i"))
          .withColumn("h",
            expr(TextAnalysis.hashRawExpr("substring(t, cast(i as int), 5)")) % 1000000007L)
          .drop("t")
        val frame = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
        val per = Window.partitionBy("doc_id")
        val sel = pos
          .withColumn("fp", min(col("h")).over(frame))
          .withColumn("np", count(lit(1)).over(per))
          .filter(col("i") <= col("np") - 3)
        graft.Tails.orderedSmall(
          sel.groupBy("doc_id").agg(
            count(lit(1)).as("n_windows"),
            countDistinct(col("fp")).as("n_fps"),
            sum_distinct(col("fp")).cast("long").as("fp_checksum"),
            min(col("fp")).cast("long").as("min_fp")),
          col("doc_id"))
      }),

    // Winnowing again, but through the O(n) native kernel
    // (`functions/RollingWinnow`, `graft_winnow`): gram hash = mod-M
    // Horner polynomial over codepoints, computed by a true rolling
    // recurrence + monotonic-deque minima INSIDE the row — no md5 per
    // position, no doc_id shuffle, no window sort; the plan is
    // scan → codegen'd project → per-row array aggregates. The oracle
    // states the same hash PER POSITION (DuckDB unicode/substr Horner)
    // with the same min-over-window SQL as `winnow_fingerprints`, so the
    // hash match proves the O(n·k)→O(n) strength reduction — and the
    // shuffle elimination — are value-preserving. SCALE.md records the
    // measured gap vs the md5/window formulation.
    QueryDef(
      "winnow_rolling",
      Some(s"""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
          FROM documents
        ), pos AS (
          SELECT doc_id, u.i AS i, ${TextAnalysis.hornerGramSqlDuck("t", "u.i", 5)} AS h
          FROM d, unnest(range(1, length(t) - 3)) AS u(i)
          WHERE length(t) >= 8
        ), win AS (
          SELECT doc_id, i,
                 min(h) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                 count(*) OVER (PARTITION BY doc_id) AS np
          FROM pos
        ), sel AS (
          SELECT doc_id, fp FROM win WHERE i <= np - 3
        )
        SELECT doc_id,
               COUNT(*) AS n_windows,
               COUNT(DISTINCT fp) AS n_fps,
               CAST(SUM(DISTINCT fp) AS BIGINT) AS fp_checksum,
               CAST(MIN(fp) AS BIGINT) AS min_fp
        FROM sel GROUP BY doc_id ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        val fps = Tables.documents(spark, dir)
          .select(col("doc_id"),
            regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
          .filter(length(col("t")) >= 8)
          .select(col("doc_id"),
            expr(s"graft_winnow(t, 5, 4, ${TextAnalysis.WinnowBase}, ${TextAnalysis.WinnowMod})").as("fps"))
        graft.Tails.orderedSmall(
          fps.select(
            col("doc_id"),
            size(col("fps")).cast("long").as("n_windows"),
            size(array_distinct(col("fps"))).cast("long").as("n_fps"),
            aggregate(array_distinct(col("fps")), lit(0L), (acc, x) => acc + x).as("fp_checksum"),
            array_min(col("fps")).as("min_fp")),
          col("doc_id"))
      }),

    // top-quality docs per language via the bounded top-k Aggregator
    // (second domain for TopKAggregator; oracle = row_number window)
    QueryDef(
      "top_quality_docs",
      Some(s"""
        WITH d AS (
          SELECT doc_id, lang, $toksDuck AS toks, text FROM documents
        ), scored AS (
          SELECT doc_id, lang,
                 CAST(len(list_filter(toks, t -> t IN (${inList(stopwords("en"))}))) AS DOUBLE) / len(toks) AS quality
          FROM d
        ), ranked AS (
          SELECT lang, doc_id, quality,
                 row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rank
          FROM scored
        )
        SELECT lang, doc_id, quality, rank FROM ranked
        WHERE rank <= 5
        ORDER BY lang, rank
      """.stripMargin.trim),
      (spark, dir) => {
        val scored = Tables.documents(spark, dir)
          .withColumn("toks", expr(TextAnalysis.tokensExpr))
          .select(col("doc_id"), col("lang"),
            (TextAnalysis.hitCount(stopwords("en")).cast("double") /
              size(col("toks"))).as("quality"))
        // lang itself is the group key — no value→code mapping that could
        // silently merge unseen languages into one top-5 group
        graft.operators.TopKAggregator
          .topKPerStringKey(scored.select(col("lang"), col("quality"), col("doc_id")),
            "lang", "quality", "doc_id", 5)
          .select("lang", "doc_id", "quality", "rank")
          .orderBy("lang", "rank")
      }),

    // deterministic train/validation/test split by content hash — the
    // standard leakage-safe split for training data: assignment depends
    // only on the document id hash (reproducible across engines, runs,
    // partitionings; NOT rand(), which re-rolls on retry). 80/10/10.
    QueryDef(
      "train_test_split",
      Some(s"""
        WITH s AS (
          SELECT doc_id, lang,
                 ${TextAnalysis.hashBucketSqlDuck("doc_id", 100)} AS bucket
          FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'validation'
                    ELSE 'test' END AS split
        FROM s
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        val bucket = expr(TextAnalysis.hashBucketExpr("doc_id", 100))
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), bucket.as("bucket"))
          .withColumn("split",
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "validation")
              .otherwise("test"))
          .drop("bucket")
          .orderBy("doc_id")
      }),

    QueryDef(
      "dedup_exact",
      Some("""
        SELECT md5(lower(trim(text))) AS text_hash,
               min(doc_id) AS canonical_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY md5(lower(trim(text)))
        ORDER BY canonical_id
      """.stripMargin.trim),
      (spark, dir) =>
        Dedup.exactDuplicates(Tables.documents(spark, dir)).orderBy("canonical_id")),

    // per-source duplication report — the curation diagnostic a crawl
    // pipeline reads before choosing mixture weights: for each source,
    // how many docs are copies of SOMETHING (duped_docs / dup_rate) and
    // how many collide with a DIFFERENT source (cross_source_docs —
    // mirror detection). Content groups come from the same normalized
    // md5 as dedup_exact; two hash-keyed aggs + one broadcast-sized join
    // back, so at 100 TB the only corpus-wide shuffle is the group-by
    // content hash that exact dedup already pays.
    QueryDef(
      "dup_rate_by_source",
      Some("""
        WITH h AS (
          SELECT source, md5(lower(trim(text))) AS text_hash FROM documents
        ), g AS (
          SELECT text_hash, COUNT(*) AS n_copies,
                 COUNT(DISTINCT source) AS n_sources
          FROM h GROUP BY text_hash
        )
        SELECT h.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN g.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS duped_docs,
               CAST(sum(CASE WHEN g.n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT) AS cross_source_docs,
               round(CAST(sum(CAST(CASE WHEN g.n_copies > 1 THEN 1 ELSE 0 END AS BIGINT)) AS DOUBLE)
                     / COUNT(*), 4) AS dup_rate
        FROM h JOIN g ON h.text_hash = g.text_hash
        GROUP BY h.source ORDER BY h.source
      """.stripMargin.trim),
      (spark, dir) => {
        val h = Tables.documents(spark, dir)
          .select(col("source"), md5(lower(trim(col("text")))).as("text_hash"))
        val g = h.groupBy("text_hash")
          .agg(count(lit(1)).as("n_copies"), countDistinct("source").as("n_sources"))
        val duped = sum(when(col("n_copies") > 1, 1).otherwise(0)).cast("long")
        val cross = sum(when(col("n_sources") > 1, 1).otherwise(0)).cast("long")
        graft.Tails.orderedSmall(
          h.join(g, Seq("text_hash"))
            .groupBy("source")
            .agg(count(lit(1)).as("n_docs"), duped.as("duped_docs"),
              cross.as("cross_source_docs"),
              round(duped.cast("double") / count(lit(1)), 4).as("dup_rate")),
          col("source"))
      }),

    // hot shingles (df > cap) are dropped from the similarity universe on
    // BOTH engines — see Dedup.hotShingleMaxDf for why this is the
    // 100 TB-survival knob (one boilerplate 5-gram in k docs would emit
    // O(k²) join rows under a single key)
    QueryDef(
      "dedup_jaccard",
      Some(s"""
        WITH $shinglesDuck,
        ${Dedup.cappedShinglesSqlDuck()},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
               CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
        ORDER BY doc_a, doc_b
      """.stripMargin.trim),
      (spark, dir) =>
        Dedup.jaccardPairs(Tables.documents(spark, dir), n = 5, minJaccard = 0.8)
          .transform(graft.Tails.ordSmall("doc_a", "doc_b"))),

    // the SAME exact-Jaccard semantics through PPJoin prefix filtering:
    // only each doc's rarest (1−t)·n+1 shingles enter the candidate
    // join (completeness is the WWW'08 prefix theorem), full sets are
    // consulted only to verify candidates. Identical oracle to
    // dedup_jaccard — the hash match certifies the candidate pruning
    // loses nothing; TextOpsSpec adds a randomized equivalence property.
    QueryDef(
      "dedup_jaccard_prefix",
      Some(s"""
        WITH $shinglesDuck,
        ${Dedup.cappedShinglesSqlDuck()},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
               CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
        ORDER BY doc_a, doc_b
      """.stripMargin.trim),
      (spark, dir) =>
        Dedup.jaccardPairsPrefix(Tables.documents(spark, dir), n = 5, minJaccard = 0.8)
          .transform(graft.Tails.ordSmall("doc_a", "doc_b"))),

    // asymmetric containment |A∩B|/|A|: catches subset-duplication
    // (quote-and-extend) that symmetric Jaccard misses
    QueryDef(
      "dedup_containment",
      Some(s"""
        WITH $shinglesDuck,
        ${Dedup.cappedShinglesSqlDuck()},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_common, sa.n AS n_a,
               CAST(n_common AS DOUBLE) / sa.n AS containment
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        WHERE CAST(n_common AS DOUBLE) / sa.n >= 0.8
        ORDER BY doc_a, doc_b
      """.stripMargin.trim),
      (spark, dir) =>
        Dedup.containmentPairs(Tables.documents(spark, dir), n = 5, minContainment = 0.8)
          .transform(graft.Tails.ordSmall("doc_a", "doc_b"))),

    // connected components of the near-dup graph: every doc → minimum
    // doc_id in its cluster. Spark: star-contraction CC over MinHash-LSH
    // edges (candidates from band buckets, exact-Jaccard verified);
    // oracle: the SAME LSH candidate generation, closed by recursive CTE.
    QueryDef(
      "dedup_clusters",
      Some(s"""
        WITH RECURSIVE $shinglesDuck,
        k AS (SELECT doc_id, ${Dedup.shingleKeyExprDuck} AS s FROM sh),
        sig AS (SELECT doc_id, $sigSelectDuck FROM k GROUP BY doc_id),
        bands AS ($bandsDuck),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b
        ),
        pairsj AS (
          SELECT doc_a, doc_b
          FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
        ),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairsj
          UNION ALL
          SELECT doc_b, doc_a FROM pairsj
        ),
        reach(node, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.node
        )
        SELECT node AS doc_id, min(r) AS canonical_id
        FROM reach
        GROUP BY node
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) =>
        Dedup.nearDupClusters(Tables.documents(spark, dir), n = 5, minJaccard = 0.8)
          .transform(graft.Tails.ordSmall("doc_id"))),

    // keep-BEST-per-cluster: the curation op a training pipeline actually
    // runs over the cluster labels — keep the highest-quality member of
    // each near-dup cluster (not the arbitrary min-id), tie → lowest id.
    // quality_score doubles are bit-identical across engines, so the
    // argmax and the cut agree exactly
    QueryDef(
      "dedup_keep_best",
      Some(s"""
        WITH RECURSIVE $shinglesDuck,
        k AS (SELECT doc_id, ${Dedup.shingleKeyExprDuck} AS s FROM sh),
        sig AS (SELECT doc_id, $sigSelectDuck FROM k GROUP BY doc_id),
        bands AS ($bandsDuck),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b
        ),
        pairsj AS (
          SELECT doc_a, doc_b
          FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
        ),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairsj
          UNION ALL
          SELECT doc_b, doc_a FROM pairsj
        ),
        reach(node, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.node
        ),
        labels AS (
          SELECT node AS doc_id, min(r) AS canonical_id FROM reach GROUP BY node
        ),
        d AS (SELECT doc_id, text, $toksDuck AS toks FROM documents),
        q AS (SELECT doc_id, ${TextAnalysis.qualityScoreSqlDuck} AS quality_score FROM d),
        ranked AS (
          SELECT l.canonical_id, l.doc_id, q.quality_score,
                 row_number() OVER (PARTITION BY l.canonical_id
                   ORDER BY q.quality_score DESC, l.doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY l.canonical_id) AS cluster_size
          FROM labels l JOIN q ON q.doc_id = l.doc_id
        )
        SELECT canonical_id, doc_id AS kept_doc, cluster_size,
               quality_score AS quality
        FROM ranked WHERE rn = 1
        ORDER BY canonical_id
      """.stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val labels = Dedup.nearDupClusters(docs, n = 5, minJaccard = 0.8)
        Dedup.keepBestPerCluster(docs, labels).transform(graft.Tails.ordSmall("canonical_id"))
      }),

    // near-dup-aware curation composite: the cluster labels (the
    // expensive LSH + connected-components stage) are materialized ONCE
    // (localCheckpoint) and passed to the curation — the sharing shape a
    // production pipeline uses when keep-best, cluster stats, and
    // curation all consume the same pair graph. quality gate → eval
    // removal → keep-best-per-cluster → 8-gram decontamination → split.
    QueryDef(
      "curate_neardup",
      Some(s"""
        WITH RECURSIVE $shinglesDuck,
        k AS (SELECT doc_id, ${Dedup.shingleKeyExprDuck} AS s FROM sh),
        sig AS (SELECT doc_id, $sigSelectDuck FROM k GROUP BY doc_id),
        bands AS ($bandsDuck),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b
        ),
        pairsj AS (
          SELECT doc_a, doc_b
          FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
        ),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairsj
          UNION ALL
          SELECT doc_b, doc_a FROM pairsj
        ),
        reach(node, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.node
        ),
        labels AS (
          SELECT node AS doc_id, min(r) AS canonical_id FROM reach GROUP BY node
        ),
        d AS (SELECT doc_id, lang, text, $toksDuck AS toks FROM documents),
        scored AS (
          SELECT doc_id, text, toks,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 ${TextAnalysis.qualityScoreSqlDuck} AS quality_score,
                 $langScoresDuck
          FROM d
        ),
        kept AS (
          SELECT * FROM scored WHERE quality_score >= 0.535 AND doc_id % 10 <> 0
        ),
        ranked AS (
          SELECT kept.*, l.canonical_id,
                 row_number() OVER (PARTITION BY l.canonical_id
                   ORDER BY kept.quality_score DESC, kept.doc_id) AS rn
          FROM kept JOIN labels l ON l.doc_id = kept.doc_id
        ),
        tok8 AS (
          SELECT doc_id, $toksDuck AS t FROM documents
        ),
        sh8 AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(t) - 6), i ->
              ${(0 until 8).map(j => if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")})) AS shingle
            FROM tok8) x
          WHERE shingle IS NOT NULL
        ),
        cont AS (
          SELECT DISTINCT t.doc_id
          FROM (SELECT doc_id, shingle FROM sh8 WHERE doc_id % 10 <> 0) t
          JOIN (SELECT shingle FROM sh8 WHERE doc_id % 10 = 0) b USING (shingle)
        )
        SELECT doc_id, canonical_id,
               ${TextAnalysis.langBestSqlDuck} AS predicted_lang,
               n_tokens, quality_score,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'validation'
                    ELSE 'test' END AS split
        FROM (
          SELECT *, ${TextAnalysis.hashBucketSqlDuck("doc_id", 100)} AS bucket
          FROM ranked
          WHERE rn = 1 AND doc_id NOT IN (SELECT doc_id FROM cont)) z
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        // the expensive stage, materialized once and shared
        val labels = graft.operators.Checkpoints.truncateSession(
          Dedup.nearDupClusters(docs, n = 5, minJaccard = 0.8))
        graft.textops.Curate
          .curateNearDup(docs, labels, isBench = col("doc_id") % 10 === 0,
            qualityMin = 0.535, n = 8)
          .transform(graft.Tails.ordSmall("doc_id"))
      }),

    // LM-perplexity quality filter (CCNet/Gopher style), approximated by
    // the corpus unigram LM: per-doc average negative log-likelihood
    // −Σ cnt·ln(C(tok)/T) / n and its exp (perplexity). Integer counts
    // are exact; the one log-sum is rounded at 4 decimals like
    // char_entropy. Corpus total attaches as a broadcast 1-row frame —
    // never a driver-side scalar. High-ppl docs (rare-token soup) are
    // what a real pipeline cuts.
    QueryDef(
      "perplexity_filter",
      Some(s"""
        WITH tokc AS (
          SELECT doc_id, tok, COUNT(*) AS cnt
          FROM (SELECT doc_id, unnest($toksDuck) AS tok FROM documents) z
          GROUP BY doc_id, tok
        ), corpus AS (
          SELECT tok, SUM(cnt) AS ctok FROM tokc GROUP BY tok
        ), tot AS (
          SELECT CAST(SUM(ctok) AS BIGINT) AS t FROM corpus
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               round(SUM(cnt * (ln(t) - ln(ctok))) / SUM(cnt), 4) AS avg_nll,
               round(exp(SUM(cnt * (ln(t) - ln(ctok))) / SUM(cnt)), 4) AS ppl
        FROM tokc JOIN corpus USING (tok) CROSS JOIN tot
        GROUP BY doc_id
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        val tokc = Tables.documents(spark, dir)
          .withColumn("toks", expr(TextAnalysis.tokensExpr))
          .select(col("doc_id"), explode(col("toks")).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("cnt"))
        val corpus = tokc.groupBy(col("tok")).agg(sum(col("cnt")).as("ctok"))
        val tot = corpus.agg(sum(col("ctok")).cast("long").as("t"))
        val nllSum = sum(col("cnt") * (log(col("t")) - log(col("ctok"))))
        tokc.join(corpus, Seq("tok"))
          .crossJoin(broadcast(tot))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("cnt")).cast("long").as("n_tokens"),
            round(nllSum / sum(col("cnt")), 4).as("avg_nll"),
            round(exp(nllSum / sum(col("cnt"))), 4).as("ppl"))
          .orderBy("doc_id")
      }),

    // the bigram upgrade of perplexity_filter: an add-1-smoothed bigram
    // LM trained on the corpus itself, scored per doc. Context counts
    // derive from the bigram table (ctx(w1) = Σ_w2 c(w1,w2)) so the
    // model is self-consistent; V is the corpus vocabulary. Counts and
    // the +1/+V smoothing are exact integers; the ln/exp tail is rounded
    // at 4 decimals like perplexity_filter. Docs under two tokens have
    // no bigrams and drop out in both engines. Scale shape: the bigram
    // table is O(distinct bigrams), joins are equi-joins on (w1, w2) and
    // w1, V attaches as a broadcast 1-row frame.
    QueryDef(
      "bigram_lm_perplexity",
      Some(s"""
        WITH d AS (
          SELECT doc_id, $toksDuck AS t FROM documents
        ), p AS (
          SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
          FROM d, unnest(range(1, len(t))) AS u(i)
        ), pc AS (
          SELECT doc_id, w1, w2, COUNT(*) AS cnt FROM p GROUP BY doc_id, w1, w2
        ), big AS (
          SELECT w1, w2, SUM(cnt) AS cb FROM pc GROUP BY w1, w2
        ), ctx AS (
          SELECT w1, SUM(cb) AS cw FROM big GROUP BY w1
        ), v AS (
          SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
          FROM (SELECT unnest($toksDuck) AS w FROM documents) z
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_pairs,
               round(SUM(cnt * (ln(CAST(cw + v AS DOUBLE)) - ln(CAST(cb + 1 AS DOUBLE)))) / SUM(cnt), 4) AS avg_nll,
               round(exp(SUM(cnt * (ln(CAST(cw + v AS DOUBLE)) - ln(CAST(cb + 1 AS DOUBLE)))) / SUM(cnt)), 4) AS ppl
        FROM pc JOIN big USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v
        GROUP BY doc_id
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        val d = Tables.documents(spark, dir)
          .withColumn("t", expr(TextAnalysis.tokensExpr))
          .filter(size(col("t")) >= 2) // sequence(1, 0) would step backward
        val pc = d
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("pr"))
          .select(col("doc_id"), col("pr.w1").as("w1"), col("pr.w2").as("w2"))
          .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))
        val big = pc.groupBy("w1", "w2").agg(sum(col("cnt")).as("cb"))
        val ctx = big.groupBy("w1").agg(sum(col("cb")).as("cw"))
        val v = Tables.documents(spark, dir)
          .select(explode(expr(TextAnalysis.tokensExpr)).as("w"))
          .agg(countDistinct(col("w")).as("v"))
        val nll = sum(col("cnt") *
          (log((col("cw") + col("v")).cast("double")) - log((col("cb") + 1).cast("double"))))
        graft.Tails.orderedSmall(
          pc.join(big, Seq("w1", "w2")).join(ctx, Seq("w1"))
            .crossJoin(broadcast(v))
            .groupBy("doc_id")
            .agg(
              sum(col("cnt")).cast("long").as("n_pairs"),
              round(nll / sum(col("cnt")), 4).as("avg_nll"),
              round(exp(nll / sum(col("cnt"))), 4).as("ppl")),
          col("doc_id"))
      }),

    QueryDef(
      "dedup_minhash_lsh",
      Some(s"""
        WITH $shinglesDuck,
        k AS (SELECT doc_id, ${Dedup.shingleKeyExprDuck} AS s FROM sh),
        sig AS (SELECT doc_id, $sigSelectDuck FROM k GROUP BY doc_id),
        bands AS ($bandsDuck),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b
        )
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.7
        ORDER BY doc_a, doc_b
      """.stripMargin.trim),
      (spark, dir) =>
        Dedup.minhashLshPairs(Tables.documents(spark, dir), n = 5, minJaccard = 0.7)
          .transform(graft.Tails.ordSmall("doc_a", "doc_b"))),

    // the PRODUCTION configuration of the same operator: banding SIZED
    // from the corpus size + recall target by Dedup.minhashConfigFor
    // (refuse-don't-truncate) instead of the pinned 4×4 the oracle above
    // states — at sf10 the sized config finds 0.984 of planted boundary
    // pairs vs the pinned one's 0.816 (tools/minhash_sizing_sf10_r12.json).
    // Determinism at a banding that CHANGES with corpus size needs pairs
    // whose recall is certain, not 0.95: at θ=0.995 every qualifying pair
    // is an exact duplicate (the corpus' max non-identical jaccard is
    // 0.9896 at sf0.1), and identical shingle sets give identical
    // signatures that collide in EVERY band — so the output equals the
    // exact all-pairs definition at any banding, and the oracle stays
    // banding-free. 200 planted exact dups (doc_id+1e9, text verbatim —
    // the dedup_embedding_strict twin pattern) make the result non-trivial
    // at every SF. Recall at the margin is measured by MinhashSizingSmoke,
    // not asserted here.
    QueryDef(
      "dedup_minhash_sized",
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000000 AS doc_id, text FROM documents WHERE doc_id < 200
        ), tok AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM corpus
        ), sh AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest(list_transform(toks, (x, i) ->
              CASE WHEN i + 4 <= len(toks)
                   THEN toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] END)) AS shingle
            FROM tok) t
          WHERE shingle IS NOT NULL
        ), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.995
        ORDER BY doc_a, doc_b
      """.stripMargin.trim),
      (spark, dir) => {
        val d = Tables.documents(spark, dir)
        val planted = d.filter(col("doc_id") < 200)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L))
        val corpus = d.unionByName(planted)
        // one bounded driver round-trip: production sizes the index from
        // the (known or counted) corpus size the same way. max(1,·):
        // an EMPTY corpus must yield an empty pair set, not a sizing
        // refusal (minhashConfigFor requires n > 0 — gauntlet finding)
        val nDocs = math.max(1L, corpus.count())
        Dedup.minhashLshPairsSized(corpus, nDocs, n = 5, minJaccard = 0.995,
            targetRecall = 0.999999)
          .transform(graft.Tails.ordSmall("doc_a", "doc_b"))
      }),

    QueryDef(
      "dedup_simhash",
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest($toksDuck) AS tok FROM documents
        ), tc AS (
          SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok
        ), h AS (
          SELECT doc_id, cnt, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tc
        ), w AS (
          SELECT doc_id, $simhashSumsDuck FROM h GROUP BY doc_id
        )
        SELECT doc_id, CAST($simhashValDuck AS BIGINT) AS simhash
        FROM w
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) =>
        Dedup.simhash(Tables.documents(spark, dir)).transform(graft.Tails.ordSmall("doc_id")))
  )
}
