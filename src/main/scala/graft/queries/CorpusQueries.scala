package graft.queries

import graft.{QueryDef, Tables}
import graft.textops.{Curate, Decontaminate, Dedup, TextAnalysis, Vocab}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web-corpus curation operators beyond the reference: benchmark
  * decontamination, duplicated-span statistics, URL parsing + domain
  * blocklist, Unicode NFC normalization (native `graft_nfc` expression),
  * character-entropy quality scoring.
  */
object CorpusQueries {

  private def shinglesDuck(n: Int): String = {
    val terms = (0 until n).map(j => if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")
    s"""tok AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(t) - ${n - 2}), i -> $terms)) AS shingle
            FROM tok) x
          WHERE shingle IS NOT NULL
        )"""
  }

  private def posShinglesDuck(n: Int): String = {
    val terms = (0 until n).map(j => if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")
    s"""tok AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
        ), pos AS (
          SELECT doc_id, i AS pos, $terms AS shingle
          FROM tok, unnest(range(1, len(t) - ${n - 2})) AS u(i)
          WHERE len(t) >= $n
        )"""
  }

  private val blockedHosts = Seq("src3.example.com", "src7.example.com", "src11.example.com")

  private val toksDuck = TextAnalysis.tokensExprDuck

  /** The frozen merge list for `bpe_encode_fixed` — ONE definition feeds
    * both `Vocab.fixedSeg` (engine) and `Vocab.segJoinedDuck` (oracle).
    * Chosen to exercise hierarchical merges ((t,h) then (th,e)) and the
    * repeat-adjacent greedy case ((e,e), (o,o): 'eee' → [ee, e]). */
  private val fixedMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "a" -> "n", "an" -> "d",
    "i" -> "n", "e" -> "r", "o" -> "n", "e" -> "e", "o" -> "o")

  /** DuckDB oracle for the FULL BPE trainer (`Vocab.bpeTrain`): `nMerges`
    * rounds unrolled into chained CTEs by this one Scala loop — the
    * `GraphQueries.massFlowOracle` idiom, never hand-retyped per round.
    *
    * Round state is the chr(31)-boundary-wrapped segmentation string of
    * `Vocab.segJoinedDuck` (symbol list [a,b] ⇒ ␟a␟␟b␟), under which one
    * greedy left-to-right `applyMerge` pass ≡ one non-overlapping
    * `replace` — including the 'aaa'→[aa,a] repeat-adjacent tiebreak.
    * Each round: split the state back into symbols, count adjacent pairs
    * weighted by word freq, take the argmax under the same
    * (cnt desc, pair asc) binary-collation order the engine uses, then
    * rewrite every word's state with that pair's replace. Symbols are
    * whitespace-split tokens so they can never contain the ' ' pair
    * separator or chr(31)/chr(30). When a round has no pairs left the
    * argmax CTE is empty: COALESCE substitutes the never-occurring
    * chr(30) pattern (replace no-ops) and the round contributes no output
    * row — exactly the trainer's early stop. The per-round state CTEs are
    * AS MATERIALIZED: DuckDB inlines multiply-referenced CTEs by default,
    * and seg16 inlined expands to 2^16 scans of `documents` (measured:
    * "Too many open files", not a slow query — an fd per scan). */
  private def bpeTrainCtesDuck(nMerges: Int): String = {
    val B = "chr(31)"
    val rounds = (1 to nMerges).map { i =>
      s"""syms$i AS (
         |  SELECT w, freq, string_split(trim(j, $B), $B || $B) AS sym FROM seg${i - 1}
         |), pairs$i AS (
         |  SELECT sym[CAST(u.i AS INT)] || ' ' || sym[CAST(u.i AS INT) + 1] AS pair, freq
         |  FROM syms$i, unnest(range(1, len(sym))) AS u(i)
         |), best$i AS MATERIALIZED (
         |  SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b,
         |         CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM pairs$i GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1
         |), seg$i AS MATERIALIZED (
         |  SELECT w, freq,
         |         replace(j,
         |                 COALESCE((SELECT $B || a || $B || $B || b || $B FROM best$i), chr(30)),
         |                 COALESCE((SELECT $B || a || b || $B FROM best$i), chr(30))) AS j
         |  FROM seg${i - 1}
         |)""".stripMargin
    }
    s"""words AS (
       |  SELECT unnest($toksDuck) AS w FROM documents
       |), freq AS (
       |  SELECT w, count(*) AS freq FROM words WHERE length(w) > 0 GROUP BY w
       |), seg0 AS MATERIALIZED (
       |  SELECT w, freq, $B || array_to_string(string_split(w, ''), $B || $B) || $B AS j
       |  FROM freq
       |),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private def bpeMergesOracle(nMerges: Int): String = {
    val out = (1 to nMerges).map(i =>
      s"""SELECT $i AS rank, a AS "left", b AS "right", cnt FROM best$i""")
    s"""WITH ${bpeTrainCtesDuck(nMerges)}
       |SELECT * FROM (
       |${out.mkString("\n", "\nUNION ALL\n", "\n")})
       |ORDER BY rank""".stripMargin
  }

  /** DuckDB oracle for the encode-with-TRAINED-merges path: the trainer
    * chain above yields seg`nMerges` (every corpus word's final
    * segmentation — the corpus trains the vocab, so the encode join can
    * never miss and the char-fallback branch provably never fires), and
    * the encode replays `bpe_encode_fixed`'s join + fingerprint over it.
    * The boundary-wrapped state converts to the space-joined form with
    * the same trim/replace as `Vocab.segJoinedDuck`'s final step. */
  private def bpeEncodeOracle(nMerges: Int): String = {
    val B = "chr(31)"
    s"""WITH ${bpeTrainCtesDuck(nMerges)},
       |segf AS (
       |  SELECT w, trim(replace(j, $B || $B, ' '), $B) AS sp FROM seg$nMerges
       |), tok AS (
       |  SELECT doc_id, $toksDuck AS t FROM documents
       |), toks AS (
       |  SELECT doc_id, u.i AS tpos, t[CAST(u.i AS INT)] AS w
       |  FROM tok, unnest(range(1, len(t) + 1)) AS u(i)
       |)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(len(string_split(sp, ' '))) AS BIGINT) AS n_subwords,
       |       md5(string_agg(sp, ' ' ORDER BY tpos)) AS subword_fp
       |FROM toks JOIN segf USING (w)
       |WHERE length(w) > 0
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  val entries: Seq[QueryDef] = Seq(
    // benchmark decontamination: every 10th doc is the held-out eval
    // shard; a training doc sharing any 8-gram with it is contaminated.
    // Candidates come from the shingle-key equi-join (work ∝ tokens +
    // matches, never |train|×|bench|)
    QueryDef(
      "decontaminate",
      Some(s"""
        WITH ${shinglesDuck(8)},
        bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 10 = 0),
        train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0)
        SELECT doc_id,
               CAST(count(DISTINCT shingle) AS BIGINT) AS n_shared,
               CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
        FROM train JOIN bench USING (shingle)
        GROUP BY doc_id
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        Decontaminate.contaminated(
            Tables.documents(spark, dir), isBench = col("doc_id") % 10 === 0, n = 8)
          .transform(graft.Tails.ordSmall("doc_id"))
      }),

    // the 100 TB shape of the same decontamination: a Bloom filter over
    // the (small) benchmark side's shingle hashes prefilters the training
    // scan BEFORE the shuffle; the exact confirm join removes the Bloom
    // false positives, so the result — and the oracle — is identical to
    // `decontaminate`
    QueryDef(
      "decontaminate_bloom",
      Some(s"""
        WITH ${shinglesDuck(8)},
        bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 10 = 0),
        train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0)
        SELECT doc_id,
               CAST(count(DISTINCT shingle) AS BIGINT) AS n_shared,
               CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
        FROM train JOIN bench USING (shingle)
        GROUP BY doc_id
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        Decontaminate.contaminatedBloom(
            Tables.documents(spark, dir), isBench = col("doc_id") % 10 === 0, n = 8)
          .transform(graft.Tails.ordSmall("doc_id"))
      }),

    // the INGEST-LOOP shape of decontamination, driver-checked through
    // the PERSISTED artifacts: the bench sketch + shingle table round-
    // trip through parquet (written fresh into a temp dir here — the
    // artifact flow IS what's under test), then the batch checks itself
    // against the store exactly like a streaming micro-batch. Same
    // result set — and oracle — as `decontaminate`: the prefilter and
    // the persistence must never change answers
    QueryDef(
      "decontaminate_incremental",
      Some(s"""
        WITH ${shinglesDuck(8)},
        bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 10 = 0),
        train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0)
        SELECT doc_id,
               CAST(count(DISTINCT shingle) AS BIGINT) AS n_shared,
               CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
        FROM train JOIN bench USING (shingle)
        GROUP BY doc_id
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val artDir = java.nio.file.Files
          .createTempDirectory("graft-decon-art").toString
        Decontaminate.writeBenchArtifacts(
          docs, isBench = col("doc_id") % 10 === 0, artDir, n = 8)
        Decontaminate.contaminatedIncremental(
            docs.filter(col("doc_id") % 10 =!= 0), artDir, n = 8)
          .transform(graft.Tails.ordSmall("doc_id"))
      }),

    // duplicated-span statistics (substring-dedup at the token-8-gram
    // grain): fraction of each doc's n-gram POSITIONS whose n-gram occurs
    // in ≥1 other doc. Document frequency is one groupBy on the n-gram;
    // the position join reuses the same shuffle key
    QueryDef(
      "dup_span_stats",
      Some(s"""
        WITH ${posShinglesDuck(8)},
        freq AS (SELECT shingle, count(DISTINCT doc_id) AS nd FROM pos GROUP BY shingle)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
               round(SUM(CAST(CASE WHEN nd > 1 THEN 1 ELSE 0 END AS BIGINT)) * 1.0 / count(*), 4) AS dup_frac
        FROM pos JOIN freq USING (shingle)
        GROUP BY doc_id
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        Decontaminate.dupSpanStats(Tables.documents(spark, dir), n = 8)
          .transform(graft.Tails.ordSmall("doc_id"))
      }),

    // duplicated-span SCRUBBING (substring-dedup removal): tokens covered
    // by an 8-gram whose first corpus occurrence is elsewhere are
    // dropped; the first occurrence survives. Exact-dup docs scrub to ''
    // while their canonical keeps its text
    QueryDef(
      "dedup_scrub_spans",
      Some(s"""
        WITH ${posShinglesDuck(8)},
        firstocc AS (SELECT shingle, min(doc_id * 1000000 + pos) AS fk FROM pos GROUP BY shingle),
        dupstart AS (
          SELECT p.doc_id, p.pos FROM pos p JOIN firstocc f ON p.shingle = f.shingle
          WHERE p.doc_id * 1000000 + p.pos <> f.fk
        ),
        toks AS (SELECT doc_id, u.i AS tpos, t[u.i] AS tok FROM tok, unnest(range(1, len(t) + 1)) AS u(i)),
        flagged AS (
          SELECT tk.doc_id, tk.tpos, tk.tok,
                 max(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END) OVER (
                   PARTITION BY tk.doc_id ORDER BY tk.tpos
                   ROWS BETWEEN ${8 - 1} PRECEDING AND CURRENT ROW) AS covered
          FROM toks tk LEFT JOIN dupstart d ON d.doc_id = tk.doc_id AND d.pos = tk.tpos
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (WHERE covered = 0) AS BIGINT) AS n_kept,
               md5(coalesce(string_agg(tok, ' ' ORDER BY tpos) FILTER (WHERE covered = 0), '')) AS scrubbed_fp
        FROM flagged
        GROUP BY doc_id
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        graft.Tails.orderedSmall(
          Decontaminate.scrubDupSpans(Tables.documents(spark, dir), n = 8),
          col("doc_id"))
      }),

    // BPE vocabulary induction, round 1: adjacent-character-pair counts
    // weighted by word frequency — the quantity the tokenizer trainer
    // maximizes. The corpus is touched once (the word-frequency agg);
    // the pair expansion runs on the compact vocab table
    QueryDef(
      "bpe_pair_counts",
      Some(s"""
        WITH words AS (
          SELECT unnest($toksDuck) AS w FROM documents
        ), freq AS (
          SELECT w, count(*) AS freq FROM words WHERE length(w) > 0 GROUP BY w
        ), pairs AS (
          SELECT substring(w, CAST(i AS INT), 1) || ' ' || substring(w, CAST(i AS INT) + 1, 1) AS pair,
                 freq
          FROM freq, unnest(range(1, length(w))) AS u(i)
        )
        SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
        FROM pairs
        GROUP BY pair
        ORDER BY cnt DESC, pair
        LIMIT 40
      """.stripMargin.trim),
      (spark, dir) => {
        Vocab.pairCounts(Vocab.segmentChars(Vocab.wordFreq(Tables.documents(spark, dir))))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(40)
      }),

    // exact heavy-hitter tokens (count×(k+1) > n) via the Misra-Gries
    // two-pass plan: an O(k)-state mergeable sketch yields the complete
    // candidate set without shuffling the vocabulary, then only the ≤ k
    // candidates are exact-counted behind an isin-pushed scan filter.
    // The sketch decides WHAT is counted, never the counts — output is
    // exact, deterministic, and oracled by the plain GROUP BY ... HAVING
    QueryDef(
      "heavy_hitter_tokens",
      Some(s"""
        WITH words AS (
          SELECT unnest($toksDuck) AS w FROM documents
        ), wf AS (
          SELECT w FROM words WHERE length(w) > 0
        ), t AS (
          SELECT count(*) AS n FROM wf
        )
        SELECT w AS item, CAST(count(*) AS BIGINT) AS cnt
        FROM wf, t
        GROUP BY w, n
        HAVING count(*) * 41 > n
        ORDER BY cnt DESC, item
      """.stripMargin.trim),
      (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .select(explode(expr(TextAnalysis.tokensExpr)).as("w"))
          .filter(length(col("w")) > 0)
        graft.operators.FreqItems.heavyHitters(toks, "w", k = 40)
          .orderBy(col("cnt").desc, col("item"))
      }),

    // the full iterative trainer: 16 merge rounds; each round is one
    // pair-count agg over the vocab + a one-row argmax + a segmentation
    // rewrite, lineage truncated per round. Driver-HARD since r9: the
    // oracle unrolls the 16 rounds into chained CTEs generated by one
    // Scala loop (the massFlowOracle idiom) — each round re-derives the
    // pair counts, takes the same (cnt desc, pair asc) argmax, and
    // applies the merge with segJoinedDuck's chr(31)-boundary replace,
    // so engine and oracle run the SAME greedy fixed point
    QueryDef(
      "bpe_merges",
      Some(bpeMergesOracle(16)),
      (spark, dir) => {
        import spark.implicits._
        val (merges, _) = Vocab.bpeTrain(Tables.documents(spark, dir), nMerges = 16)
        merges.toDF("rank", "left", "right", "cnt").orderBy("rank")
      }),

    // the ENCODE step of the trained tokenizer: corpus joins the compact
    // vocab segmentation (broadcast), OOV words fall back to chars.
    // Driver-HARD since r9: the oracle re-runs the trainer's unrolled
    // CTE chain to seg16 and replays the `bpe_encode_fixed` join +
    // fingerprint over it — counts AND the md5 subword stream of every
    // document must match the engine's trained encode
    QueryDef(
      "bpe_encode",
      Some(bpeEncodeOracle(16)),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val (_, seg) = Vocab.bpeTrain(docs, nMerges = 16)
        Vocab.encode(docs, seg).transform(graft.Tails.ordSmall("doc_id"))
      }),

    // the encode path with a FIXED published merge list — the common
    // production shape (train once offline, encode everywhere), and the
    // driver-HARD check for the BPE family: with the merges frozen, the
    // greedy left-to-right merge is exactly chained non-overlapping
    // string replace over a boundary-wrapped char segmentation (see
    // Vocab.segJoinedDuck for why plain spaces are NOT enough), so
    // DuckDB reproduces counts AND the md5 content fingerprint of every
    // document's subword stream. Exercises the full encode machinery:
    // hierarchical merges (t,h → th,e), repeat-adjacent greediness
    // (e,e / o,o), broadcast vocab join, char fallback
    QueryDef(
      "bpe_encode_fixed",
      Some(s"""
        WITH tok AS (
          SELECT doc_id, $toksDuck AS t FROM documents
        ), toks AS (
          SELECT doc_id, u.i AS tpos, t[u.i] AS w
          FROM tok, unnest(range(1, len(t) + 1)) AS u(i)
        ), seg AS (
          SELECT doc_id, tpos, ${Vocab.segJoinedDuck("w", fixedMerges)} AS j
          FROM toks WHERE length(w) > 0
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(len(string_split(j, ' '))) AS BIGINT) AS n_subwords,
               md5(string_agg(j, ' ' ORDER BY tpos)) AS subword_fp
        FROM seg
        GROUP BY doc_id
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        Vocab.encode(docs, Vocab.fixedSeg(docs, fixedMerges)).orderBy("doc_id")
      }),

    // tokenizer fertility report: subwords-per-word by language under the
    // frozen tokenizer — the standard tokenizer-evaluation metric a
    // multilingual pipeline tracks per release (high fertility for a
    // language = its text costs more tokens per word). Composes the
    // fixed-merge segmentation (broadcast vocab join, corpus touched
    // once); counts exact BIGINT, two round-4 ratios of exact counts
    QueryDef(
      "tokenizer_fertility",
      Some(s"""
        WITH tok AS (
          SELECT lang, $toksDuck AS t FROM documents
        ), toks AS (
          SELECT lang, t[CAST(u.i AS INT)] AS w
          FROM tok, unnest(range(1, len(t) + 1)) AS u(i)
        ), seg AS (
          SELECT lang, len(string_split(${Vocab.segJoinedDuck("w", fixedMerges)}, ' ')) AS ns
          FROM toks WHERE length(w) > 0
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(ns) AS BIGINT) AS n_subwords,
               round(CAST(sum(CAST(ns AS BIGINT)) AS DOUBLE) / count(*), 4) AS fertility,
               round(CAST(sum(CAST(CASE WHEN ns = 1 THEN 1 ELSE 0 END AS BIGINT)) AS DOUBLE) / count(*), 4) AS single_token_frac
        FROM seg
        GROUP BY lang
        ORDER BY lang
      """.stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val seg = Vocab.fixedSeg(docs, fixedMerges).select(col("w"), col("sym"))
        // INNER join, deliberately: the vocab is trained on this exact
        // word set so a miss is impossible, and the oracle has no OOV
        // branch — a left-join char fallback here would be dead code
        // that silently diverges from the oracle the day it fires
        docs.select(col("lang"), explode(expr(TextAnalysis.tokensExpr)).as("w"))
          .filter(length(col("w")) > 0)
          .join(broadcast(seg), Seq("w"))
          .withColumn("ns", size(col("sym")))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_words"),
            sum(col("ns")).cast("long").as("n_subwords"),
            round(sum(col("ns")).cast("double") / count(lit(1)), 4).as("fertility"),
            round(sum(when(col("ns") === 1, 1).otherwise(0)).cast("double") / count(lit(1)), 4)
              .as("single_token_frac"))
          .orderBy("lang")
      }),

    // per-source document cap — the curation step that bounds any one
    // domain's contribution to the training mix. Selection is by
    // deterministic hash rank (the shared md5 idiom), k kept per source
    // via the bounded-state TopKAggregator: O(k) state per group and no
    // full-group window sort — at 100 TB a hot domain would otherwise
    // serialize its whole partition through one sort
    QueryDef(
      "cap_per_source",
      Some(s"""
        WITH s AS (
          SELECT source, doc_id,
                 ${TextAnalysis.hashBucketSqlDuck("doc_id", 1000000000L)} AS hv
          FROM documents
        ), r AS (
          SELECT source, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv DESC, doc_id) AS rank
          FROM s
        )
        SELECT source, doc_id, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 5
        ORDER BY source, rank
      """.stripMargin.trim),
      (spark, dir) => {
        val scored = Tables.documents(spark, dir).select(
          col("source"), col("doc_id"),
          expr(TextAnalysis.hashBucketExpr("doc_id", 1000000000L)).as("hv"))
        graft.operators.TopKAggregator
          .topKPerStringKey(scored, "source", "hv", "doc_id", k = 5)
          .select(col("source"), col("doc_id"), col("rank"))
          .orderBy("source", "rank")
      }),

    // class-balanced downsampling — cap_per_source's sibling where the
    // cap is DATA-DEPENDENT: every class is cut to the size of the
    // rarest class (the balanced-dataset builder for classifier
    // training). Unlike cap_per_source's k=5, the cap here is
    // COMPARABLE TO THE CLASS SIZE, which flips the right plan: the
    // O(k)-state TopKAggregator degenerates (measured 73 s at sf0.1 —
    // every row churns a ~200k-element buffer), while the per-class
    // hash-rank window sort is one shuffle + sort (0.6 s). At corpus
    // scale the sort-free variant is an approx_percentile threshold on
    // hv per class + filter — kept out of the catalog because its kept-
    // set is approximate at the boundary, so it cannot hash-match
    QueryDef(
      "class_balance",
      Some(s"""
        WITH s AS (
          SELECT event_type, event_id,
                 ${TextAnalysis.hashBucketSqlDuck("event_id", 1000000000L)} AS hv
          FROM events
        ), m AS (
          SELECT CAST(min(n) AS BIGINT) AS m
          FROM (SELECT count(*) AS n FROM events GROUP BY event_type)
        ), r AS (
          SELECT event_type, event_id,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv DESC, event_id) AS rank
          FROM s
        )
        SELECT event_type, event_id, CAST(rank AS BIGINT) AS rank
        FROM r CROSS JOIN m WHERE rank <= m
        ORDER BY event_type, rank
      """.stripMargin.trim),
      (spark, dir) => {
        val scored = Tables.events(spark, dir).select(
          col("event_type"), col("event_id"),
          expr(TextAnalysis.hashBucketExpr("event_id", 1000000000L)).as("hv"))
        // empty input: min over zero groups is NULL — cap 0 keeps the
        // result empty instead of NPEing on getLong (gauntlet finding)
        val mRow = scored.groupBy("event_type").count()
          .agg(min(col("count"))).head()
        val m = if (mRow.isNullAt(0)) 0L else mRow.getLong(0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("hv").desc, col("event_id"))
        scored
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= m)
          .select(col("event_type"), col("event_id"), col("rank"))
          .orderBy("event_type", "rank")
      }),

    // URL parse + domain blocklist: synthesize a deterministic URL per
    // doc, extract host/path/query-param natively (parse_url — codegen'd
    // builtin), drop blocklisted domains via broadcast anti join. The
    // oracle states the same extraction as regexes
    QueryDef(
      "url_extract",
      Some(s"""
        WITH u AS (
          SELECT doc_id,
                 'https://' || source || '.example.com/' || lang || '/doc-' ||
                   doc_id || '?ref=r' || (doc_id % 7) AS url
          FROM documents
        ), p AS (
          SELECT doc_id,
                 regexp_extract(url, '^https://([^/?#]+)', 1) AS host,
                 regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1) AS path,
                 regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref
          FROM u)
        SELECT doc_id, host, path, ref
        FROM p
        WHERE host NOT IN (${blockedHosts.map(h => s"'$h'").mkString(", ")})
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        import spark.implicits._
        val url = concat(
          lit("https://"), col("source"), lit(".example.com/"), col("lang"),
          lit("/doc-"), col("doc_id").cast("string"),
          lit("?ref=r"), (col("doc_id") % 7).cast("string"))
        val parsed = Tables.documents(spark, dir)
          .select(
            col("doc_id"),
            parse_url(url, lit("HOST")).as("host"),
            parse_url(url, lit("PATH")).as("path"),
            parse_url(url, lit("QUERY"), lit("ref")).as("ref"))
        val blocklist = blockedHosts.toDF("host")
        parsed.join(broadcast(blocklist), Seq("host"), "left_anti")
          .select("doc_id", "host", "path", "ref")
          .orderBy("doc_id")
      }),

    // Unicode NFC normalization via the native graft_nfc expression: a
    // decomposed 'e'+U+0301 suffix is composed to é (U+00E9) — the
    // char count shrinks by one, the octet count by one; the oracle is
    // DuckDB's nfc_normalize
    QueryDef(
      "unicode_normalize",
      Some("""
        WITH r AS (
          SELECT doc_id, substr(text, 1, 8) || 'e' || chr(769) AS raw FROM documents
        )
        SELECT doc_id,
               CAST(length(raw) AS BIGINT) AS raw_chars,
               CAST(strlen(raw) AS BIGINT) AS raw_octets,
               nfc_normalize(raw) AS nfc,
               CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_chars,
               CAST(strlen(nfc_normalize(raw)) AS BIGINT) AS nfc_octets
        FROM r
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        Tables.documents(spark, dir)
          .select(col("doc_id"),
            // DECOMPOSED e + U+0301, matching the oracle's 'e' || chr(769);
            // a precomposed é would make NFC a no-op
            concat(substring(col("text"), 1, 8), lit("e\u0301")).as("raw"))
          .select(
            col("doc_id"),
            length(col("raw")).cast("long").as("raw_chars"),
            octet_length(col("raw")).cast("long").as("raw_octets"),
            expr("graft_nfc(raw)").as("nfc"),
            length(expr("graft_nfc(raw)")).cast("long").as("nfc_chars"),
            octet_length(expr("graft_nfc(raw)")).cast("long").as("nfc_octets"))
          .orderBy("doc_id")
      }),

    // character-entropy quality score: H = log2(n) − Σ c·log2(c) / n over
    // per-doc character frequencies — exact integer counts, one double
    // log-sum rounded to 4. Spark's split('') keeps a trailing zero-width
    // match that DuckDB's does not — both sides filter empties
    QueryDef(
      "char_entropy",
      Some("""
        WITH ch AS (
          SELECT doc_id, unnest(string_split_regex(text, '')) AS c FROM documents
        ), f AS (
          SELECT doc_id, c, count(*) AS cnt FROM ch WHERE c <> '' GROUP BY doc_id, c
        ), tot AS (
          SELECT doc_id, SUM(cnt) AS n, SUM(cnt * log2(cnt)) AS s FROM f GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_chars_total,
               round(log2(n) - s / n, 4) AS entropy
        FROM tot
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        Tables.documents(spark, dir)
          .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
          .filter(col("c") =!= "")
          .groupBy(col("doc_id"), col("c"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("doc_id"))
          .agg(sum(col("cnt")).as("n"), sum(col("cnt") * log2(col("cnt"))).as("s"))
          .select(
            col("doc_id"),
            col("n").cast("long").as("n_chars_total"),
            round(log2(col("n")) - col("s") / col("n"), 4).as("entropy"))
          .orderBy("doc_id")
      }),

    // α-temperature language resampling (the XLM/mT5 multilingual
    // mixture op, α = 0.3): per-language keep probability ∝ share^(α−1),
    // normalized so the rarest language keeps everything — head
    // languages are downsampled toward the flattened distribution. The
    // keep decision is the DETERMINISTIC content-hash threshold every
    // sampler here uses (retry-safe, engine-reproducible); the one
    // cross-engine float is pow(), whose ≤1-ulp spread cannot flip a
    // uniform 10⁶-bucket threshold in practice — but the threshold
    // itself is floored explicitly (cast-to-integer ROUNDS in DuckDB
    // and TRUNCATES in Spark).
    QueryDef(
      "mixture_temperature_sample",
      Some(s"""
        WITH c AS (
          SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
        ), t AS (
          SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c
        ), w AS (
          SELECT lang, power(n / total, -0.7) AS raw FROM c CROSS JOIN t
        ), mx AS (
          SELECT MAX(raw) AS m FROM w
        ), q AS (
          SELECT lang, raw / m AS keep_p FROM w CROSS JOIN mx
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN q USING (lang)
        WHERE ${TextAnalysis.hashBucketSqlDuck("d.doc_id", 1000000)}
              < CAST(floor(keep_p * 1000000) AS BIGINT)
        ORDER BY d.doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val c = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val t = c.agg(sum(col("n")).cast("double").as("total"))
        val w = c.crossJoin(broadcast(t))
          .select(col("lang"), pow(col("n") / col("total"), lit(-0.7)).as("raw"))
        val mx = w.agg(max(col("raw")).as("m"))
        val q = w.crossJoin(broadcast(mx))
          .select(col("lang"), (col("raw") / col("m")).as("keep_p"))
        docs.join(broadcast(q), Seq("lang"))
          // floor() EXPLICITLY on both sides: Spark's cast-to-long
          // truncates but DuckDB's CAST rounds half-away-from-zero — an
          // unfloored threshold differs by one bucket whenever
          // frac(keep_p·10⁶) ≥ 0.5, a latent boundary mismatch
          .filter(expr(TextAnalysis.hashBucketExpr("doc_id", 1000000))
            < floor(col("keep_p") * 1000000).cast("long"))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      }),

    // token-budget sampling (data-mixture construction): per language,
    // take the highest-quality docs until a token budget fills — a
    // weighted sampling without replacement (Efraimidis–Spirakis):
    // key = ln(u)/w with u a deterministic md5-derived uniform and
    // w = token count; the top-k by key IS a w-proportional sample
    // drawn without replacement. One TakeOrderedAndProject — no global
    // sort, no per-partition reservoir bookkeeping. Keys are macroscopic
    // doubles (u, w differ across docs), so last-ulp ln() divergence
    // cannot reorder them — same argument as the zscore filter boundary
    QueryDef(
      "weighted_sample",
      Some(s"""
        WITH s AS (
          SELECT doc_id,
                 CAST(len($toksDuck) AS BIGINT) AS w,
                 (${TextAnalysis.hashBucketSqlDuck("doc_id", 1000000000L)} + 1) / 1000000000.0 AS u
          FROM documents
        )
        SELECT doc_id, w, round(ln(u) / w, 6) AS key
        FROM s WHERE w > 0
        ORDER BY ln(u) / w DESC, doc_id
        LIMIT 100
      """.stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir).select(
          col("doc_id"),
          size(expr(TextAnalysis.tokensExpr)).cast("long").as("w"),
          ((expr(TextAnalysis.hashBucketExpr("doc_id", 1000000000L)) + 1) / 1000000000.0).as("u"))
        docs.filter(col("w") > 0)
          .select(col("doc_id"), col("w"), (log(col("u")) / col("w")).as("_key"))
          .orderBy(col("_key").desc, col("doc_id"))
          .limit(100)
          .select(col("doc_id"), col("w"), round(col("_key"), 6).as("key"))
      }),

    // per-dimension embedding standardization stats — the scaler table a
    // feature pipeline broadcasts to z-score an embedding column. One
    // posexplode + one 64-group agg; the applying transform is an
    // elementwise map against these 64 broadcast rows. Tall per-value
    // output is deliberately avoided: 128k round(4)-boundary doubles is
    // a cross-engine tie minefield; the stats table is the operator.
    // Moments are EXACT (r14 whitelist conversion): the raw float32 has
    // no decimal grid, so each value is quantized at 1e-8 (below
    // float32's own resolution at this magnitude; one deterministic
    // round of an identical double per row), then summed as exact
    // integers — int128 HUGEINT in DuckDB, DECIMAL(38,0) in Spark,
    // headroom to n ≈ 1e21 values per dim for the sum of squares — and
    // mu/sd are one trailing float expression over identical operands.
    QueryDef(
      "embedding_dim_stats",
      Some("""
        WITH e AS (
          SELECT u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
          FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
        ), q AS (
          SELECT dim, v, CAST(round(v * 100000000e0) AS BIGINT) AS vq FROM e
        ), s AS (
          SELECT dim,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(vq AS HUGEINT)) AS DOUBLE) AS s1,
                 CAST(SUM(CAST(vq AS HUGEINT) * vq) AS DOUBLE) AS s2,
                 round(min(v), 4) AS vmin,
                 round(max(v), 4) AS vmax
          FROM q GROUP BY dim
        )
        SELECT dim, n,
               round(s1 / 100000000e0 / n, 4) AS mu,
               round(sqrt(greatest((s2 / 10000000000000000e0 - (s1 / 100000000e0) * (s1 / 100000000e0) / n) / (n - 1), 0e0)), 4) AS sd,
               vmin, vmax
        FROM s
        ORDER BY dim
      """.stripMargin.trim),
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val e = Tables.embeddings(spark, dir)
          .select(posexplode(col("embedding")).as(Seq("dim", "v0")))
          .select(col("dim").cast("long").as("dim"), col("v0").cast("double").as("v"))
          .withColumn("vq", round(col("v") * 100000000L).cast("long"))
        val s = e.groupBy("dim")
          .agg(
            count(lit(1)).as("n"),
            sum(col("vq").cast(DecimalType(38, 0))).cast("double").as("s1"),
            sum(col("vq").cast(DecimalType(38, 0)) * col("vq")).cast("double").as("s2"),
            round(min(col("v")), 4).as("vmin"),
            round(max(col("v")), 4).as("vmax"))
        s.select(col("dim"), col("n"),
            round(col("s1") / 100000000.0 / col("n"), 4).as("mu"),
            round(sqrt(greatest(
              (col("s2") / 10000000000000000.0
                - (col("s1") / 100000000.0) * (col("s1") / 100000000.0) / col("n"))
                / (col("n") - 1),
              lit(0.0))), 4).as("sd"),
            col("vmin"), col("vmax"))
          .orderBy("dim")
      }),

    // int8 scalar quantization of the embedding store — the 4×
    // compression serving stacks apply before ANN (PQ's scalar cousin).
    // Per-dim min/max bounds from ONE posexplode pass, broadcast back
    // (64 rows) for the code assignment; codes are exact integers so
    // SUM(code) is an order-independent hash-strength check, and the
    // reconstruction error ships as avg ppm. round()-then-cast keeps the
    // code integral in double space before the cast, sidestepping the
    // trunc-vs-round cast asymmetry between engines.
    QueryDef(
      "embedding_quantize_int8",
      Some("""
        WITH e AS (
          SELECT vec_id, u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
          FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
        ), b AS (
          SELECT dim, min(v) AS lo, max(v) AS hi FROM e GROUP BY dim
        ), q AS (
          SELECT e.dim, e.v, b.lo, b.hi,
                 CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
                      ELSE CAST(round((e.v - b.lo) * 255.0 / (b.hi - b.lo), 0) AS BIGINT) END AS code
          FROM e JOIN b ON e.dim = b.dim
        ), r AS (
          SELECT dim, lo, hi, code,
                 v - (lo + code * (hi - lo) / 255.0) AS err
          FROM q
        ), x AS (
          SELECT dim, lo, hi, code,
                 CAST(round(err * err * 1000000000000000000e0) AS BIGINT) AS e2q
          FROM r
        )
        SELECT dim,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(code) AS BIGINT) AS code_sum,
               round(lo, 4) AS lo_r,
               round(hi, 4) AS hi_r,
               round(CAST(SUM(CAST(e2q AS HUGEINT)) AS DOUBLE) / 1000000000000e0 / count(*), 4) AS mse_ppm
        FROM x
        GROUP BY dim, lo, hi
        ORDER BY dim
      """.stripMargin.trim),
      (spark, dir) => {
        val e = Tables.embeddings(spark, dir)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "v0")))
          .select(col("vec_id"), col("dim0").cast("long").as("dim"),
            col("v0").cast("double").as("v"))
        val b = e.groupBy("dim").agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
        val q = e.join(broadcast(b), Seq("dim"))
          .withColumn("code",
            when(col("hi") === col("lo"), lit(0L))
              .otherwise(round((col("v") - col("lo")) * 255.0 / (col("hi") - col("lo")), 0)
                .cast("long")))
        val r = q.withColumn("err",
          col("v") - (col("lo") + col("code") * (col("hi") - col("lo")) / 255.0))
        // exact mse (r14 whitelist conversion): err is an identical
        // double per row in both engines (built from stored floats and
        // exact min/max/round selections), so round(err²·1e18) is one
        // deterministic quantization; the sum is exact int128/DECIMAL
        val x = r.withColumn("e2q",
          round(col("err") * col("err") * 1000000000000000000L).cast("long"))
        graft.Tails.orderedSmall(
          x.groupBy("dim", "lo", "hi")
            .agg(
              count(lit(1)).as("n"),
              sum(col("code")).as("code_sum"),
              round(col("lo"), 4).as("lo_r"),
              round(col("hi"), 4).as("hi_r"),
              round(sum(col("e2q").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
                .cast("double") / 1000000000000.0 / count(lit(1)), 4).as("mse_ppm"))
            .select("dim", "n", "code_sum", "lo_r", "hi_r", "mse_ppm"),
          col("dim"))
      }),

    // cumulative-sum window over a deterministic total order (quality
    // desc, doc_id). quality_score doubles are bit-identical across
    // engines (text_quality hash-passes), so the order and the cut
    // agree exactly
    QueryDef(
      "token_budget_sample",
      Some(s"""
        WITH d AS (
          SELECT doc_id, lang, text, $toksDuck AS toks FROM documents
        ), r AS (
          SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
                 ${TextAnalysis.qualityScoreSqlDuck} AS q
          FROM d
        ), c AS (
          SELECT doc_id, lang, n_tokens,
                 CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY q DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
          FROM r
        )
        SELECT lang, doc_id, n_tokens, cum_tokens FROM c
        WHERE cum_tokens <= 3000
        ORDER BY lang, cum_tokens
      """.stripMargin.trim),
      (spark, dir) => {
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("quality_score").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        TextAnalysis.withQuality(Tables.documents(spark, dir))
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("long"))
          .filter(col("cum_tokens") <= 3000)
          .select("lang", "doc_id", "n_tokens", "cum_tokens")
          .orderBy("lang", "cum_tokens")
      }),

    // incremental MinHash-LSH dedup: a new batch (doc_id ≥ 250) checked
    // against the already-ingested corpus (doc_id < 250) — candidates
    // are NEW × STORE band collisions only; new-new and store-store
    // pairs are never enumerated. In production the store side reads a
    // persisted signature table written at ingest
    QueryDef(
      "dedup_incremental",
      Some(s"""
        WITH ${shinglesDuck(5)},
        k AS (SELECT doc_id, ${Dedup.shingleKeyExprDuck} AS s FROM sh),
        sig AS (SELECT doc_id, ${Dedup.sigSelectSqlDuck} FROM k GROUP BY doc_id),
        bands AS (${Dedup.bandsSqlDuck}),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_new, y.doc_id AS doc_store
          FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
          WHERE x.doc_id >= 250 AND y.doc_id < 250
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_new, c.doc_store, COUNT(*) AS n_common
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_new
          JOIN sh b ON b.doc_id = c.doc_store AND b.shingle = a.shingle
          GROUP BY c.doc_new, c.doc_store
        )
        SELECT doc_new, doc_store,
               CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_new
        JOIN sizes sb ON sb.doc_id = doc_store
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.7
        ORDER BY doc_new, doc_store
      """.stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        Dedup.incrementalLshPairs(
            newDocs = docs.filter(col("doc_id") >= 250),
            store = docs.filter(col("doc_id") < 250),
            n = 5, minJaccard = 0.7)
          .transform(graft.Tails.ordSmall("doc_new", "doc_store"))
      }),

    // incremental dedup against the PERSISTED signature table: the store
    // side is (doc_id, mh0..mh15) only — candidates AND verify touch
    // signatures, never store text/shingles, so a crawl batch checks a
    // 100 TB store at signature-table cost. Verify = MinHash Jaccard
    // estimate (fraction of agreeing components, a multiple of 1/16 —
    // exact in double). The inline `sigStore` below IS the persisted
    // table's content; DedupSpec proves parquet round-trip identity
    QueryDef(
      "dedup_incremental_sig",
      Some(s"""
        WITH ${shinglesDuck(5)},
        k AS (SELECT doc_id, ${Dedup.shingleKeyExprDuck} AS s FROM sh),
        sig AS (SELECT doc_id, ${Dedup.sigSelectSqlDuck} FROM k GROUP BY doc_id),
        bands AS (${Dedup.bandsSqlDuck}),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_new, y.doc_id AS doc_store
          FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
          WHERE x.doc_id >= 250 AND y.doc_id < 250
        ),
        est AS (
          SELECT c.doc_new, c.doc_store,
                 ${Dedup.sigMatchEstSqlDuck("a", "b")} AS est_jaccard
          FROM cand c
          JOIN sig a ON a.doc_id = c.doc_new
          JOIN sig b ON b.doc_id = c.doc_store
        )
        SELECT doc_new, doc_store, est_jaccard FROM est
        WHERE est_jaccard >= 0.7
        ORDER BY doc_new, doc_store
      """.stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val sigStore = Dedup.minhashSignatures(docs.filter(col("doc_id") < 250), n = 5)
        Dedup.incrementalSigPairs(
            newDocs = docs.filter(col("doc_id") >= 250),
            storeSignatures = sigStore,
            n = 5, minEstJaccard = 0.7)
          .transform(graft.Tails.ordSmall("doc_new", "doc_store"))
      }),

    // TF-IDF keyword search: the inverted-index shape — tokens filtered
    // to the query terms BEFORE any shuffle (work ∝ term hits, not
    // corpus), document frequencies broadcast, corpus size attached as a
    // 1-row broadcast (sanctioned constant-side BNLJ, like
    // group_max_next_id), top-20 via TakeOrderedAndProject
    QueryDef(
      "tfidf_search",
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest($toksDuck) AS tok FROM documents
        ), hits AS (
          SELECT doc_id, tok FROM tok WHERE tok IN ('data', 'spark', 'query')
        ), tf AS (
          SELECT doc_id, tok, COUNT(*) AS tf FROM hits GROUP BY doc_id, tok
        ), df AS (
          SELECT tok, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY tok
        ), n AS (
          SELECT COUNT(*) AS n_docs FROM documents
        ), scored AS (
          SELECT doc_id, round(SUM(tf * ln((n_docs + 1.0) / (df + 1.0))), 4) AS score
          FROM tf JOIN df USING (tok) CROSS JOIN n
          GROUP BY doc_id
        )
        SELECT doc_id, score
        FROM scored
        ORDER BY score DESC, doc_id
        LIMIT 20
      """.stripMargin.trim),
      (spark, dir) => {
        val terms = Seq("data", "spark", "query")
        val docs = Tables.documents(spark, dir)
        val hits = docs
          .select(col("doc_id"), explode(expr(TextAnalysis.tokensExpr)).as("tok"))
          .filter(col("tok").isin(terms: _*))
        val tf = hits.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = hits.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        // ORDER on the ROUNDED score: near-duplicate docs produce
        // last-ulp-different raw sums whose relative order can flip
        // between engines (caught at sf0.001 — docs 16/369 are near-dups
        // with a 3e-16 score gap); rounding first makes them true ties,
        // broken by doc_id identically everywhere
        tf.join(broadcast(dfreq), Seq("tok"))
          .crossJoin(broadcast(n))
          .withColumn("w", col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
          .groupBy("doc_id").agg(round(sum(col("w")), 4).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
          .select("doc_id", "score")
      }),

    // BM25 keyword search — the production ranking function TF-IDF
    // approximates: same inverted-index shape (hits filtered before any
    // shuffle, df + corpus stats broadcast) plus the doc-length
    // normalization that stops long documents from winning on raw term
    // count. k1=1.2, b=0.75 (the standard Robertson parameters); idf is
    // the Lucene form ln(1 + (N-df+0.5)/(df+0.5)), positive for any df.
    // avgdl is an exact BIGINT token-count sum over the corpus divided
    // once — not a float avg() whose partial-sum order could drift.
    // Scores sum ≤3 per-term doubles → round(4) then ORDER BY the
    // ROUNDED score (same near-dup tie guard as tfidf_search)
    QueryDef(
      "bm25_search",
      Some(s"""
        WITH tok AS (
          SELECT doc_id, $toksDuck AS toks FROM documents
        ), dl AS (
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok
        ), hits AS (
          SELECT doc_id, unnest(toks) AS t FROM tok
        ), tf AS (
          SELECT doc_id, t, COUNT(*) AS tf FROM hits
          WHERE t IN ('data', 'spark', 'query') GROUP BY doc_id, t
        ), df AS (
          SELECT t, COUNT(DISTINCT doc_id) AS df FROM hits
          WHERE t IN ('data', 'spark', 'query') GROUP BY t
        ), stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
          FROM dl
        ), scored AS (
          SELECT tf.doc_id,
                 round(SUM(
                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                   (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
                 ), 4) AS score
          FROM tf JOIN df USING (t) JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )
        SELECT doc_id, score FROM scored
        ORDER BY score DESC, doc_id
        LIMIT 20
      """.stripMargin.trim),
      (spark, dir) => {
        val terms = Seq("data", "spark", "query")
        val toks = Tables.documents(spark, dir)
          .select(col("doc_id"), expr(TextAnalysis.tokensExpr).as("toks"))
        val dl = toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        val hits = toks.select(col("doc_id"), explode(col("toks")).as("t"))
          .filter(col("t").isin(terms: _*))
        val tf = hits.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
        val dfreq = hits.groupBy("t").agg(countDistinct(col("doc_id")).as("df"))
        val stats = dl.agg(count(lit(1)).cast("long").as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        val w = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
        tf.join(broadcast(dfreq), Seq("t"))
          .join(dl, Seq("doc_id"))
          .crossJoin(broadcast(stats))
          .withColumn("w", w)
          .groupBy("doc_id").agg(round(sum(col("w")), 4).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
          .select("doc_id", "score")
      }),

    // the whole curation pipeline as ONE DAG (the LLM analog of
    // etl_pipeline): quality gate → eval-shard removal → exact dedup
    // (keep-min doc id) → 8-gram decontamination → content-hash split
    QueryDef(
      "curate_pipeline",
      Some(s"""
        WITH d0 AS (
          SELECT doc_id, lang, text, $toksDuck AS toks FROM documents
        ), scored AS (
          SELECT doc_id, text, toks,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 ${TextAnalysis.qualityScoreSqlDuck} AS quality_score,
                 ${TextAnalysis.langScoresSqlDuck}
          FROM d0
        ), kept AS (
          SELECT * FROM scored WHERE quality_score >= 0.535 AND doc_id % 10 <> 0
        ), ded AS (
          SELECT *, row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
          FROM kept
        ), ${shinglesDuck(8)},
        cont AS (
          SELECT DISTINCT t.doc_id
          FROM (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0) t
          JOIN (SELECT shingle FROM sh WHERE doc_id % 10 = 0) b USING (shingle)
        )
        SELECT doc_id,
               ${TextAnalysis.langBestSqlDuck} AS predicted_lang,
               n_tokens, quality_score,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'validation'
                    ELSE 'test' END AS split
        FROM (
          SELECT *, ${TextAnalysis.hashBucketSqlDuck("doc_id", 100)} AS bucket
          FROM ded
          WHERE rn = 1 AND doc_id NOT IN (SELECT doc_id FROM cont)) z
        ORDER BY doc_id
      """.stripMargin.trim),
      (spark, dir) => {
        Curate.curate(
            Tables.documents(spark, dir),
            isBench = col("doc_id") % 10 === 0,
            qualityMin = 0.535, n = 8)
          .transform(graft.Tails.ordSmall("doc_id"))
      })
  )
}
