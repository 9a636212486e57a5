package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Benchmark decontamination and duplicated-span statistics for a
  * training corpus — the n-gram-overlap family of operators (GPT-3 §C /
  * Llama-style decontamination; Lee et al. substring-dedup flavor,
  * approximated at the token-n-gram grain).
  *
  * Both operators share the scale shape of the Dedup family: candidates
  * come from an equi-join on the content-derived n-gram key, so work is
  * ∝ corpus tokens + shared-n-gram matches, never |train| × |bench|.
  * Skew note for 100 TB: ultra-frequent boilerplate n-grams make hot
  * join keys; production runs should drop n-grams above a document-
  * frequency cap (they carry no contamination signal) — the operators
  * take the cap as a parameter.
  */
object Decontaminate {

  /** (doc_id, pos, shingle): POSITIONAL word n-grams — unlike
    * `Dedup.shingles` these are not distinct-ed, because span statistics
    * weight by occurrence position.
    */
  def positionalShingles(documents: DataFrame, n: Int): DataFrame =
    documents
      .withColumn("toks", expr(TextAnalysis.tokensExpr))
      // NOT sequence(1, greatest(len-n+1, 0)): Spark's sequence(1, 0) is
      // the DESCENDING [1, 0], whose pos=0 would index element_at at 0.
      // Docs shorter than n tokens must produce zero spans.
      .withColumn("pos", explode(expr(
        s"CASE WHEN size(toks) >= $n THEN sequence(1, size(toks) - ${n - 1}) ELSE array() END")))
      .withColumn("shingle", expr(
        s"concat_ws(' ', ${(0 until n).map(j => s"element_at(toks, pos + $j)").mkString(", ")})"))
      .select(col("doc_id"), col("pos"), col("shingle"))

  /** Training documents sharing at least one word n-gram with the
    * benchmark (eval) set. `isBench` partitions `documents` into the two
    * sides; returns one row per contaminated TRAINING doc with the count
    * of distinct shared n-grams and of distinct benchmark docs hit.
    *
    * `maxDocFreq`: n-grams occurring in more than this many benchmark
    * docs are dropped as boilerplate (0 = keep all; testdata uses 0 so
    * the oracle stays a plain join).
    */
  def contaminated(documents: DataFrame, isBench: Column,
                   n: Int = 8, maxDocFreq: Long = 0L): DataFrame = {
    val bench0 = Dedup.shingles(documents.filter(isBench), n)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    val bench =
      if (maxDocFreq <= 0L) bench0
      else {
        val keep = bench0.groupBy("shingle")
          .agg(count(lit(1)).as("_df")).filter(col("_df") <= maxDocFreq)
          .select("shingle")
        bench0.join(keep, Seq("shingle"))
      }
    val train = Dedup.shingles(documents.filter(!isBench), n)
    train.join(bench, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("shingle")).as("n_shared"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** `contaminated` with a Bloom-filter prefilter on the training side —
    * the 100 TB shape of the decontamination join. The benchmark set is
    * small (contest/eval suites: thousands of docs); the training corpus
    * is the 100 TB side. `contaminated` shuffles EVERY training shingle
    * into the equi-join, even though almost none share an n-gram with the
    * benchmark. Here a Bloom filter over `xxhash64(shingle)` of the bench
    * side is built in one distributed pass (`stat.bloomFilter` tree-merges
    * per-partition sketches), shipped to every corpus task as a literal,
    * and applied BEFORE the shuffle — the same plan shape Spark's own
    * runtime row-level filtering injects, but explicit, so it also fires
    * when AQE's heuristics would not. Only might-contain survivors (true
    * matches + fpp false positives) reach the exact confirm join, which
    * removes the false positives; Bloom filters have no false negatives,
    * so the result is EXACT — same oracle as `contaminated`.
    *
    * Sizing: the sketch is ~1.2 bytes/item at fpp=0.03; a 10M-shingle
    * benchmark ships ~12 MB per task closure. `fpp` trades closure size
    * against wasted shuffle of false positives — at 100 TB even fpp=0.1
    * drops ~90% of the corpus-side shuffle.
    */
  def contaminatedBloom(documents: DataFrame, isBench: Column,
                        n: Int = 8, fpp: Double = 0.03): DataFrame = {
    val bench = Dedup.shingles(documents.filter(isBench), n)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    // two cheap passes over the SMALL side: row count for sizing (an
    // overcount of distinct shingles — conservative, lowers effective
    // fpp), then the sketch build (empty-safe: see SafeBloom)
    val bytes = graft.operators.SafeBloom.serialized(
      bench.select(xxhash64(col("shingle")).as("_h")), "_h", fpp, bench.count())
    val train = Dedup.shingles(documents.filter(!isBench), n)
      .filter(call_function("graft_might_contain", lit(bytes), xxhash64(col("shingle"))))
    train.join(bench, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("shingle")).as("n_shared"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Persisted benchmark sketch — the artifact flow for
    * `contaminatedBloom` at daily-ops cadence: the benchmark set changes
    * rarely, so the sketch is built once and every ingest batch reads it
    * instead of re-shingling the bench side. Stored as one binary row
    * plus a self-describing spec (same contract as the signature store):
    * applying a sketch built at a different n-gram grain or hash would
    * silently pass everything — reject it loudly instead.
    */
  def bloomSpec(n: Int, fpp: Double): String = s"v1:bloom:n$n:xxh64:fpp$fpp"

  def writeBenchBloom(documents: DataFrame, isBench: Column, path: String,
                      n: Int = 8, fpp: Double = 0.03): Unit = {
    val spark = documents.sparkSession
    import spark.implicits._
    val bench = Dedup.shingles(documents.filter(isBench), n)
    val bytes = graft.operators.SafeBloom.serialized(
      bench.select(xxhash64(col("shingle")).as("_h")), "_h", fpp, bench.count())
    Seq((bloomSpec(n, fpp), bytes))
      .toDF("bloom_spec", "sketch")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The stored sketch as a might-contain prefilter Column over a
    * shingle column, validating the spec. */
  def readBenchBloomFilter(spark: org.apache.spark.sql.SparkSession, path: String,
                           shingle: Column, n: Int = 8, fpp: Double = 0.03): Column = {
    val row = spark.read.parquet(path)
    require(row.columns.contains("bloom_spec"),
      s"$path has no bloom_spec column — not a writeBenchBloom artifact")
    val r = row.select("bloom_spec", "sketch").head()
    require(r.getString(0) == bloomSpec(n, fpp),
      s"bloom scheme mismatch: artifact is ${r.getString(0)}, caller requested ${bloomSpec(n, fpp)}")
    call_function("graft_might_contain",
      lit(r.getAs[Array[Byte]](1)), xxhash64(shingle))
  }

  /** Both benchmark artifacts the INGEST LOOP needs, persisted once when
    * the eval suite changes: `<dir>/bloom` (the prefilter sketch) and
    * `<dir>/shingles` (the exact-confirm side, (bench_id, shingle)).
    * Every micro-batch then decontaminates via `contaminatedIncremental`
    * without ever re-reading or re-shingling the benchmark documents.
    */
  def writeBenchArtifacts(documents: DataFrame, isBench: Column, dir: String,
                          n: Int = 8, fpp: Double = 0.03): Unit = {
    writeBenchBloom(documents, isBench, s"$dir/bloom", n, fpp)
    Dedup.shingles(documents.filter(isBench), n)
      .select(col("doc_id").as("bench_id"), col("shingle"))
      .write.mode("overwrite").parquet(s"$dir/shingles")
  }

  /** Per-micro-batch decontamination against the persisted artifacts —
    * the `contaminatedBloom` plan shape with both bench-side passes
    * amortized away: the stored sketch prefilters the batch's shingles
    * BELOW the shuffle (the spec-validated might-contain column), and
    * only survivors join the stored bench shingle table for the exact
    * confirm. Result rows are identical to `contaminated` restricted to
    * `batch` — Bloom false positives die in the join, false negatives
    * don't exist. Per-batch cost is ∝ batch tokens + true matches,
    * independent of both corpus history and bench size.
    */
  def contaminatedIncremental(batch: DataFrame, dir: String,
                              n: Int = 8, fpp: Double = 0.03): DataFrame = {
    val spark = batch.sparkSession
    val bench = spark.read.parquet(s"$dir/shingles")
    val train = Dedup.shingles(batch, n)
      .filter(readBenchBloomFilter(spark, s"$dir/bloom", col("shingle"), n, fpp))
    train.join(bench, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("shingle")).as("n_shared"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Exact duplicated-span SCRUBBING (the substring-dedup REMOVAL step,
    * at the token-n-gram grain): every token covered by an n-gram whose
    * first corpus occurrence is elsewhere is dropped; the first
    * occurrence survives intact. Exact-duplicate documents therefore
    * scrub to empty (their every span is a repeat of the first copy) —
    * the canonical keeps its text.
    *
    * Scale shape: first occurrences are ONE partial-agg-friendly
    * min-aggregate per n-gram (NOT a per-n-gram row_number window — a
    * hot boilerplate n-gram would serialize into one sort partition),
    * then a join back on the n-gram key and one per-doc window for span
    * coverage. (doc_id, pos) packs into a single int64 min-key —
    * requires pos < 10^6, i.e. docs under a million tokens.
    * Returns (doc_id, n_tokens, n_kept, scrubbed_fp) where scrubbed_fp
    * fingerprints the scrubbed text ('' when everything was scrubbed).
    */
  def scrubDupSpans(documents: DataFrame, n: Int = 8): DataFrame = {
    // shared across firstOcc + the dup-start probe (r17, the Dedup
    // checkpoint discipline): one tokenize+shingle pass instead of two
    val pos = graft.operators.Checkpoints.truncateSession(positionalShingles(documents, n))
    val firstOcc = pos.groupBy(col("shingle"))
      .agg(min(col("doc_id") * 1000000L + col("pos")).as("_fk"))
    val dupStarts = pos.join(firstOcc, Seq("shingle"))
      .filter(col("doc_id") * 1000000L + col("pos") =!= col("_fk"))
      .select(col("doc_id"), col("pos").as("tpos"), lit(1).as("_d"))
    val toks = documents
      .withColumn("toks", expr(TextAnalysis.tokensExpr))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("_p0", "tok")))
      .withColumn("tpos", col("_p0") + 1)
    val wCover = Window.partitionBy(col("doc_id")).orderBy(col("tpos"))
      .rowsBetween(-(n - 1), Window.currentRow)
    toks.join(dupStarts, Seq("doc_id", "tpos"), "left")
      .withColumn("covered", max(coalesce(col("_d"), lit(0))).over(wCover))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("covered") === 0, 1L).otherwise(0L)).as("n_kept"),
        md5(expr(
          """array_join(
               transform(
                 filter(array_sort(collect_list(struct(tpos, covered, tok))),
                        s -> s.covered = 0),
                 s -> s.tok), ' ')""")).as("scrubbed_fp"))
  }

  /** Per-document duplicated-span statistics: the fraction of a doc's
    * n-gram positions whose n-gram also occurs in at least one OTHER
    * document. The corpus-wide document frequency is one groupBy on the
    * n-gram; the join back to positions re-uses the same shuffle key.
    * Documents shorter than n tokens have no spans and are absent.
    */
  def dupSpanStats(documents: DataFrame, n: Int = 8): DataFrame = {
    // shared across the frequency agg + the join probe (r17) — one
    // tokenize+shingle pass instead of two
    val pos = graft.operators.Checkpoints.truncateSession(
      positionalShingles(documents, n).filter(col("shingle").isNotNull))
    val freq = pos.groupBy(col("shingle"))
      .agg(countDistinct(col("doc_id")).as("_nd"))
    pos.join(freq, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("_nd") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
  }
}
