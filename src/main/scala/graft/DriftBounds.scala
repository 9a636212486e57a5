package graft

import graft.textops.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Machine-checked error bounds for the 4-row transcendental whitelist
  * (r14 verdict #7, DeterminismAudit.floatOutputWhitelist): tfidf_search,
  * bm25_search, perplexity_filter, bigram_lm_perplexity aggregate per-row
  * ln/exp outputs, so they can never be EXACT across engines — but the
  * `round(·, 4)` guard can be PROVEN to absorb the residual drift on a
  * given corpus, turning the last argued whitelist rows into derived
  * bounds.
  *
  * Model. Each engine computes Σᵢ tᵢ / d (then optionally exp). Every
  * primitive (ln, exp, ·, /) is correctly rounded or within 1 ulp of it
  * in BOTH engines (JVM Math.log/exp are within 1 ulp of the exact
  * result; libm the same), and summation order may differ arbitrarily.
  * With u = 2⁻⁵³ and n terms:
  *
  *   |engineValue − exactValue| ≤ drift,
  *   drift = (n + K)·u·Σ|tᵢ| / |d|  (+ u·|result| per division/exp step)
  *
  * where (n−1)·u·Σ|tᵢ| is the classic reassociation bound and K·u·Σ|tᵢ|
  * over-covers the ≤K 1-ulp primitive errors inside each term (K = 8
  * here, ≥ the op count of the richest term, BM25's). Two engines can
  * then disagree on round(x, 4) only if the exact value lies within
  * drift of a half-grid boundary k·10⁻⁴ + 5·10⁻⁵ — so if EVERY output
  * row's measured distance to its nearest boundary exceeds
  * SAFETY × drift (SAFETY = 8, covering both engines' drifts plus the
  * model's own slack), a cross-engine flip is impossible on this corpus,
  * not merely unobserved.
  *
  * Each probe re-derives the entry's aggregate with the pre-rounded
  * value, term count, and Σ|term| exposed, and proves fidelity by
  * asserting its own round(·,4) is bit-equal to the catalog entry's
  * output on every group (an unfaithful probe certifies nothing).
  *
  * Usage: tools/run_main.sh graft.DriftBounds [sfDir] [outJson]
  * Exits 1 if any row's margin ratio < SAFETY or any fidelity diff ≠ 0.
  * DriftBoundsSpec pins the certificate at sf0.001 on every sbt test.
  */
object DriftBounds {

  val Safety = 8.0
  private val u = math.ulp(1.0) / 2 // 2^-53, double unit roundoff

  /** (pre, n_terms, sum_abs) → drift bound for a plain sum-then-divide:
    * (n+8)·u·Σ|t| / d, plus u·|pre| for the final division's own ulp.
    */
  private def sumDrift(pre: Column, nTerms: Column, sumAbs: Column,
                       denom: Column): Column =
    (nTerms.cast("double") + lit(8.0)) * lit(u) * sumAbs / denom +
      lit(u) * abs(pre)

  /** Distance from `pre` to the nearest round-half-up 4-decimal boundary
    * (k + 0.5)·10⁻⁴, in value units.
    */
  private def boundaryDist(pre: Column): Column = {
    val scaled = abs(pre) * lit(1e4)
    val frac = scaled - floor(scaled)
    abs(frac - lit(0.5)) * lit(1e-4)
  }

  /** One certified column: rows (entry, key, col, pre, rounded, n_terms,
    * drift, dist, ratio).
    */
  private def certify(entry: String, colName: String, df: DataFrame,
                      key: Column, pre: Column, drift: Column): DataFrame =
    df.select(
      lit(entry).as("entry"), key.cast("string").as("key"),
      lit(colName).as("col"), pre.as("pre"), round(pre, 4).as("rounded"),
      drift.as("drift"), boundaryDist(pre).as("dist"),
      (boundaryDist(pre) / drift).as("ratio"))

  /** tfidf_search: score = Σ tf·ln((N+1)/(df+1)) over ≤3 terms. The
    * ln argument is a division of identical exact-int-valued doubles in
    * both engines, so per-term error is ≤2 ulp; n ≤ 3.
    */
  def tfidfProbe(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("data", "spark", "query")
    val docs = Tables.documents(spark, dir)
    val hits = docs
      .select(col("doc_id"), explode(expr(TextAnalysis.tokensExpr)).as("tok"))
      .filter(col("tok").isin(terms: _*))
    val tf = hits.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = hits.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val g = tf.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("w", col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
      .groupBy("doc_id").agg(
        sum(col("w")).as("pre"), count(lit(1)).as("n_terms"),
        sum(abs(col("w"))).as("sum_abs"))
    certify("tfidf_search", "score", g, col("doc_id"), col("pre"),
      sumDrift(col("pre"), col("n_terms"), col("sum_abs"), lit(1.0)))
  }

  /** bm25_search: ≤3 terms, each ~6 float ops (covered by K=8). */
  def bm25Probe(spark: SparkSession, dir: String): DataFrame = {
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
    val g = tf.join(broadcast(dfreq), Seq("t"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("w", w)
      .groupBy("doc_id").agg(
        sum(col("w")).as("pre"), count(lit(1)).as("n_terms"),
        sum(abs(col("w"))).as("sum_abs"))
    certify("bm25_search", "score", g, col("doc_id"), col("pre"),
      sumDrift(col("pre"), col("n_terms"), col("sum_abs"), lit(1.0)))
  }

  /** perplexity_filter: avg_nll = Σ cnt·(ln t − ln ctok) / Σ cnt and
    * ppl = exp(avg_nll). exp multiplies the avg's drift by ppl (plus its
    * own ulp).
    */
  def perplexityProbe(spark: SparkSession, dir: String): DataFrame = {
    val tokc = Tables.documents(spark, dir)
      .withColumn("toks", expr(TextAnalysis.tokensExpr))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val corpus = tokc.groupBy(col("tok")).agg(sum(col("cnt")).as("ctok"))
    val tot = corpus.agg(sum(col("ctok")).cast("long").as("t"))
    val term = col("cnt") * (log(col("t")) - log(col("ctok")))
    val g = tokc.join(corpus, Seq("tok"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(term).as("nll"), sum(col("cnt")).as("den"),
        count(lit(1)).as("n_terms"), sum(abs(term)).as("sum_abs"))
      .withColumn("pre", col("nll") / col("den"))
    perPlexCertify("perplexity_filter", g)
  }

  /** bigram_lm_perplexity: same shape over add-1-smoothed bigram terms. */
  def bigramProbe(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("t", expr(TextAnalysis.tokensExpr))
      .filter(size(col("t")) >= 2)
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
    val term = col("cnt") *
      (log((col("cw") + col("v")).cast("double")) - log((col("cb") + 1).cast("double")))
    val g = pc.join(big, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(sum(term).as("nll"), sum(col("cnt")).as("den"),
        count(lit(1)).as("n_terms"), sum(abs(term)).as("sum_abs"))
      .withColumn("pre", col("nll") / col("den"))
    perPlexCertify("bigram_lm_perplexity", g)
  }

  /** avg_nll + ppl certificate rows from a grouped (pre, den, n_terms,
    * sum_abs) frame.
    */
  private def perPlexCertify(entry: String, g: DataFrame): DataFrame = {
    val dAvg = sumDrift(col("pre"), col("n_terms"), col("sum_abs"), col("den"))
    val avg = certify(entry, "avg_nll", g, col("doc_id"), col("pre"), dAvg)
    val gp = g.withColumn("ppl", exp(col("pre")))
    // |exp(a+δ) − exp(a)| ≤ exp(a)·δ·e^δ ≈ ppl·δ for tiny δ; + its 1 ulp
    val dPpl = col("ppl") * dAvg * lit(2.0) + lit(u) * col("ppl")
    val ppl = certify(entry, "ppl", gp, col("doc_id"), col("ppl"), dPpl)
    avg.unionByName(ppl)
  }

  /** Fidelity: the probe's rounded values must reproduce the catalog
    * entry's outputs exactly (multiset containment on the compared
    * columns — tfidf/bm25 entries emit only their top-20, so the check
    * is entry ⊆ probe).
    */
  private def fidelityDiff(spark: SparkSession, dir: String, entry: String,
                           probe: DataFrame): Long = {
    val out = SparkEntry.queries(entry)(spark, dir)
    val keyed = probe.groupBy(col("key"))
      .pivot("col").agg(first(col("rounded")))
    entry match {
      case "tfidf_search" | "bm25_search" =>
        out.select(col("doc_id").cast("string").as("key"), col("score"))
          .exceptAll(keyed.select(col("key"), col("score"))).count()
      case _ =>
        out.select(col("doc_id").cast("string").as("key"), col("avg_nll"), col("ppl"))
          .exceptAll(keyed.select(col("key"), col("avg_nll"), col("ppl"))).count()
    }
  }

  def probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tfidf_search" -> tfidfProbe,
    "bm25_search" -> bm25Probe,
    "perplexity_filter" -> perplexityProbe,
    "bigram_lm_perplexity" -> bigramProbe)

  /** Run all certificates; returns (entry → (rows, minRatio,
    * fidelityDiff, pass)).
    */
  def runAll(spark: SparkSession, dir: String): Map[String, (Long, Double, Long, Boolean)] =
    probes.map { case (entry, p) =>
      val cert = p(spark, dir).cache()
      try {
        val row = cert.agg(count(lit(1)), min(col("ratio"))).head()
        val nRows = row.getLong(0)
        val minRatio = row.getDouble(1)
        val fid = fidelityDiff(spark, dir, entry, cert)
        val pass = nRows > 0 && minRatio >= Safety && fid == 0
        entry -> (nRows, minRatio, fid, pass)
      } finally cert.unpersist()
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = if (args.length > 1) Some(args(1)) else None
    val spark = GraftSession("graft-drift-bounds")
    spark.sparkContext.setLogLevel("WARN")
    val results = runAll(spark, dir)
    results.toSeq.sortBy(_._1).foreach { case (e, (n, r, f, p)) =>
      println(f"[drift-bounds] $e: rows=$n min_ratio=$r%.1f fidelity_diff=$f " +
        s"${if (p) "PASS" else "FAIL"}")
    }
    outJson.foreach { path =>
      val body = results.toSeq.sortBy(_._1).map { case (e, (n, r, f, p)) =>
        f""""$e": {"rows": $n, "min_margin_ratio": $r%.2f, "fidelity_diff": $f, "pass": $p}"""
      }.mkString(",\n")
      val doc = s"""{
"purpose": "machine-checked round(4) absorption certificates for the 4 transcendental whitelist rows (DriftBounds scaladoc): every output row's distance to its nearest rounding boundary exceeds ${Safety} x its worst-case cross-engine drift bound (n+8 ulp summation + per-primitive ulp model), so a cross-engine flip is impossible on this corpus",
"sf_dir": "$dir",
$body
}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(path), doc.getBytes("UTF-8"))
    }
    spark.stop()
    if (results.exists(!_._2._4)) sys.exit(1)
  }
}
