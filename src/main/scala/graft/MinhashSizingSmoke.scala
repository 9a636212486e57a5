package graft

import graft.textops.Dedup
import org.apache.spark.sql.functions._

/** Measures what `Dedup.minhashConfigFor` claims (the r11 verdict #5
  * follow-through): at corpus scale, the PINNED 16-hash 4×4 banding
  * (frozen because its DuckDB oracle states those constants) carries a
  * fixed per-pair background collision probability — false candidates
  * grow ~n² — and its recall at θ is fixed at 1−(1−θ⁴)⁴ ≈ 0.67, below
  * any production contract. The SIZED config grows the band width like
  * log n (bounded candidate load) and derives the band count from the
  * stated recall target.
  *
  * Planted ground truth: the first `nPlant` documents are copied with
  * one token in ~25 replaced (`xq<i>` markers) — 5-gram Jaccard ≈
  * c/(2−c) with c ≈ 0.96⁵... measured ≈ 0.72-0.85 on the fixture
  * tokens — pairs AT the θ=0.7 decision boundary, where the pinned
  * config's per-pair catch probability is weakest. Reported: planted
  * pairs found (recall, the contract), raw band-bucket candidate count
  * (the n² term), and wall.
  *
  * Usage: tools/run_main.sh graft.MinhashSizingSmoke [sfDir] [nPlant]
  */
object MinhashSizingSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/graft_sf10"
    val nPlant = if (args.length > 1) args(1).toInt else 2000
    val spark = GraftSession("graft-minhash-sizing")
    spark.sparkContext.setLogLevel("WARN")

    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    // plant near-dups of the first nPlant docs: every 25th token swapped
    // for a unique marker — deterministic, Jaccard lands around the 0.7
    // decision boundary where banding recall differences actually show
    val planted = base.filter(col("doc_id") < nPlant)
      .select((col("doc_id") + lit(100000000L)).as("doc_id"),
        concat_ws(" ", expr(
          """transform(split(text, '\\s+'),
             (t, i) -> IF(i % 25 = 24, concat('xq', i), t))""")).as("text"))
    val docs = base.unionByName(planted)
    val n = docs.count()

    val theta = 0.7
    val (bands, rows) = Dedup.minhashConfigFor(n, theta)
    def run(label: String, params: Seq[(Long, Long)], r: Int): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashLshPairsWith(docs, 5, theta, params, r)
      // planted pair = (orig, orig + 1e8); count how many surface with
      // jaccard >= theta (those BELOW theta are not the banding's fault).
      // ONE aggregation pass: counting `found` and `total` as separate
      // actions re-evaluated the whole shingle→signature→verify DAG
      // twice (shingles are deliberately uncached — Dedup scaladoc), and
      // the r14 artifact's "superlinear" wall-clock carried that 2×
      // measurement artifact inside it
      val row = pairs.agg(
        sum(when(col("doc_b") === col("doc_a") + 100000000L &&
          col("doc_a") < nPlant, 1L).otherwise(0L)).as("found"),
        count(lit(1)).as("total")).head()
      (row.getLong(0), row.getLong(1), (System.nanoTime() - t0) / 1e9)
    }
    // ground truth: which planted pairs are really >= theta (exact Jaccard)
    val truth = Dedup.jaccardPairs(docs.filter(
        col("doc_id") < nPlant || col("doc_id") >= 100000000L), 5, theta)
      .filter(col("doc_b") === col("doc_a") + 100000000L)
      .count()

    val (fS, tS, sS) = run("sized", Dedup.minhashParamsFor(bands * rows), rows)
    val (fP, tP, sP) = run("pinned", Dedup.minhashParams, Dedup.bandSize)

    // bucket-occupancy accounting (r14 verdict #3): the smoke's wall
    // clock follows the within-bucket candidate-instance volume
    // Σ c·(c−1)/2, which the sizing bound only models in expectation —
    // report the measured occupancy so the scaling exponent is
    // attributable (fat buckets vs. more buckets) at every SF
    def occJson(o: Map[String, Double]): String =
      f"""{"buckets":${o("buckets")}%.0f,"max_c":${o("max_c")}%.0f,""" +
        f""""p99_c":${o("p99_c")}%.0f,"mean_c":${o("mean_c")}%.3f,""" +
        f""""cand_instances":${o("cand_instances")}%.0f}"""
    val occS = Dedup.lshOccupancy(docs, 5, Dedup.minhashParamsFor(bands * rows), rows)
    val occP = Dedup.lshOccupancy(docs, 5, Dedup.minhashParams, Dedup.bandSize)

    // θ=0.995 margin behind dedup_minhash_sized (r14 verdict #7): that
    // entry's banding-free oracle is sound only while every qualifying
    // pair is an exact duplicate, i.e. the corpus' max NON-identical
    // jaccard stays below 0.995 — measured only at sf0.1 until now.
    // Probe with the EXACT prefix-filtered pair join at 0.9 — UNCAPPED
    // (maxDf = MaxValue), because the sized entry's jaccard definition
    // carries no hot-shingle cap: any non-identical pair in [0.9, 1)
    // surfaces with its exact jaccard; none found means the margin is
    // at least 0.095 wide at this SF. A violation exits nonzero — the
    // entry's threshold needs a bump BEFORE the hash flakes, which is
    // the point of running this per SF.
    val marginTheta = 0.9
    val probeMax = Dedup.jaccardPairsPrefix(base, 5, marginTheta, maxDf = Int.MaxValue)
      .filter(col("jaccard") < 1.0)
      .agg(max(col("jaccard"))).head().getAs[Any](0)
    val maxNonIdent = Option(probeMax).map(_.asInstanceOf[Double])
    val marginOk = maxNonIdent.forall(_ < 0.995)
    val maxStr = maxNonIdent.map(v => f"$v%.6f").getOrElse(s"<$marginTheta")

    println(
      f"""{"sf_dir":"$sfDir","n_docs":$n,"theta":$theta,"planted":$nPlant,""" +
        f""""planted_pairs_ge_theta":$truth,""" +
        f""""pinned":{"bands":4,"rows":4,"planted_found":$fP,"pairs":$tP,"secs":$sP%.1f,"occupancy":${occJson(occP)}},""" +
        f""""sized":{"bands":$bands,"rows":$rows,"planted_found":$fS,"pairs":$tS,"secs":$sS%.1f,"occupancy":${occJson(occS)}},""" +
        f""""max_nonidentical_jaccard":"$maxStr","theta995_margin_ok":$marginOk}""")
    spark.stop()
    if (!marginOk) {
      System.err.println(s"[minhash-sizing] theta=0.995 margin VIOLATED at $sfDir: " +
        s"max non-identical jaccard $maxStr >= 0.995 - dedup_minhash_sized's " +
        "certain-recall argument no longer holds at this corpus; raise the " +
        "entry threshold above the measured value")
      sys.exit(1)
    }
  }
}
