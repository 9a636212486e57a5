package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact (hash),
  * n-gram Jaccard, MinHash+LSH, SimHash. Designed for the 100 TB shape:
  *  - no O(n²) pair enumeration anywhere — candidates come from key joins
  *    (shingle, LSH band, simhash chunk), which shuffle-partition by key;
  *  - signatures are single-pass groupBy aggregations (one shuffle per
  *    stage);
  *  - all hashing is exact integer arithmetic on md5 prefixes, so results
  *    are reproducible across engines and runs.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** word n-gram shingles (default 5) of lowercased whitespace tokens,
    * distinct per doc. Docs shorter than n tokens yield zero shingles —
    * NOT `sequence(1, greatest(len-n+1, 0))`: Spark's sequence(1, 0) is
    * the DESCENDING [1, 0], whose pos 0 makes element_at(toks, n-1+0)
    * throw under ANSI for any doc with < n tokens.
    */
  def shingles(documents: DataFrame, n: Int = 5): DataFrame =
    documents
      .withColumn("toks", expr(TextAnalysis.tokensExpr))
      .withColumn("shingle", explode(expr(
        s"""transform(
              CASE WHEN size(toks) >= $n THEN sequence(1, size(toks) - ${n - 1}) ELSE array() END,
              i -> concat_ws(' ', ${(0 until n).map(j => s"element_at(toks, i + $j)").mkString(", ")}))""")))
      .select(col("doc_id"), col("shingle"))
      .distinct()

  /** Exact duplicate groups by md5 of canonicalized text: every doc mapped
    * to its group's canonical (minimum) doc_id.
    */
  def exactDuplicates(documents: DataFrame): DataFrame =
    documents
      .withColumn("text_hash", md5(lower(trim(col("text")))))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Document-frequency cap for the shingle-join dedup family: a shingle
    * occurring in more than `hotShingleMaxDf` documents is dropped from
    * the similarity universe (intersections AND sizes — the df-capped
    * shingle space, same semantics as stopword removal). Without it, one
    * boilerplate 5-gram in k documents (nav bars, license headers on a
    * real web corpus) makes the shingle self-join emit O(k²) rows under a
    * SINGLE key — quadratic work concentrated as skew AQE can split but
    * not shrink. A df-10k shingle carries no dedup signal, so the recall
    * loss is negligible; `Decontaminate` applies the same cap to its
    * 8-grams. The cap is interpolated into the oracle SQL, so engine and
    * oracle agree even at scales where it binds.
    */
  val hotShingleMaxDf = 1000

  /** shingles with hot (df > maxDf) shingles removed. Df via
    * groupBy-count + equi-join — NOT `count().over(partitionBy(shingle))`:
    * a window forces every row of a hot shingle through ONE task (a df-10M
    * boilerplate shingle = one 10M-row partition), while the groupBy gets
    * map-side partial aggregation and the join lets AQE split the skewed
    * probe side. Costs one extra (tiny, heavily pre-aggregated) shuffle of
    * the per-shingle counts; semantics identical.
    */
  def cappedShingles(documents: DataFrame, n: Int = 5, maxDf: Int = hotShingleMaxDf): DataFrame = {
    val sh = shingles(documents, n)
    val keep = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf)
      .select(col("shingle"))
    sh.join(keep, Seq("shingle"))
      .select(sh.columns.map(col).toIndexedSeq: _*)
  }

  /** DuckDB mirror of `cappedShingles`: `sh` is distinct (doc, shingle),
    * so COUNT(*) per shingle IS the document frequency.
    */
  def cappedShinglesSqlDuck(maxDf: Int = hotShingleMaxDf): String =
    s"""shc AS (
          SELECT doc_id, shingle FROM sh
          QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $maxDf
        )"""

  /** Pairwise n-gram Jaccard ≥ `minJaccard` via shingle-key join:
    * |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|. The join key is the
    * shingle, so work scales with shared-shingle pairs, not n² — and the
    * df cap (`cappedShingles`) bounds the per-key pair count at maxDf².
    */
  def jaccardPairs(documents: DataFrame, n: Int = 5, minJaccard: Double = 0.8,
                   maxDf: Int = hotShingleMaxDf): DataFrame = {
    // one tokenize+shingle pass for the three consumers (sizes + both
    // join sides) — the minhashLshPairsWith checkpoint discipline (r17)
    val sh = graft.operators.Checkpoints.truncateSession(cappedShingles(documents, n, maxDf))
    val sizes = shingleSizes(sh)
    withJaccard(sharedShingleCounts(sh, _ < _), sizes, sizes, minJaccard)
  }

  /** (doc_id, n_shingles): the per-doc size of a shingle table. */
  private def shingleSizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))

  /** (doc_a, doc_b, n_common) from the shingle-key self-join, pairs kept
    * by `keep(doc_a, doc_b)` — the exact all-shared-shingle count behind
    * both Jaccard and containment. */
  private def sharedShingleCounts(sh: DataFrame, keep: (Column, Column) => Column): DataFrame =
    sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(keep(col("doc_a"), col("doc_b")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))

  /** Candidate pairs (the two id columns of `cands`, a then b) with
    * `n_common`, counted over the a-side rows of `shA` and the b-side
    * rows of `shB` — the shingle-overlap half of the near-dup verify. */
  private def overlapCounts(cands: DataFrame, shA: DataFrame, shB: DataFrame): DataFrame = {
    val Array(a, b) = cands.columns
    cands
      .join(shA.select(col("doc_id").as(a), col("shingle")), Seq(a))
      .join(shB.select(col("doc_id").as(b), col("shingle").as("shingle_b")), Seq(b))
      .filter(col("shingle") === col("shingle_b"))
      .groupBy(col(a), col(b))
      .agg(count(lit(1)).as("n_common"))
  }

  /** The Jaccard half of the verify: (a, b, n_common) pairs get their
    * sizes and keep `jaccard ≥ minJaccard`. A self verify passes the SAME
    * sizes frame twice: it is joined under two aliases via conditions, not
    * per-side renamed projections (r18) — distinct alias names inside the
    * two build subtrees make them canonically unequal, so the sizes
    * aggregation and its broadcast were built twice instead of reused. */
  private def withJaccard(inter: DataFrame, sizesA: DataFrame, sizesB: DataFrame,
                          minJaccard: Double): DataFrame = {
    val Array(a, b, _) = inter.columns
    inter
      .join(sizesA.as("sa"), col(a) === col("sa.doc_id"))
      .join(sizesB.as("sb"), col(b) === col("sb.doc_id"))
      .withColumn("n_a", col("sa.n_shingles"))
      .withColumn("n_b", col("sb.n_shingles"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select(a, b, "n_common", "n_a", "n_b", "jaccard")
  }

  /** [[jaccardPairs]] with PPJoin-style PREFIX FILTERING (Xiao et al.,
    * WWW 2008): identical output, far fewer candidate pairs. Under any
    * shared total order of the shingle vocabulary, two sets with
    * Jaccard ≥ t MUST collide inside their first
    * `|X| − ⌈t·|X|⌉ + 1` elements — so only those prefix shingles enter
    * the candidate join, and the full shingle sets are consulted only to
    * verify candidates exactly. The order used is (df ASC, shingle ASC):
    * rarest-first both shrinks collisions (prefixes carry the least
    * common shingles) and needs NO global dense rank — each document
    * sorts its own (df, shingle) structs, so there is no vocabulary-wide
    * single-task window anywhere. A size filter
    * (min(n) ≥ t·max(n), another Jaccard necessity) prunes candidates
    * before the verify joins.
    *
    * vs the plain shingle-key join: every co-occurrence of every shared
    * shingle becomes a pre-aggregation join row there; here only prefix
    * co-occurrences do (~(1−t)·|doc| probe rows per doc, rare-biased).
    * The df cap still bounds the worst key. Same completeness, proven by
    * the shared DuckDB oracle and an equivalence property spec.
    */
  def jaccardPairsPrefix(documents: DataFrame, n: Int = 5, minJaccard: Double = 0.8,
                         maxDf: Int = hotShingleMaxDf): DataFrame = {
    // materialize the capped shingle table ONCE: five consumers below
    // (df, per-doc sort, both candidate probes via `docs`, both verify
    // sides), and the cap join is a broadcast — no exchange Spark could
    // reuse — so without this every consumer re-tokenizes the corpus
    // (measured 18.9 → 12.1 s on the 60k-doc boilerplate smoke; at
    // 100 TB it is 5 corpus scans vs 1)
    val sh = graft.operators.Checkpoints.truncateSession(cappedShingles(documents, n, maxDf))
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    val ranked = sh.join(df, Seq("shingle"))
    val docs = ranked
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("_df"), col("shingle")))).as("sorted"),
        count(lit(1)).as("n_sh"))
      // ceil(t·n − ε), not ceil(t·n): 0.8·5 in doubles is 4.0000000000000002
      // and a bare ceil would shorten the prefix below the completeness
      // bound exactly at threshold-tight sizes; the ε only ever LENGTHENS
      // the prefix by one, which is always safe
      .withColumn("prefix",
        expr(s"transform(slice(sorted, 1, cast(n_sh - ceil($minJaccard * n_sh - 1e-9) + 1 as int)), x -> x.shingle)"))
      .drop("sorted")
      .transform(graft.operators.Checkpoints.truncateSession) // two probe consumers (pa, pb)
    val pa = docs.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"),
      explode(col("prefix")).as("shingle"))
    val pb = docs.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"),
      explode(col("prefix")).as("shingle"))
    val cand = pa.join(pb, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      // ε-loose for the same FP reason: J ≥ t ⟹ min ≥ t·max holds in exact
      // arithmetic; the double product may sit a ULP above it
      .filter(least(col("n_a"), col("n_b")) >=
        lit(minJaccard) * greatest(col("n_a"), col("n_b")) - lit(1e-9))
      .select("doc_a", "doc_b")
      .distinct()
    // verify only candidate docs' shingles: the semi-join prune turns
    // "shuffle the whole shingle table twice" into a (usually broadcast)
    // filter + two candidate-sized joins
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shCand = sh.join(candDocs, Seq("doc_id"), "left_semi")
    val sizes = docs.select(col("doc_id"), col("n_sh").as("n_shingles"))
    withJaccard(overlapCounts(cand, shCand, shCand), sizes, sizes, minJaccard)
  }

  /** Asymmetric CONTAINMENT pairs: |A∩B| / |A| ≥ threshold — catches a
    * document that is a SUBSET of another (quote-and-extend, boilerplate
    * wrapping), which symmetric Jaccard misses when the containing doc is
    * much larger. Directed: (doc_a contained-in doc_b) and the reverse
    * are separate rows. Same shingle-key join shape as `jaccardPairs` —
    * work ∝ shared-shingle pairs, never n², hot shingles df-capped.
    */
  def containmentPairs(documents: DataFrame, n: Int = 5, minContainment: Double = 0.8,
                       maxDf: Int = hotShingleMaxDf): DataFrame = {
    // shared shingle materialization — see jaccardPairs (r17)
    val sh = graft.operators.Checkpoints.truncateSession(cappedShingles(documents, n, maxDf))
    val sizes = shingleSizes(sh)
      .withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "n_a")
    sharedShingleCounts(sh, _ =!= _)
      .join(sizes, Seq("doc_a"))
      .withColumn("containment", col("n_common").cast("double") / col("n_a"))
      .filter(col("containment") >= minContainment)
      .select("doc_a", "doc_b", "n_common", "n_a", "containment")
  }

  /** MinHash parameters: k=16 universal-hash functions (a*s + b) mod P over
    * 60-bit shingle keys reduced mod P. Fixed odd constants — shared with
    * the oracle SQL by interpolation.
    */
  val minhashP = 1000000007L
  val minhashParams: Seq[(Long, Long)] = Seq(
    (387461209L, 91249823L), (193847123L, 823471993L), (748291831L, 12938471L),
    (928374651L, 548372911L), (132984721L, 745829103L), (847362519L, 231984673L),
    (564738291L, 918273645L), (291837465L, 384756129L), (675849302L, 129384756L),
    (819273645L, 564839201L), (402938475L, 748392015L), (593847261L, 102938475L),
    (738291046L, 839201746L), (147382910L, 493827561L), (958372610L, 647382910L),
    (362910473L, 758293041L))
  val bandSize = 4 // 16 hashes → 4 bands of 4 → Jaccard ~0.7+ candidates

  /** Size the MinHash banding (bands b × rows r) from corpus size and
    * threshold — the `Similarity.lshConfigFor` discipline applied to the
    * MinHash tier (r11 verdict #5). A FROZEN (b, r) decays two ways as n
    * grows:
    *  - recall is fixed below any stated target: the pinned 4×4 catches a
    *    pair at exactly θ=0.7 with only 1−(1−0.7⁴)⁴ ≈ 0.67 probability —
    *    fine for its DuckDB-oracled entry (the oracle states the same
    *    constants), not a production recall contract;
    *  - background collisions grow QUADRATICALLY: a non-dup pair shares a
    *    band with probability ≈ s₀^r, so expected false candidates are
    *    b·n²/2·s₀^r — for fixed r that is n² scaled by a constant, the
    *    spill pressure the sf10 audit measured on the pinned config.
    * Sizing: smallest r whose per-doc false-candidate load b·n·s₀^r stays
    * ≤ `maxBucketLoad` (r grows like log n — the same role as
    * lshConfigFor's bandBits), then b from the recall algebra
    * 1−(1−θ^r)^b ≥ targetRecall. `bgSim` is the modeled background
    * (non-dup) Jaccard scale; 0.02 is 2× above the measured background
    * for df-capped 5-gram shingles of independent documents (≲0.01 —
    * unrelated prose shares almost no exact 5-grams), so the load bound
    * holds with margin while the defaults stay feasible through n≈10¹⁰
    * (beyond that the refuse message says which knob to turn).
    *
    * REFUSES (like lshConfigFor — no silent truncation) when no (b, r)
    * under `maxHashes` total hash functions meets both bounds: the caller
    * raises maxHashes (paying signature compute), lowers targetRecall,
    * or accepts a higher bucket load knowingly.
    */
  def minhashConfigFor(
      n: Long,
      threshold: Double,
      targetRecall: Double = 0.95,
      bgSim: Double = 0.02,
      maxBucketLoad: Double = 2.0,
      maxHashes: Int = 256): (Int, Int) = {
    require(n > 0 && threshold > 0 && threshold < 1 &&
      targetRecall > 0 && targetRecall < 1 &&
      bgSim > 0 && bgSim < threshold && maxBucketLoad > 0 && maxHashes > 0,
      s"bad minhashConfigFor args: n=$n θ=$threshold R=$targetRecall s0=$bgSim")
    // Long-valued: at large r the band count explodes past Int range and
    // an Int ceil would saturate/overflow the b·r cap check silently
    def bandsFor(r: Int): Long = {
      val pBand = math.pow(threshold, r)
      math.max(1L, math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toLong)
    }
    val feasible = (2 to maxHashes).iterator.map { r =>
      val b = bandsFor(r)
      // b <= maxHashes before the product: a 10^18-band count would
      // overflow even Long multiplication past the cap check
      (b, r, b.toDouble * n * math.pow(bgSim, r) <= maxBucketLoad,
        b <= maxHashes && b * r <= maxHashes)
    }
    feasible.collectFirst { case (b, r, true, true) => (b.toInt, r) }.getOrElse {
      // diagnose: the largest r fitting under the hash cap, and the
      // recall/load actually achievable there
      val rCap = (2 to maxHashes)
        .filter(r => { val b = bandsFor(r); b <= maxHashes && b * r <= maxHashes })
        .lastOption.getOrElse(2)
      val bCap = bandsFor(rCap)
      val load = bCap.toDouble * n * math.pow(bgSim, rCap)
      throw new IllegalArgumentException(
        f"minhashConfigFor: no (bands, rows) under $maxHashes hashes meets recall " +
          f"$targetRecall at θ=$threshold AND per-doc false-candidate load ≤ $maxBucketLoad " +
          f"for n=$n (best under cap: ${bCap}x$rCap, load $load%.1f). Raise maxHashes, " +
          f"lower targetRecall, or raise maxBucketLoad.")
    }
  }

  /** Deterministic universal-hash parameters for a k-hash signature —
    * a fixed SplitMix64 stream reduced into [1, P) × [0, P), so a sized
    * config is reproducible across runs/engines without carrying a
    * constants table. The first 16 PINNED [[minhashParams]] stay frozen
    * (their DuckDB oracles state those exact constants).
    */
  def minhashParamsFor(k: Int): Seq[(Long, Long)] = {
    require(k > 0 && k <= 4096, s"bad k=$k")
    var x = 0x9E3779B97F4A7C15L
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Seq.fill(k) {
      val a = java.lang.Long.remainderUnsigned(next(), minhashP - 1) + 1
      val b = java.lang.Long.remainderUnsigned(next(), minhashP)
      (a, b)
    }
  }

  /** 60-bit md5-prefix key of a shingle, reduced mod P (both engines). */
  val shingleKeyExpr =
    s"cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint) % $minhashP"
  val shingleKeyExprDuck =
    s"CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % $minhashP"

  /** DuckDB oracle generators for the MinHash signature + band unpivot —
    * generated from the SAME constants the Spark side uses, so engine and
    * oracle cannot drift. `sigSelectSqlDuck` selects over a column `s`
    * (the reduced shingle key); `bandsSqlDuck` unpivots a `sig` CTE.
    */
  def sigSelectSqlDuck: String = minhashParams.zipWithIndex.map { case ((a, b), i) =>
    s"min(($a * s + $b) % $minhashP) AS mh$i"
  }.mkString(", ")

  def bandsSqlDuck: String = (0 until minhashParams.size / bandSize).map { bnd =>
    val key = (0 until bandSize)
      .map(j => s"CAST(mh${bnd * bandSize + j} AS VARCHAR)")
      .mkString(" || '_' || ")
    s"SELECT doc_id, $bnd AS band, $key AS band_key FROM sig"
  }.mkString(" UNION ALL ")

  /** Self-describing tag of the signature scheme: a store built at one
    * shingle grain checked at another would yield est_jaccard ≈ 0 for
    * true dups — silent recall collapse, the same hazard class as the ANN
    * index's lsh_spec.
    */
  def sigSpec(n: Int): String = s"v1:n$n:k${minhashParams.size}:p$minhashP"

  /** Per-doc MinHash signature (doc_id, mh0..mh{k-1}) of a (doc_id,
    * shingle) table: one groupBy pass computing all k minima. */
  private def signaturesOf(sh: DataFrame, params: Seq[(Long, Long)]): DataFrame = {
    val aggs = params.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("s") + lit(b)) % lit(minhashP)).as(s"mh$i")
    }
    sh.withColumn("s", expr(shingleKeyExpr))
      .groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  def minhashSignatures(documents: DataFrame, n: Int = 5): DataFrame =
    signaturesOf(shingles(documents, n), minhashParams)
      .withColumn("sig_spec", lit(sigSpec(n)))

  /** Fail LOUDLY when a persisted store was built under another scheme
    * than the caller asks for: keys from another scheme still join
    * (sporadic collisions), so without this check recall collapses to
    * near zero with no error. `tagCol` holds the producer's scheme tag
    * (`sig_spec`, `lsh_spec`). */
  private[graft] def requireScheme(store: DataFrame, tagCol: String, expected: String,
                                   producer: String): Unit = {
    require(store.columns.contains(tagCol),
      s"store has no $tagCol column — not a $producer output")
    store.select(tagCol).head(1).foreach { r =>
      require(r.getString(0) == expected,
        s"scheme mismatch: store built with ${r.getString(0)}, caller requested $expected")
    }
  }

  /** LSH band keys: unpivot the signature into (doc_id, band, band_key). */
  def lshBands(signatures: DataFrame): DataFrame =
    lshBandsWith(signatures, minhashParams.size, bandSize)

  /** [[lshBands]] for an arbitrary (k-hash, r-row) banding. */
  def lshBandsWith(signatures: DataFrame, k: Int, rows: Int): DataFrame = {
    // a truncated banding (k % rows trailing hashes dropped) is a silent
    // recall cut — refuse here too, not only in minhashLshPairsWith,
    // so direct callers of this public method get the loud contract
    require(rows > 0 && k % rows == 0, s"k=$k not divisible by rows=$rows")
    val nBands = k / rows
    val bands = (0 until nBands).map { bnd =>
      val cols = (0 until rows).map(j => col(s"mh${bnd * rows + j}").cast("string"))
      signatures.select(
        col("doc_id"), lit(bnd).as("band"),
        concat_ws("_", cols: _*).as("band_key"))
    }
    bands.reduce(_ unionByName _)
  }

  /** Per-bucket occupancy accounting for a banding (r14 verdict #3: the
    * sizing bound b·n·s₀^r ≤ load models EXPECTED background collisions,
    * but within-bucket candidate emission is Σ c·(c−1)/2 over ACTUAL
    * bucket sizes c — quadratic in occupancy, and nothing reported it).
    * Returns one row of corpus-wide stats: bucket count, max / p99 /
    * mean occupancy, and the implied candidate-INSTANCE count (the
    * pre-distinct join output volume — the cost the smoke's wall-clock
    * follows). Diagnostic for MinhashSizingSmoke's artifact; not part of
    * any oracled entry.
    */
  def lshOccupancy(documents: DataFrame, n: Int,
                   params: Seq[(Long, Long)], rows: Int): Map[String, Double] = {
    val bands = lshBandsWith(signaturesOf(shingles(documents, n), params), params.size, rows)
    val occ = bands.groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("c"))
    val r = occ.agg(
      count(lit(1)).cast("double").as("buckets"),
      max(col("c")).cast("double").as("max_c"),
      expr("percentile_approx(c, 0.99, 10000)").cast("double").as("p99_c"),
      avg(col("c")).as("mean_c"),
      sum(col("c") * (col("c") - lit(1)) / lit(2)).cast("double").as("cand_instances"))
      .head()
    Seq("buckets", "max_c", "p99_c", "mean_c", "cand_instances")
      .zipWithIndex.map { case (k, i) => k -> r.getDouble(i) }.toMap
  }

  /** MinHash-LSH near-dup pairs: docs sharing any band bucket, verified
    * with true shingle Jaccard ≥ `minJaccard`. The PINNED 16-hash 4×4
    * banding — frozen because its DuckDB oracle states these constants;
    * production indexes at known corpus size should size through
    * [[minhashLshPairsSized]] instead (recall contract + bounded
    * candidate load).
    */
  def minhashLshPairs(documents: DataFrame, n: Int = 5, minJaccard: Double = 0.7): DataFrame =
    minhashLshPairsWith(documents, n, minJaccard, minhashParams, bandSize)

  /** [[minhashLshPairs]] with the banding SIZED by [[minhashConfigFor]]
    * for a corpus of `nDocs` documents — refuses configs it cannot honor.
    */
  def minhashLshPairsSized(documents: DataFrame, nDocs: Long, n: Int = 5,
                           minJaccard: Double = 0.7,
                           targetRecall: Double = 0.95): DataFrame = {
    val (bands, rows) = minhashConfigFor(nDocs, minJaccard, targetRecall)
    minhashLshPairsWith(documents, n, minJaccard, minhashParamsFor(bands * rows), rows)
  }

  /** Parameterized MinHash-LSH pairs core: any hash-parameter list, any
    * band width. Same plan shape as the pinned path — one signature
    * groupBy, band-bucket candidate join, shingle-Jaccard verification.
    */
  def minhashLshPairsWith(documents: DataFrame, n: Int, minJaccard: Double,
                          params: Seq[(Long, Long)], rows: Int): DataFrame = {
    require(params.size % rows == 0, s"k=${params.size} not divisible by rows=$rows")
    // materialize the shingle table ONCE (r17, guide §1.2 per-task work):
    // four consumers below (signature keys, both verify sides, sizes)
    // each re-ran tokenize + shingle + per-shingle md5 — the dominant CPU
    // of the whole LSH family (ProfileRun: ~60 s of task time per
    // dedup_clusters run at sf0.1, mostly these passes). localCheckpoint,
    // NOT cache(): an earlier round measured cache() 3× slower here
    // (blocks pipelining, hides AQE size stats); the eager checkpoint is
    // the jaccardPairsPrefix discipline — O(corpus shingles) rows of
    // (doc_id, shingle), materialized once, read four times. At 100 TB
    // this is 1 corpus tokenization instead of 4.
    val sh = graft.operators.Checkpoints.truncateSession(shingles(documents, n))
    val bands = lshBandsWith(signaturesOf(sh, params), params.size, rows)
    val sizes = shingleSizes(sh)
    withJaccard(overlapCounts(bandPairs(bands, bands, "doc_a", "doc_b"), sh, sh), sizes, sizes,
      minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Distinct doc pairs sharing a band bucket, as columns (a, b): the one
    * candidate emission of the MinHash tier. Self (`x eq y`, the batch
    * corpus) keeps a < b, so each unordered pair once; otherwise every
    * x × y collision (new × store). */
  private def bandPairs(x: DataFrame, y: DataFrame, a: String, b: String): DataFrame = {
    val met = x.as("x").join(y.as("y"), Seq("band", "band_key"))
    (if (x eq y) met.filter(col("x.doc_id") < col("y.doc_id")) else met)
      .select(col("x.doc_id").as(a), col("y.doc_id").as(b))
      .distinct()
  }

  /** INCREMENTAL MinHash-LSH dedup: new documents checked against an
    * already-ingested corpus — the daily-ops shape (a fresh crawl batch
    * lands; re-deduping the whole 100 TB corpus per batch is absurd).
    * Candidates are (new × store) band-bucket collisions only: new-new
    * and store-store pairs are never enumerated, and the store side's
    * signatures/shingle-sizes are pure per-doc functions, so in
    * production they come from a PERSISTED signature table written at
    * ingest (this function recomputes them from `store` for
    * self-containedness — the join shape is identical).
    * Output: (doc_new, doc_store, jaccard ≥ minJaccard).
    */
  def incrementalLshPairs(newDocs: DataFrame, store: DataFrame,
                          n: Int = 5, minJaccard: Double = 0.7): DataFrame = {
    // NOT checkpointed (r17 A/B: the two eager checkpoints serialize
    // phases that otherwise run as overlapping jobs — measured +0.7 s on
    // dedup_incremental at sf0.1; the batch side is tiny and the store
    // side's production shape is the persisted signature table anyway,
    // see incrementalSigPairs)
    val shNew = shingles(newDocs, n)
    val shOld = shingles(store, n)
    def bands(sh: DataFrame) = lshBands(signaturesOf(sh, minhashParams))
    val cands = bandPairs(bands(shNew), bands(shOld), "doc_new", "doc_store")
    withJaccard(overlapCounts(cands, shNew, shOld), shingleSizes(shNew), shingleSizes(shOld),
      minJaccard)
      .select("doc_new", "doc_store", "jaccard")
  }

  /** The ingest-time signature artifact: per-doc MinHash signature
    * (doc_id, mh0..mh{k-1}) written once when a batch lands. The
    * incremental dedup path then reads THIS instead of re-shingling the
    * whole store per batch — the difference between O(new + store-sigs)
    * and O(new + store-text) work per crawl batch, which at a 100 TB
    * store is the whole game.
    */
  def writeSignatureTable(documents: DataFrame, path: String, n: Int = 5): Unit =
    minhashSignatures(documents, n).write.mode("overwrite").parquet(path)

  /** INCREMENTAL dedup against PERSISTED store signatures (the production
    * counterpart of `incrementalLshPairs`, which recomputes the store side
    * for self-containedness): candidates are new×store band-bucket
    * collisions, verified by the MINHASH JACCARD ESTIMATE — the fraction
    * of agreeing signature components, an unbiased estimator of true
    * Jaccard. The store's text and shingles are NEVER read: both the
    * candidate and verify joins touch only the k-integer signature rows,
    * so a crawl batch checks against a 100 TB store at signature-table
    * (not corpus) cost. `storeSignatures` is `minhashSignatures` output,
    * typically read back from `writeSignatureTable`'s parquet.
    * Output: (doc_new, doc_store, est_jaccard ≥ minEstJaccard); est is a
    * multiple of 1/k, exact in double — engine-comparison safe.
    */
  def incrementalSigPairs(newDocs: DataFrame, storeSignatures: DataFrame,
                          n: Int = 5, minEstJaccard: Double = 0.7): DataFrame = {
    requireScheme(storeSignatures, "sig_spec", sigSpec(n), "minhashSignatures")
    val k = minhashParams.size
    val newSigs = minhashSignatures(newDocs, n)
    val candidates =
      bandPairs(lshBands(newSigs), lshBands(storeSignatures), "doc_new", "doc_store")
    val nMatch = (0 until k)
      .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    candidates
      .join(newSigs.as("a"), col("doc_new") === col("a.doc_id"))
      .join(storeSignatures.as("b"), col("doc_store") === col("b.doc_id"))
      .withColumn("est_jaccard", nMatch.cast("double") / k)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("doc_new", "doc_store", "est_jaccard")
  }

  /** DuckDB mirror of the signature-agreement estimate over sig aliases
    * `a` (new side) and `b` (store side). */
  def sigMatchEstSqlDuck(a: String = "a", b: String = "b"): String = {
    val k = minhashParams.size
    val matches = (0 until k)
      .map(i => s"(CASE WHEN $a.mh$i = $b.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"CAST($matches AS DOUBLE) / $k"
  }

  /** Distributed connected components by alternating LARGE-STAR /
    * SMALL-STAR contraction (the MapReduce CC algorithm of Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14):
    * every node in a component ends up directly linked to the component's
    * minimum node id in O(log n) rounds — a CHAIN of length 500 converges
    * in ~10 rounds where per-hop min-label propagation needs 500.
    *
    *  - large-star(u): link every neighbor v > u to m = min(Γ⁺(u));
    *  - small-star(u): over min-oriented edges (u > v), link every
    *    neighbor and u itself to m = min(Γ(u)).
    *
    * Both steps preserve connectivity; the fixpoint is a forest of stars
    * centered on component minima. Each round is two groupBy+join passes
    * over the EDGE set only (nodes without a near-dup edge never enter),
    * and the driver sees one (count, hash) checksum per round — edge data
    * never leaves the cluster.
    *
    * `pairs`: two columns (src, dst), one row per undirected edge (any
    * orientation, duplicates fine). Returns (doc_id, canonical_id) for
    * every node that appears in `pairs`. THROWS IllegalStateException if
    * `maxRounds` is hit before the fixpoint — a silent truncation would
    * return wrong canonical ids; the O(log n) bound makes 50 generous for
    * any realistic graph (2^50 nodes).
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsWithStats(pairs, maxRounds, checkpointDir)._1

  /** Per-run convergence telemetry: rounds taken and the surviving edge
    * count after each star-contraction round. A production run alarms on
    * round-count drift (a skew or data bug shows up as rounds creeping
    * toward `maxRounds` long before it becomes a wrong answer).
    */
  final case class CcStats(rounds: Int, edgesPerRound: Seq[Long])

  /** `connectedComponents` plus its [[CcStats]]. The stats are free: the
    * per-round fixpoint checksum already counts the edge set.
    */
  def connectedComponentsWithStats(
      pairs: DataFrame, maxRounds: Int = 50,
      checkpointDir: Option[String] = None): (DataFrame, CcStats) = {
    val cols = pairs.columns
    // eager checkpoint, NOT cache(): each round's plan must start
    // from MATERIALIZED edges with no lineage into the previous round.
    // With cache()+unpersist(), any cache miss on round N recomputes
    // round N-1's plan, whose ancestors were already unpersisted —
    // cascading all the way back through the (expensive) edge-build DAG:
    // measured 19 s/round vs 1.3 s/round on a 250-edge graph at sf0.1.
    // Lineage truncation per iteration is the standard fix (same reason
    // GraphFrames' CC checkpoints); `checkpointDir` switches it to
    // reliable filesystem checkpoints for clusters where executor loss
    // mid-loop must be recoverable (Checkpoints.truncate has the fault
    // model). Old rounds' checkpoint data is reclaimed by the
    // ContextCleaner on GC.
    //
    // fixpoint ⇔ the edge SET is unchanged: (count, XOR of a 64-bit row
    // hash) is a deterministic set fingerprint. XOR (not sum): edges are
    // distinct, so XOR is order-independent AND cannot overflow. r18: the
    // fingerprint is folded INTO the checkpoint's materialization job
    // (Checkpoints.truncateFingerprint) — previously a separate
    // count+bit_xor aggregate re-read the just-written blocks, one extra
    // job per round on a loop whose bench-scale cost IS per-round job
    // latency (ProfileRun: dedup_clusters ran 40 jobs for 3.4 s of wall).
    def ckFp(df: DataFrame): (DataFrame, (Long, Long)) =
      graft.operators.Checkpoints.truncateFingerprint(df, checkpointDir)
    var (e, prev) = ckFp(pairs
      .select(col(cols(0)).as("s"), col(cols(1)).as("d"))
      .filter(col("s") =!= col("d"))
      .select(greatest(col("s"), col("d")).as("u"), least(col("s"), col("d")).as("v"))
      .distinct())
    var rounds = 0
    var converged = prev._1 == 0L
    val edgeCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (!converged) {
      if (rounds >= maxRounds) {
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds star-contraction rounds " +
            "— refusing to emit truncated (wrong) canonical ids")
      }
      // large-star: from each node a, every bigger neighbor b links to
      // min(Γ⁺(a)). Each min-oriented edge (u > v) is processed from its
      // SMALLER endpoint's group (a = v, b = u), so no edge is lost.
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e.select(col("v").as("a"), col("u").as("b")))
      val mL = sym.groupBy(col("a")).agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      val large = sym.join(mL, Seq("a"))
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: edges are min-oriented (u > v); every neighbor of u
      // and u itself link to m = min(Γ(u))
      val mS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val (small, s) = ckFp(large.join(mS, Seq("u"))
        .select(col("v").as("nn"), col("m"))
        .unionByName(mS.select(col("u").as("nn"), col("m")))
        .filter(col("nn") =!= col("m"))
        .select(col("nn").as("u"), col("m").as("v"))
        .distinct())
      converged = s == prev
      prev = s
      e = small
      rounds += 1
      edgeCounts += s._1
    }
    log.info(s"connectedComponents converged in $rounds rounds; " +
      s"edges/round: ${edgeCounts.mkString(", ")}")
    // fixpoint edges are stars (node, component-min)
    val labels = e.select(col("u").as("doc_id"), col("v").as("canonical_id"))
      .unionByName(e.select(col("v").as("doc_id"), col("v").as("canonical_id")))
      .groupBy(col("doc_id")).agg(min(col("canonical_id")).as("canonical_id"))
    (labels, CcStats(rounds, edgeCounts.toSeq))
  }

  /** Connected components over the near-duplicate pair graph: every doc
    * is labeled with the MINIMUM doc_id reachable through near-dup edges
    * (its canonical representative). Keep-one-per-cluster dedup follows by
    * `doc_id == canonical_id`.
    *
    * Edges come from `minhashLshPairs` — candidates from band-bucket
    * equi-joins (work ∝ collisions), NOT the uncapped all-shared-shingle
    * self-join: at 100 TB the edge build is the dominant cost and the LSH
    * path is the one that scales. The label computation is star
    * contraction (`connectedComponents`) — O(log n) rounds, honest
    * failure on non-convergence. Isolated docs (the overwhelming majority
    * of a real corpus) never enter the iteration and are re-attached at
    * the end with their own id.
    */
  def nearDupClusters(documents: DataFrame, n: Int = 5, minJaccard: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(documents, n, minJaccard).select("doc_a", "doc_b")
    val labels = connectedComponents(pairs)
    documents.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
  }

  /** Keep-best-per-cluster curation over PRECOMPUTED cluster labels:
    * within each near-dup cluster keep the member with the highest
    * quality score (tie → lowest doc_id). Taking `labels` as an argument
    * (rather than recomputing `nearDupClusters` internally) is the
    * production shape: the LSH pair graph + connected components is the
    * expensive stage, computed ONCE and shared by every downstream
    * consumer (keep-best, cluster-size stats, scrubbing) — see
    * `Curate.curateNearDup` for the composite.
    *
    * Returns (canonical_id, kept_doc, cluster_size, quality).
    */
  def keepBestPerCluster(documents: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextAnalysis.withQuality(documents)
      .select(col("doc_id"), col("quality_score"))
    val wBest = Window.partitionBy(col("canonical_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    labels.join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(wBest))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("canonical_id"))))
      .filter(col("rn") === 1)
      .select(col("canonical_id"), col("doc_id").as("kept_doc"),
        // raw double, not round(…, 4): the score is computed by the same
        // float ops in both engines so it is bit-identical, while HALF_UP
        // rounding of a halfway representation is not
        col("cluster_size"), col("quality_score").as("quality"))
  }

  /** 32-bit SimHash over token frequencies: bit b set iff
    * Σ_tokens cnt·(2·bit_b(h(token))−1) > 0, h = 60-bit md5 prefix.
    * One explode + one groupBy = one shuffle; the 32 bit-sums are
    * computed as 32 aggregate expressions in the same pass.
    */
  val simhashBits = 32

  def simhash(documents: DataFrame): DataFrame = {
    val tok = documents
      .withColumn("toks", expr(TextAnalysis.tokensExpr))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", expr(s"cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"))
    val bitSums = (0 until simhashBits).map { b =>
      sum(col("cnt") * (shiftright(col("h"), b).bitwiseAND(1) * 2 - 1)).as(s"w$b")
    }
    val sums = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until simhashBits)
      .map(b => when(col(s"w$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), hash.as("simhash"))
  }
}
