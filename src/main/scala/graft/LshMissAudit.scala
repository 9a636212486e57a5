package graft

/** Post-mortem for individual sign-LSH misses (measurement main, like
  * MinhashSizingSmoke; the sf1 run is recorded in
  * tools/lsh_miss_audit_sf1_r12.json): given specific (vec_a, vec_b)
  * pairs an exact oracle found but `Similarity.nearDupPairs` did not,
  * prove WHERE they were lost. For each pair it reports, from the same
  * quantization and the same seeded plane/band derivation as
  * `functions.LshTableKeys` (graft_lsh_keys):
  *
  *  - the exact int64-quantized cosine (was the pair truly ≥ θ?),
  *  - the signature Hamming distance k out of sigBits,
  *  - the number of colliding table keys (0 ⟹ candidate-generation
  *    miss — the pair never reached the verify step),
  *  - the analytic per-pair miss probability at that k,
  *    (1 − C(sigBits−k, bandBits)/C(sigBits, bandBits))^tables —
  *    the scaladoc model in `Similarity.nearDupCandidates`.
  *
  * A miss with 0 common tables and a model probability of the observed
  * order confirms the approximate operator is behaving exactly as its
  * published recall model says — as opposed to a hashing bug or a
  * verify-predicate divergence (both of which would show up here as
  * common tables > 0 or cos < θ).
  *
  * Usage: tools/run_main.sh graft.LshMissAudit <embeddingsParquet> \
  *          <pairs a:b,a:b,...> [sigBits=64] [tables=128] [bandBits=4] [seed=12345]
  */
object LshMissAudit {

  def main(args: Array[String]): Unit = {
    val embPath = args(0)
    val pairs = args(1).split(",").map { s =>
      val Array(a, b) = s.split(":"); (a.toLong, b.toLong)
    }
    val sigBits = if (args.length > 2) args(2).toInt else 64
    val tables = if (args.length > 3) args(3).toInt else 128
    val bandBits = if (args.length > 4) args(4).toInt else 4
    val seed = if (args.length > 5) args(5).toLong else 12345L

    val spark = GraftSession("graft-lsh-miss-audit")
    spark.sparkContext.setLogLevel("WARN")

    val wanted = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    // bounded collect: only the vectors named in the pairs under audit
    val vecs: Map[Long, Array[Long]] = spark.read.parquet(embPath)
      .filter(org.apache.spark.sql.functions.col("vec_id").isin(wanted: _*))
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 10000) as bigint)) as q")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .toMap

    // identical derivation to LshTableKeys (same seed → same planes/bands)
    val rnd = new scala.util.Random(seed)
    val dims = vecs.values.head.length
    val planes = Array.fill(sigBits)(Array.fill(dims)(if (rnd.nextBoolean()) 1L else -1L))
    val tableBits = Array.fill(tables)(rnd.shuffle((0 until sigBits).toList).take(bandBits).toArray)

    def signature(q: Array[Long]): Array[Boolean] =
      planes.map { w =>
        var s = 0L; var i = 0
        while (i < q.length) { s += q(i) * w(i); i += 1 }
        s > 0
      }
    def keys(sig: Array[Boolean]): Set[Long] =
      tableBits.zipWithIndex.map { case (idxs, t) =>
        var b = 0L
        idxs.zipWithIndex.foreach { case (bit, k) => if (sig(bit)) b |= (1L << k) }
        t.toLong * (1L << bandBits) + b
      }.toSet
    def choose(n: Int, r: Int): Double =
      if (r > n) 0.0 else (0 until r).map(i => (n - i).toDouble / (i + 1)).product

    pairs.foreach { case (a, b) =>
      val (qa, qb) = (vecs(a), vecs(b))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      val cos = dot / (math.sqrt(qa.map(x => x * x).sum.toDouble) *
        math.sqrt(qb.map(x => x * x).sum.toDouble))
      val (sa, sb) = (signature(qa), signature(qb))
      val k = sa.zip(sb).count { case (x, y) => x != y }
      val common = keys(sa).intersect(keys(sb)).size
      val pMatch = choose(sigBits - k, bandBits) / choose(sigBits, bandBits)
      val pMiss = math.pow(1.0 - pMatch, tables)
      println(f"pair ($a,$b): cos=$cos%.6f hamming_k=$k/$sigBits " +
        f"common_tables=$common p_table_match=$pMatch%.5f p_miss=$pMiss%.2e")
    }
    spark.stop()
  }
}
