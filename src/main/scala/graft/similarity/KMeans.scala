package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline k-means codebook training (Lloyd iterations) — the producer
  * of the external centroid tables `Similarity.ivfTopKWithCentroids`
  * and `pqAdc*` consume. Training loops are not engine-reproducible, so
  * this never appears inside an oracled query (the catalog's IVF entries
  * read FIXED codebooks); it is the operator a production deployment
  * runs offline to make those codebooks.
  *
  * Scale shape per iteration: assignment is one crossJoin against the
  * BROADCAST k-row codebook scored with the codegen'd `graft_dot`
  * (O(n·k) work, no shuffle), then one (cell, dim) aggregation for the
  * new means (map-side partial sums; k×64 rows out). The k×64 centroid
  * table round-trips through `localCheckpoint`, never the driver, and
  * per-round lineage is truncated like `Dedup.connectedComponents`.
  * Both initializations are deterministic, so the whole training run is
  * reproducible given the data.
  *
  * Two seedings, one Lloyd loop:
  *  - `train` — farthest-first (k-center): k SEQUENTIAL broadcast-scored
  *    passes. Best spread, fine for codebook k ≤ ~256; the k driver
  *    round-trips become the bottleneck at PQ-scale k.
  *  - `trainParallelInit` — k-means‖ (Bahmani et al., VLDB 2012):
  *    O(rounds) passes TOTAL, each drawing ~oversample·k candidates in
  *    parallel with probability ∝ distance-to-candidate-set, then a
  *    weighted recluster of the small candidate set down to k. Same
  *    consumer contract, constant number of cluster-wide passes.
  */
object KMeans {

  private def validate(embeddings: DataFrame, k: Int, iters: Int): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters (iters=0 would return no assignments)")
    require(!embeddings.isEmpty, "k-means on an empty embeddings table")
  }

  private def cosCol: org.apache.spark.sql.Column =
    expr("graft_dot(q, qc)").cast("double") /
      sqrt(col("norm2").cast("double") * col("nc").cast("double"))

  /** Deterministic farthest-first seeding (k-center init): seed 1 is the
    * lowest-id vector; each next seed is the vector minimizing its max
    * cosine to the chosen seeds (ties on id). The naive "k lowest ids"
    * seeds all land in one region of a clustered corpus and Lloyd never
    * fully recovers (measured purity 0.75 vs 1.0 on planted clusters);
    * farthest-first spreads seeds across the clusters in k cheap
    * broadcast-scored passes — but the passes are SEQUENTIAL driver
    * round-trips; use `trainParallelInit` past codebook-size k.
    */
  private def farthestFirstSeeds(embeddings: DataFrame, k: Int): DataFrame = {
    val e = Similarity.quantized(embeddings).select(col("vec_id"), col("q"), col("norm2"))
    var seedIds = Seq(embeddings.agg(min(col("vec_id"))).head.getLong(0))
    while (seedIds.size < k) {
      val qc = Similarity.quantized(
          embeddings.filter(col("vec_id").isin(seedIds: _*)))
        .select(col("q").as("qc"), col("norm2").as("nc"))
      val next = e.filter(!col("vec_id").isin(seedIds: _*))
        .crossJoin(broadcast(qc))
        .withColumn("cos", cosCol)
        .groupBy(col("vec_id")).agg(max(col("cos")).as("maxcos"))
        .orderBy(col("maxcos"), col("vec_id"))
        .limit(1).head.getLong(0)
      seedIds = seedIds :+ next
    }
    embeddings.filter(col("vec_id").isin(seedIds: _*))
      .select(col("vec_id").as("cent_id"), col("embedding"))
  }

  /** k-means‖ candidate draw + weighted recluster, all deterministic.
    *
    * Each of `rounds` passes: score every point against the BROADCAST
    * candidate set (one crossJoin + max-cos agg — no sequential driver
    * loop), convert to cosine distance d = 1 − maxcos, and draw each
    * point independently with probability min(1, oversample·k·d/Σd).
    * The "coin" is the deterministic Murmur3 hash of (vec_id, round)
    * mapped to [0,1) — reproducible given the data, no RNG state. After
    * `rounds` passes the ~1 + rounds·oversample·k candidates are
    * weighted by how many points they are nearest to, collected (a
    * BOUNDED artifact — k·rounds·oversample rows of 64 floats, the same
    * stance as ZOrder's cut arrays), and reclustered driver-side with
    * greedy weighted k-means++ + weighted Lloyd. Candidates short of k
    * (degenerate tiny inputs) are padded with the lowest-id leftovers.
    */
  private[graft] def parallelSeeds(embeddings: DataFrame, k: Int,
                                   rounds: Int, oversample: Double): DataFrame = {
    val spark = embeddings.sparkSession
    val e = Similarity.quantized(embeddings)
      .select(col("vec_id"), col("q"), col("norm2")).localCheckpoint()
    val l = oversample * k
    var cand = e.join(e.agg(min(col("vec_id")).as("vec_id")), Seq("vec_id"))
      .localCheckpoint()
    (1 to rounds).foreach { r =>
      val qc = broadcast(cand.select(col("q").as("qc"), col("norm2").as("nc")))
      val dist = e.crossJoin(qc)
        .withColumn("cos", cosCol)
        .groupBy(col("vec_id"))
        .agg(greatest(lit(0.0), lit(1.0) - max(col("cos"))).as("d"))
      val sumd = dist.agg(sum(col("d"))).head.getDouble(0)
      if (sumd > 0) {
        val u = pmod(hash(col("vec_id"), lit(r)), lit(Int.MaxValue))
          .cast("double") / Int.MaxValue.toDouble
        val drawn = dist.filter(u < col("d") * (l / sumd)).select("vec_id")
        cand = cand.unionByName(e.join(drawn, Seq("vec_id")))
          .dropDuplicates("vec_id").localCheckpoint()
      }
    }
    // weight candidates by the points they'd own (ties → lowest cand id)
    val qcAll = broadcast(cand.select(col("vec_id").as("cid"), col("q").as("qc"), col("norm2").as("nc")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))
    val weights = e.crossJoin(qcAll)
      .withColumn("cos", cosCol)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("cid")).agg(count(lit(1)).as("wt"))
    var cs = cand.select(col("vec_id"))
      .join(embeddings.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(weights.withColumnRenamed("cid", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("embedding"), coalesce(col("wt"), lit(1L)).as("wt"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getLong(2).toDouble))
    if (cs.length < k) {
      // degenerate tiny input: pad deterministically with lowest-id leftovers
      val have = cs.map(_._1).toSet
      val pad = embeddings.filter(!col("vec_id").isin(have.toSeq: _*))
        .select(col("vec_id"), col("embedding")).orderBy("vec_id")
        .limit(k - cs.length).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, 1.0))
      cs = cs ++ pad
    }
    val cents = reclusterWeighted(cs, math.min(k, cs.length))
    import spark.implicits._
    cents.zipWithIndex
      .map { case (v, i) => (i.toLong + 1L, v.map(_.toFloat)) }
      .toSeq.toDF("cent_id", "embedding")
  }

  /** Greedy weighted k-means++ (argmax wt·d² with an incrementally
    * maintained best-cos array — O(k·|cands|) dots total) followed by
    * weighted Lloyd on cosine. Pure driver math on the bounded candidate
    * set; fully deterministic (ties by candidate id).
    */
  private def reclusterWeighted(cs: Array[(Long, Array[Double], Double)], k: Int): Array[Array[Double]] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = math.sqrt(dot(a, a) * dot(b, b))
      if (d == 0) 0.0 else dot(a, b) / d
    }
    val first = cs.minBy { case (id, _, w) => (-w, id) }
    val chosen = scala.collection.mutable.ArrayBuffer(first._2)
    val best = cs.map(c => cos(c._2, first._2))
    while (chosen.size < k) {
      var bi = -1; var bscore = -1.0
      cs.indices.foreach { i =>
        val d = math.max(0.0, 1.0 - best(i))
        val score = cs(i)._3 * d * d
        if (score > bscore + 1e-15) { bscore = score; bi = i }
      }
      val c = cs(bi)._2
      chosen += c
      cs.indices.foreach { i => best(i) = math.max(best(i), cos(cs(i)._2, c)) }
    }
    var cents = chosen.toArray
    (1 to 10).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](cents(0).length))
      val ws = new Array[Double](k)
      cs.foreach { case (_, v, w) =>
        var bi = 0; var bc = -2.0
        cents.indices.foreach { j =>
          val c = cos(v, cents(j)); if (c > bc) { bc = c; bi = j }
        }
        ws(bi) += w
        v.indices.foreach(d => sums(bi)(d) += w * v(d))
      }
      cents = cents.indices.map { j =>
        if (ws(j) == 0) cents(j) else sums(j).map(_ / ws(j))
      }.toArray
    }
    cents
  }

  /** The shared Lloyd loop: `iters` rounds of broadcast-codebook cosine
    * assignment + (cell, dim) mean agg, starting from `cents0`
    * (cent_id, embedding). Cells that lose every member keep their
    * previous centroid.
    */
  private def lloyd(embeddings: DataFrame, cents0: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    val e = Similarity.quantized(embeddings).select(col("vec_id"), col("q"), col("norm2"))
      .localCheckpoint()
    var cents = cents0.localCheckpoint()
    var assign: DataFrame = null
    (1 to iters).foreach { _ =>
      val qc = Similarity.quantized(cents)
        .select(col("cent_id"), col("q").as("qc"), col("norm2").as("nc"))
      val scored = e.crossJoin(broadcast(qc)).withColumn("cos", cosCol)
      val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cent_id"))
      assign = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cent_id").as("cell"))
        .localCheckpoint()
      val means = assign
        .join(embeddings.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(avg(col("v")).as("mu"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, mu))), s -> cast(s.mu as float))")
          .as("new_emb"))
      // empty cells keep their previous centroid
      cents = cents.join(means, cents("cent_id") === means("cell"), "left")
        .select(col("cent_id"), coalesce(col("new_emb"), col("embedding")).as("embedding"))
        .localCheckpoint()
    }
    (assign, cents)
  }

  /** `iters` Lloyd rounds from farthest-first seeds. Returns
    * (assignments, centroids): assignments = (vec_id, cell); centroids =
    * (cent_id, embedding: array<float>) — directly pluggable into
    * `ivfTopKWithCentroids`.
    */
  def train(embeddings: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    validate(embeddings, k, iters)
    lloyd(embeddings, farthestFirstSeeds(embeddings, k), iters)
  }

  /** `iters` Lloyd rounds from k-means‖ seeds — the web-scale
    * initialization: O(rounds) cluster passes instead of k sequential
    * ones. Same return contract as `train`.
    */
  def trainParallelInit(embeddings: DataFrame, k: Int, iters: Int,
                        rounds: Int = 5, oversample: Double = 2.0): (DataFrame, DataFrame) = {
    validate(embeddings, k, iters)
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(oversample > 0, s"oversample must be > 0, got $oversample")
    lloyd(embeddings, parallelSeeds(embeddings, k, rounds, oversample), iters)
  }
}
