package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting by degree-ordered wedge enumeration
  * (the MapReduce-classic orientation trick: direct every undirected
  * edge toward its higher-degree endpoint, enumerate wedges only at the
  * LOW end of each edge, and close them against the directed edge set).
  *
  * Why the orientation matters at 100 TB: a naive id-ordered wedge join
  * fans out quadratically in the max NODE degree — one celebrity node
  * with 10M neighbors makes 5·10¹³ wedges on a single join key. Under
  * degree orientation every node's OUT-degree is bounded by O(√E)
  * (a node keeps only edges toward nodes of equal-or-larger degree, and
  * there can be at most 2√E nodes of degree ≥ √E), so the wedge join's
  * per-key fan-out — and with it the shuffle volume — is bounded by
  * arboricity, not by the skewed degree distribution. Every shuffle here
  * is an equi-join; there is no cartesian anywhere.
  *
  * Total-order tie-break is (degree, id), making the orientation — and
  * the enumerated triangle set — deterministic.
  */
object Triangles {

  /** Per-node triangle membership counts.
    *
    * @param edges two columns `u`, `v` (BIGINT) — undirected, may
    *              contain duplicates / reversed duplicates / self-loops;
    *              canonicalized and deduplicated here.
    * @return (node, n_triangles), one row per node in ≥1 triangle.
    */
  def perNodeCounts(edges: DataFrame): DataFrame = {
    // canonical undirected edge set: u < v, no self-loops, distinct
    val und = edges
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

    // one pass, not a union of two renamed projections (r18): the
    // union's two children each re-ran the distinct's final aggregate
    // (only the exchange below it is reuse-shared)
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))

    // orient toward the (deg, id)-larger endpoint; carry the head's
    // rank pair so the wedge join can order heads without a re-join.
    // Join the SAME aliased deg via conditions, not per-side renamed
    // projections (r18): distinct alias names inside the build subtrees
    // make them canonically unequal, so the degree aggregation and its
    // broadcast were built twice instead of reused.
    val withDeg = und
      .join(deg.as("dx"), col("u") === col("dx.node"))
      .join(deg.as("dy"), col("v") === col("dy.node"))
    val uFirst = col("dx.deg") < col("dy.deg") ||
      (col("dx.deg") === col("dy.deg") && col("u") < col("v"))
    // materialize: the oriented edge set feeds THREE consumers (both
    // wedge sides + the closing join) — without this the whole
    // canonicalize→degree→orient lineage executes three times (the
    // MassFlow lesson; measured 13.4 s → ~5 s at sf0.1). On a cluster
    // an executor-local checkpoint of O(E) rows is cheap; loss just
    // recomputes.
    val dirRaw = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("a"),
      when(uFirst, col("v")).otherwise(col("u")).as("b"),
      when(uFirst, col("dy.deg")).otherwise(col("dx.deg")).as("db"))
      .transform(Checkpoints.truncateSession)
    // width floor (r18): the wedge join is the per-row-heavy consumer —
    // give it session-width parallelism when the checkpoint landed
    // narrow; the closing/bloom/count branches keep the raw read (they
    // re-shuffle by their own keys anyway)
    val dir = Checkpoints.widen(dirRaw, Seq("a"))

    // wedges at the low endpoint: unordered head pairs {b, c}, emitted
    // once with b preceding c in the same (deg, id) total order
    val p = dir.select(col("a"), col("b").as("x"), col("db").as("dx"))
    val q = dir.select(col("a"), col("b").as("y"), col("db").as("dy"))
    val wedges = p.join(q,
      p("a") === q("a") &&
        (p("dx") < q("dy") || (p("dx") === q("dy") && p("x") < q("y"))))
      .select(p("a").as("a"), p("x").as("b"), q("y").as("c"))

    // Bloom-prefilter the wedge set BEFORE the closing shuffle: in a
    // dense graph wedges outnumber edges ~mean-degree-fold (the sf0.1
    // catalog graph makes ~70M wedges over 1.2M edges), and most close
    // nothing. The edge sketch ships as a foldable literal into the
    // might_contain expression (the decontamination-path idiom); no
    // false negatives, and the inner join removes the fpp leakage — the
    // result is exactly the unfiltered plan's.
    val closing = dirRaw.select(col("a").as("b"), col("b").as("c"))
    // sizing count reads the CHECKPOINTED dir, not the und lineage
    val bytes = SafeBloom.serialized(
      closing.select(xxhash64(col("b"), col("c")).as("_h")), "_h", 0.03, dirRaw.count())
    val candidates = wedges.filter(
      call_function("graft_might_contain", lit(bytes), xxhash64(col("b"), col("c"))))

    // close the wedge: (b, c) must be a directed edge (edges are
    // distinct, so inner join multiplicity is exactly 0 or 1)
    val tri = candidates.join(closing, Seq("b", "c"))

    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Compact-forward variant: instead of MATERIALIZING every wedge as a
    * join row (the sf0.1 catalog graph makes ~70M), build each node's
    * oriented out-neighbor list once and intersect the two endpoint
    * lists per directed edge — triangles {a,b,c} surface as
    * `N⁺(a) ∩ N⁺(b)` for the edge a→b, and only ACTUAL triangles become
    * rows (the explode of the intersection). Same degree orientation,
    * same deterministic triangle set; work is Σ_e (deg⁺(u)+deg⁺(v)) —
    * the same arboricity bound as the wedge join — but the shuffle
    * volume is O(E) adjacency rows instead of O(wedges) join rows.
    * Memory shape: one out-neighbor array per node, bounded O(√E) by
    * the orientation — never a full row explosion.
    */
  def perNodeCountsAdjacency(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // one pass, not a union of two renamed projections (r18): the
    // union's two children each re-ran the distinct's final aggregate
    // (only the exchange below it is reuse-shared)
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // same-aliased deg joined via conditions — see perNodeCounts (r18)
    val withDeg = und
      .join(deg.as("dx"), col("u") === col("dx.node"))
      .join(deg.as("dy"), col("v") === col("dy.node"))
    val uFirst = col("dx.deg") < col("dy.deg") ||
      (col("dx.deg") === col("dy.deg") && col("u") < col("v"))
    val dir = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("a"),
      when(uFirst, col("v")).otherwise(col("u")).as("b"))
      // feeds the edge scan + both adjacency sides; the width floor
      // (r18) parallelizes the per-edge array_intersect probe — measured
      // as a 3-task 2.2 s straggler stage at sf0.1 on local[32]
      .transform(Checkpoints.truncateSessionWide(Seq("a")))
    val adj = dir.groupBy(col("a").as("node"))
      .agg(collect_list(col("b")).as("nbrs"))
    // join via conditions on the SAME aliased adj, not per-side renamed
    // projections: a rename inside one side's aggregate result list
    // breaks canonical plan equality, so the collect_list aggregation
    // and its broadcast were built TWICE (r18; the plan pin showed
    // objagg=4 with no ReusedExchange) — with both build subtrees
    // identical, the second broadcast is a ReusedExchange
    val tri = dir
      .join(adj.as("x"), col("a") === col("x.node"))
      .join(adj.as("y"), col("b") === col("y.node"))
      .select(col("a"), col("b"),
        explode(array_intersect(col("x.nbrs"), col("y.nbrs"))).as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
