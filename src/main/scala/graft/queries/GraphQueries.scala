package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.MassFlow
import org.apache.spark.sql.functions._

/** Graph analytics over the part↔supplier bipartite graph implied by
  * lineitem (distinct (l_partkey, l_suppkey) pairs — the co-purchase
  * structure a catalog-ranking pipeline mines). Complements
  * `Dedup.connectedComponents` (cluster membership) with a RANKING
  * primitive: random-walk mass propagation, the PageRank family in exact
  * integer arithmetic so the driver can hash-match DuckDB (float PageRank
  * can never hash-match across engines — per-node sums arrive in
  * different orders).
  *
  * Supplier nodes are encoded as negative ids so both sides share one
  * BIGINT key domain; the walk alternates sides each round. The oracle is
  * the SAME fixed-point iteration unrolled into a chained-CTE pipeline,
  * generated by one Scala loop (never hand-retyped per dialect).
  */
object GraphQueries {

  private val Iters = 4
  private val BfsRounds = 3

  /** Unrolled hop-bounded SSSP oracle: d0 = the seed at distance 0, each
    * di re-relaxes ALL of d{i-1} over the weighted edges and
    * min-aggregates — naive Bellman-Ford, the delta-free statement of
    * what Sssp.hopBounded computes.
    */
  private def ssspOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + e.w AS dist
         |    FROM d${i - 1} d JOIN edges e ON e.src = d.node
         |  ) u GROUP BY node
         |)""".stripMargin
    }
    s"""WITH pw AS MATERIALIZED (
       |  SELECT CAST(l_partkey AS BIGINT) AS p, CAST(l_suppkey AS BIGINT) AS s,
       |         CAST(ROUND(min(l_extendedprice) * 100) AS BIGINT) AS w
       |  FROM lineitem GROUP BY 1, 2
       |), edges AS MATERIALIZED (
       |  SELECT p AS src, -s AS dst, w FROM pw
       |  UNION ALL
       |  SELECT -s AS src, p AS dst, w FROM pw
       |), d0 AS (
       |  SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
       |),
       |${steps.mkString(",\n")}
       |SELECT node, dist FROM d$rounds ORDER BY node""".stripMargin
  }

  /** Unrolled BFS oracle (the massFlowOracle idiom): v0 = the seed, each
    * vi re-expands ALL of v{i-1} and min-aggregates hops — naive but
    * obviously-correct; rounds past full reachability are no-ops.
    * AS MATERIALIZED: each vi is referenced twice by v{i+1} (kCoreOracle's
    * exponential-inlining lesson).
    */
  private def bfsOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""v$i AS MATERIALIZED (
         |  SELECT node, MIN(hops) AS hops FROM (
         |    SELECT node, hops FROM v${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, v.hops + 1 AS hops
         |    FROM v${i - 1} v JOIN edges e ON e.src = v.node
         |  ) u GROUP BY node
         |)""".stripMargin
    }
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS p, CAST(l_suppkey AS BIGINT) AS s
       |  FROM lineitem
       |), edges AS MATERIALIZED (
       |  SELECT p AS src, -s AS dst FROM pairs
       |  UNION ALL
       |  SELECT -s AS src, p AS dst FROM pairs
       |), v0 AS (
       |  SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hops
       |),
       |${steps.mkString(",\n")}
       |SELECT node, hops FROM v$rounds ORDER BY node""".stripMargin
  }

  /** DuckDB side of the iteration, unrolled: m0 → m1 → … → m`iters`.
    * Integer div is `//` in DuckDB (`div` in Spark); `%` and BIGINT
    * sums agree exactly between engines on non-negative masses.
    */
  private def massFlowOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""m$i AS (
         |  SELECT m.node, m.mass % d.d + COALESCE(i2.got, CAST(0 AS BIGINT)) AS mass
         |  FROM m${i - 1} m JOIN deg d ON m.node = d.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(m2.mass // d2.d) AS BIGINT) AS got
         |    FROM m${i - 1} m2
         |    JOIN deg d2 ON m2.node = d2.node
         |    JOIN edges e ON e.src = m2.node
         |    GROUP BY e.dst) i2 ON m.node = i2.node
         |)""".stripMargin
    }
    s"""WITH pairs AS (
       |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS p, CAST(l_suppkey AS BIGINT) AS s
       |  FROM lineitem
       |), edges AS (
       |  SELECT p AS src, -s AS dst FROM pairs
       |  UNION ALL
       |  SELECT -s AS src, p AS dst FROM pairs
       |), deg AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src
       |), m0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS mass FROM deg
       |),
       |${steps.mkString(",\n")}
       |SELECT CAST(-node AS BIGINT) AS suppkey, mass
       |FROM m$iters WHERE node < 0
       |ORDER BY suppkey""".stripMargin
  }

  /** Unrolled k-core oracle: `rounds` peeling steps as chained CTEs
    * (the massFlowOracle idiom — generated by one Scala loop, never
    * hand-retyped). The engine peels to its FIXPOINT; the oracle unrolls
    * a fixed round count ≥ the convergence depth, and rounds past the
    * fixpoint are no-ops, so the two agree exactly.
    */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    // AS MATERIALIZED: each a_i is referenced TWICE by a_{i+1} — left to
    // its default inlining heuristic DuckDB expands the chain
    // exponentially (2^rounds copies of the base scan; observed as "too
    // many open files" at rounds=12)
    val steps = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT e.src AS node, count(*) AS d
         |  FROM dedges e
         |  JOIN a${i - 1} x ON e.src = x.node
         |  JOIN a${i - 1} y ON e.dst = y.node
         |  GROUP BY e.src HAVING count(*) >= $k
         |)""".stripMargin
    }
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
       |), und AS MATERIALIZED (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.p < b.p
       |), dedges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM und
       |  UNION ALL
       |  SELECT v AS src, u AS dst FROM und
       |), a0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM dedges
       |),
       |${steps.mkString(",\n")}
       |SELECT e.src AS node, count(*) AS core_degree
       |FROM dedges e
       |JOIN a$rounds x ON e.src = x.node
       |JOIN a$rounds y ON e.dst = y.node
       |GROUP BY e.src
       |ORDER BY node""".stripMargin
  }

  /** Co-purchase edges (u, v) with u < v: parts sharing an order.
    * r17 (guide §2.3/§2.4): was a `pairs ⋈ pairs ON same order, p_a < p_b`
    * self-join — two exchanges of the row-grain pair table keyed by
    * order plus the distinct's. Now ONE aggregation: collect the order's
    * distinct part set (map-side partial aggregation collapses the
    * per-order duplicates before the shuffle) and explode the sorted
    * set's ordered pairs. Same edge multiset (downstream `distinct`
    * unchanged), one lineitem scan instead of two join sides, and the
    * shuffle carries one row per order instead of one per (order, part).
    * Per-order part counts are bounded (basket-sized) at any corpus
    * scale, so the explode's fan-out is a constant, never skew.
    */
  private def copurchaseEdges(spark: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
      .groupBy("o").agg(sort_array(collect_set(col("p"))).as("ps"))
    // width floor on the explode stage (r18, §2.5): AQE coalesces the
    // per-order aggregate to the advisory size, so the quadratic
    // pair-explode below ran 4 tasks at sf0.1 on local[32]. When the
    // source relation is small (the scan spread's gate — at production
    // scale the agg output has ≥ width partitions and the gate is off),
    // one cheap exchange of the compact basket rows parallelizes the
    // fan-out for both consumers (triangles, k-core).
    val wide =
      if (Tables.smallRelation(spark, dir, "lineitem"))
        baskets.repartition(Tables.spreadWidthFor(spark), col("o"))
      else baskets
    wide
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
             transform(slice(ps, i + 2, size(ps) - i - 1), y -> struct(x AS u, y AS v))))"""))
        .as("e"))
      .select(col("e.u"), col("e.v"))
  }

  val entries: Seq[QueryDef] = Seq(
    // final supplier-side mass after `Iters` alternating rounds — the
    // walk's stationary tendency ranks suppliers by how much co-purchase
    // structure funnels into them; exact BIGINTs, so ORDER BY the key is
    // a total order and the hash compare is deterministic
    QueryDef(
      "graph_mass_flow",
      Some(massFlowOracle(Iters)),
      (spark, dir) => {
        val pairs = Tables.lineitem(spark, dir)
          .select(col("l_partkey").cast("long").as("p"),
            col("l_suppkey").cast("long").as("s"))
          .distinct()
        // both directions in ONE pass over pairs (r18): the union's two
        // children each re-ran pairs' final (post-shuffle) aggregate —
        // only the exchange below it is reuse-shared
        val edges = pairs.select(explode(array(
            struct(col("p").as("src"), (-col("s")).as("dst")),
            struct((-col("s")).as("src"), col("p").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        MassFlow.propagate(edges, Iters)
          .filter(col("node") < 0)
          .select((-col("node")).as("suppkey"), col("mass"))
          .orderBy("suppkey")
      }),

    // per-part triangle membership in the co-purchase graph (parts
    // bought together in one order are connected) — the local-clustering
    // primitive behind "frequently bought together" neighborhoods. The
    // Spark side runs the degree-ORIENTED wedge enumeration
    // (operators/Triangles.scala — fan-out bounded by √E, not by the
    // hottest part's degree); the oracle states the NAIVE id-ordered
    // triple self-join — same triangle set, so the hash compare proves
    // the orientation is a pure execution-strategy change.
    QueryDef(
      "graph_triangles",
      Some("""
        WITH pairs AS (
          SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
        ), edges AS (
          SELECT DISTINCT a.p AS u, b.p AS v
          FROM pairs a JOIN pairs b ON a.o = b.o AND a.p < b.p
        ), tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM edges e1
          JOIN edges e2 ON e2.u = e1.v
          JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        ), nodes AS (
          SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        )
        SELECT node, COUNT(*) AS n_triangles
        FROM nodes GROUP BY node ORDER BY node
      """.stripMargin.trim),
      (spark, dir) => {
        graft.Tails.orderedSmall(
          // compact-forward: same oriented triangle set as the wedge
          // join, but only actual triangles materialize as rows —
          // measured 5.5 → 3.9 s steady-state at sf0.1 (Triangles
          // scaladoc); the wedge variant stays available and
          // property-equal for graphs where adjacency arrays are the
          // wrong trade
          graft.operators.Triangles.perNodeCountsAdjacency(copurchaseEdges(spark, dir)),
          col("node"))
      }),

    // k-core of the co-purchase graph — the engine peels to its
    // fixpoint, the oracle unrolls 12 rounds (no-ops past convergence),
    // and the hash match certifies the whole iterative computation, not
    // one step. k=65 bites at every driver SF (sf0.001: 4 peeling
    // rounds, 188/200 parts survive; sf0.01: cascade shallower in the
    // denser graph) while the core stays non-empty — the t1 smoke's
    // rows>0 contract.
    QueryDef(
      "graph_kcore",
      Some(kCoreOracle(k = 65, rounds = 12)),
      (spark, dir) => {
        val edges = copurchaseEdges(spark, dir)
        // r12: delta peeling — O(V) degree state, removed nodes
        // propagate decrements; measured 279.3 → 126.2 s at sf10 under
        // the same 28g/16t budget (ratio 18.8× → 7.9×, superlinearity
        // gone), identical output (SCALE.md sf1/sf10 table, GraphSpec
        // property)
        graft.Tails.orderedSmall(
          graft.operators.KCore.kCoreDelta(edges, k = 65, maxRounds = 12),
          col("node"))
      }),

    // BFS hop distance from part 1 over the part↔supplier bipartite
    // graph (supplier nodes negative, the massFlow encoding) — the
    // engine runs FRONTIER-ONLY expansion (operators/Bfs.scala), the
    // oracle re-expands the whole reached set every round and
    // min-aggregates, so the hash match proves frontier pruning is pure
    // execution strategy. 3 rounds: parts at hop 0/2, suppliers at 1/3.
    QueryDef(
      "graph_bfs_hops",
      Some(bfsOracle(BfsRounds)),
      (spark, dir) => {
        import spark.implicits._
        val pairs = Tables.lineitem(spark, dir)
          .select(col("l_partkey").cast("long").as("p"),
            col("l_suppkey").cast("long").as("s"))
          .distinct()
        // both directions in ONE pass over pairs (r18): the union's two
        // children each re-ran pairs' final (post-shuffle) aggregate —
        // only the exchange below it is reuse-shared
        val edges = pairs.select(explode(array(
            struct(col("p").as("src"), (-col("s")).as("dst")),
            struct((-col("s")).as("src"), col("p").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        graft.Tails.orderedSmall(
          graft.operators.Bfs.hops(edges, Seq(1L).toDF("node"), BfsRounds),
          col("node"))
      }),

    // hop-bounded weighted shortest paths from part 1 over the same
    // bipartite graph, edge weight = that (part, supplier) pair's
    // cheapest lineitem in exact cents. Engine = DELTA-only Bellman-Ford
    // (operators/Sssp.scala: relax only nodes improved last round); the
    // oracle re-relaxes the whole reached set per round — hash match
    // proves delta pruning is execution strategy, and exact BIGINT
    // distances are what make the cross-engine compare possible at all.
    QueryDef(
      "graph_sssp",
      Some(ssspOracle(BfsRounds)),
      (spark, dir) => {
        import spark.implicits._
        val pairs = Tables.lineitem(spark, dir)
          .groupBy(col("l_partkey").cast("long").as("p"),
            col("l_suppkey").cast("long").as("s"))
          .agg(round(min(col("l_extendedprice")) * 100).cast("long").as("w"))
        // both directions in ONE pass over pairs — see graph_mass_flow (r18)
        val edges = pairs.select(explode(array(
            struct(col("p").as("src"), (-col("s")).as("dst"), col("w")),
            struct((-col("s")).as("src"), col("p").as("dst"), col("w")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
        graft.Tails.orderedSmall(
          graft.operators.Sssp.hopBounded(edges, Seq(1L).toDF("node"), BfsRounds),
          col("node"))
      })
  )
}
