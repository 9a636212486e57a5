package graft.queries

import graft.{QueryDef, Tables}
import graft.etl.Companies
import org.apache.spark.sql.functions._

/** Join operator coverage (SURVEY.md §2.3 J1–J6, §2.7 U2, §2.4 A7).
  *
  * Scale posture: every dimension side is explicitly `broadcast()` —
  * customer/supplier/nation are dimension-sized even at 100 TB fact scale,
  * so no join here shuffles the fact table on its own key more than once,
  * and big sums use exact integer-cents arithmetic (order-independent)
  * rather than float summation.
  */
object JoinQueries {

  val entries: Seq[QueryDef] = Seq(
    // market-basket association rules over co-purchased parts: support,
    // confidence, and LIFT = P(A∩B)/(P(A)·P(B)) from exact integer
    // counts (one double division at the end, round(4)); support floor
    // ≥ 2 co-orders kills the singleton tail (the dense small-SF graphs
    // thin out fast at higher floors — 2 bites at every driver SF), top 20 under a fully-keyed
    // deterministic order. The same co-purchase pair table the graph
    // family mines, read as a recommender signal.
    QueryDef(
      "basket_lift",
      Some("""
        WITH op AS (
          SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
        ), n AS (
          SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM op
        ), pc AS (
          SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM op GROUP BY p
        ), pairs AS (
          SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS n_ab
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
          GROUP BY a.p, b.p HAVING count(*) >= 2
        )
        SELECT pa, pb, n_ab, ca.n_p AS n_a, cb.n_p AS n_b,
               round(CAST(n_ab AS DOUBLE) * n.n_orders / (ca.n_p * cb.n_p), 4) AS lift
        FROM pairs JOIN pc ca ON ca.p = pa JOIN pc cb ON cb.p = pb CROSS JOIN n
        ORDER BY lift DESC, pa, pb
        LIMIT 20
      """.stripMargin.trim),
      (spark, dir) => {
        // r17 (guide §2.3/§2.4, the copurchaseEdges rewrite): the pair
        // table used to come from `op ⋈ op ON same order` — two row-grain
        // exchanges keyed by order plus the distinct's. One basket-grain
        // aggregation now feeds all three consumers (pairs, per-part
        // counts, order count) via exchange reuse; per-order part counts
        // are basket-bounded, so the pair explode is O(1) per row.
        val byOrder0 = Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
          .groupBy("o").agg(sort_array(collect_set(col("p"))).as("ps"))
        // width floor on the explode consumers (r18, the copurchaseEdges
        // shape): AQE coalesces the basket aggregate narrow; one cheap
        // gated exchange parallelizes the quadratic pair explode
        val byOrder =
          if (Tables.smallRelation(spark, dir, "lineitem"))
            byOrder0.repartition(Tables.spreadWidthFor(spark), col("o"))
          else byOrder0
        val nOrders = byOrder.agg(count(lit(1)).as("n_orders"))
        val pc = byOrder.select(explode(col("ps")).as("p"))
          .groupBy("p").agg(count(lit(1)).as("n_p"))
        val pairs = byOrder
          .select(explode(expr(
            """flatten(transform(ps, (x, i) ->
                 transform(slice(ps, i + 2, size(ps) - i - 1), y -> struct(x AS pa, y AS pb))))"""))
            .as("e"))
          .groupBy(col("e.pa").as("pa"), col("e.pb").as("pb"))
          .agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 2)
        // same-aliased pc joined via conditions (r18): per-side renamed
        // projections made the two build subtrees canonically unequal,
        // so the per-part count aggregation + broadcast were built twice
        pairs
          .join(pc.as("ca"), col("pa") === col("ca.p"))
          .join(pc.as("cb"), col("pb") === col("cb.p"))
          .crossJoin(broadcast(nOrders))
          .select(col("pa"), col("pb"), col("n_ab"),
            col("ca.n_p").as("n_a"), col("cb.n_p").as("n_b"),
            round(col("n_ab").cast("double") * col("n_orders") /
              (col("ca.n_p") * col("cb.n_p")), 4).as("lift"))
          .orderBy(col("lift").desc, col("pa"), col("pb"))
          .limit(20)
      }),

    // last-touch click attribution, BATCH face of the streaming
    // stream-stream join (streaming/StreamJoins): each click left-joins
    // the same user's views in the 1-hour lookback and keeps the LATEST
    // (max_by on globally-unique timestamps — deterministic); organic
    // clicks survive with a null attribution. The join is a hash join on
    // user_id with the range as a residual filter — never a BNLJ.
    QueryDef(
      "click_attribution",
      Some("""
        WITH v AS (
          SELECT user_id, event_id AS view_id, ts AS view_ts FROM events
          WHERE event_type = 'view'
        ), c AS (
          SELECT user_id, event_id AS click_id, ts AS click_ts FROM events
          WHERE event_type = 'click'
        )
        SELECT c.click_id, c.user_id,
               max_by(v.view_id, v.view_ts) AS attributed_view_id,
               CAST(count(v.view_id) AS BIGINT) AS n_candidate_views
        FROM c LEFT JOIN v
          ON v.user_id = c.user_id
         AND v.view_ts <= c.click_ts
         AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR
        GROUP BY c.click_id, c.user_id
        ORDER BY c.click_id
      """.stripMargin.trim),
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val v = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
        graft.Tails.orderedSmall(
          c.join(v,
              v("user_id") === col("c_user") &&
                v("view_ts") <= col("click_ts") &&
                v("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR"),
              "left")
            .groupBy(col("click_id"), col("c_user").as("user_id"))
            .agg(max_by(col("view_id"), col("view_ts")).as("attributed_view_id"),
              count(col("view_id")).as("n_candidate_views")),
          col("click_id"))
      }),

    // TPC-H Q18 shape (large-volume customers): HAVING on a fact-grain
    // agg gates the orders that flow into the enrichment join — the agg
    // runs FIRST so the join sees ~10 % of orders, then customer
    // broadcasts in, and the tail is one TakeOrderedAndProject. Exact
    // integer deciquantities (l_quantity is int-valued in the testdata,
    // scaled ×10 defensively) keep the HAVING edge and the sort
    // cross-engine deterministic.
    QueryDef(
      "big_order_customers_q18",
      Some("""
        WITH big AS (
          SELECT l_orderkey, CAST(SUM(CAST(ROUND(l_quantity * 10) AS BIGINT)) AS BIGINT) AS dq
          FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(ROUND(l_quantity * 10) AS BIGINT)) > 1800
        )
        SELECT c.c_name, o.o_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS odate,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_cents, b.dq
        FROM big b
        JOIN orders o ON o.o_orderkey = b.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY b.dq DESC, o.o_orderkey
        LIMIT 10
      """.stripMargin.trim),
      (spark, dir) => {
        val big = Tables.lineitem(spark, dir)
          .groupBy(col("l_orderkey"))
          .agg(sum(round(col("l_quantity") * 10).cast("long")).as("dq"))
          .filter(col("dq") > 1800)
        big
          .join(Tables.orders(spark, dir), col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(Tables.customer(spark, dir)), col("c_custkey") === col("o_custkey"))
          .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
            to_date(col("o_orderdate")).as("odate"),
            round(col("o_totalprice") * 100).cast("long").as("total_cents"), col("dq"))
          .orderBy(col("dq").desc, col("o_orderkey"))
          .limit(10)
      }),

    // J1: tick stream enriched by broadcast dimension lookup
    // (`etl/etl.py:326-328` symbol→cid map join).
    QueryDef(
      "broadcast_enrich",
      Some("""
        SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        ORDER BY e.event_id
      """.stripMargin.trim),
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val cust = Tables.customer(spark, dir)
        ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"), "left")
          .select("event_id", "user_id", "c_name", "c_mktsegment", "value")
          .orderBy("event_id")
      }),

    // prefix search (the dashboard's company-dropdown typeahead,
    // `dashboard/tabs/tab1.py:146-157` filters client-side; at warehouse
    // scale the predicate must reach the scan): LIKE 'prefix%' compiles
    // to a StringStartsWith pushed filter — PlanAuditSpec asserts it
    QueryDef(
      "prefix_search",
      Some("""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE c_name LIKE 'Customer#00000001%'
        ORDER BY c_custkey
      """.stripMargin.trim),
      (spark, dir) => {
        Tables.customer(spark, dir)
          .filter(col("c_name").startsWith("Customer#00000001"))
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      }),

    // J1+A1 at fact scale: lineitem ⋈ orders ⋈ customer revenue rollup.
    // Exact integer-cents sum: per-row cents are bit-identical in both
    // engines, and integer addition is order-independent — no float
    // summation-order risk at any scale.
    QueryDef(
      "join_agg_revenue",
      Some("""
        SELECT c.c_mktsegment, o.o_orderstatus,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_orderstatus
        ORDER BY c.c_mktsegment, o.o_orderstatus
      """.stripMargin.trim),
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val o = Tables.orders(spark, dir)
        val c = Tables.customer(spark, dir)
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment"), col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n_items"),
            sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
              .cast("long")).as("revenue_cents"))
          .orderBy("c_mktsegment", "o_orderstatus")
      }),

    // J4: semi join — customers having at least one order
    // (`dashboard/timescaledb_model.py:460-471` JOIN+DISTINCT ≡ semi join).
    QueryDef(
      "semi_join_active",
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
        ORDER BY c_custkey
      """.stripMargin.trim),
      (spark, dir) => {
        Tables.customer(spark, dir)
          .join(Tables.orders(spark, dir),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      }),

    // J3/J5: anti join — customers with no high-value order
    // (NOT IN → null-aware anti join; `etl/etl.py:823`).
    QueryDef(
      "anti_join_inactive",
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
        ORDER BY c_custkey
      """.stripMargin.trim),
      (spark, dir) => {
        Tables.customer(spark, dir)
          .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 200000),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      }),

    // J6: point lookup by dimension attribute then fact fetch
    // (`dashboard/timescaledb_model.py:511-532`).
    QueryDef(
      "point_lookup",
      Some("""
        SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_name = 'Customer#000000042'
        ORDER BY o.o_orderkey
      """.stripMargin.trim),
      (spark, dir) => {
        val c = Tables.customer(spark, dir).filter(col("c_name") === "Customer#000000042")
        Tables.orders(spark, dir)
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "o_orderdate", "o_totalprice")
          .orderBy("o_orderkey")
      }),

    // J2: last-writer-wins identity resolution — per customer, the
    // attributes of their latest order (`etl/etl.py:272-280` in-run UPDATE
    // rewritten as max_by aggregation; version = unique monotone orderkey).
    QueryDef(
      "scd_last_writer",
      Some("""
        SELECT o_custkey,
               max_by(o_orderstatus, o_orderkey) AS o_orderstatus,
               max_by(o_orderpriority, o_orderkey) AS o_orderpriority,
               max(o_orderkey) AS o_orderkey
        FROM orders
        GROUP BY o_custkey
        ORDER BY o_custkey
      """.stripMargin.trim),
      (spark, dir) => {
        Companies.lastWriterWins(
          Tables.orders(spark, dir), key = "o_custkey", versionCol = "o_orderkey",
          attrs = Seq("o_orderstatus", "o_orderpriority"))
          .orderBy("o_custkey")
      }),

    // U2: deterministic dedup-keep-first (`etl/etl.py:231, 254`).
    QueryDef(
      "dedup_keep_first",
      Some("""
        SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
          FROM orders) t
        WHERE rn = 1
        ORDER BY o_custkey
      """.stripMargin.trim),
      (spark, dir) => {
        Companies.dedupKeepFirst(
          Tables.orders(spark, dir)
            .select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice"),
          key = "o_custkey", orderCol = "o_orderkey")
          .orderBy("o_custkey")
      }),

    // J3+A7 composite: register new companies — incoming keys not in the
    // existing dimension get dense ids maxExistingId + row_number
    // (`etl/etl.py:282-299`). Existing dim = keys not divisible by 3.
    QueryDef(
      "company_registration",
      Some("""
        SELECT c_custkey, c_name,
               (SELECT max(c_custkey) FROM customer WHERE c_custkey % 3 <> 0)
                 + row_number() OVER (ORDER BY c_custkey) AS new_id
        FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 3 <> 0)
        ORDER BY c_custkey
      """.stripMargin.trim),
      (spark, dir) => {
        val cust = Tables.customer(spark, dir)
        val existing = cust.filter(col("c_custkey") % 3 =!= 0)
        val maxId = existing.agg(max(col("c_custkey")).as("_max_id"))
        val fresh = Companies.newKeys(
          cust.select("c_custkey", "c_name"), existing.select("c_custkey"), "c_custkey")
        // scalar max joined in via broadcast instead of a driver collect —
        // stays a pure distributed plan (SURVEY.md §7.4 item 1)
        Companies.assignDenseIds(fresh, "c_custkey", 0, "_rn")
          .crossJoin(broadcast(maxId))
          .select(col("c_custkey"), col("c_name"),
            (col("_max_id") + col("_rn")).as("new_id"))
          .orderBy("c_custkey")
      }),

    // blocked fuzzy join (operators/FuzzyJoin): the approximate-string
    // extension of the reference's EXACT identity resolution. Distinctive
    // canonical names are synthesized from the supplier key (the shared
    // md5 idiom, so the oracle rebuilds byte-identical strings); each
    // dirty probe drops one character. Candidates come from the PassJoin
    // segment equi-join that plans/FuzzyJoinRewrite plans for the
    // operator's levenshtein predicate — never a |dirty|×|canon| cartesian — and
    // every probe must find its source at distance 1 (ties broken
    // (dist, key) in both engines)
    QueryDef(
      "fuzzy_match_names",
      Some(s"""
        WITH canon AS (
          SELECT s_suppkey AS c_key,
                 'w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3)", 500L)} AS VARCHAR) ||
                 '-w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3 + 1)", 500L)} AS VARCHAR) ||
                 '-w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3 + 2)", 500L)} AS VARCHAR) AS c_name
          FROM supplier
        ), dirty AS (
          SELECT c_key AS d_key,
                 substring(c_name, 1, CAST(p - 1 AS INT)) || substring(c_name, CAST(p + 1 AS INT), 100) AS d_name
          FROM (SELECT c_key, c_name,
                       ${graft.textops.TextAnalysis.hashRawSqlDuck("(c_key * 7)")} % (length(c_name) - 1) + 1 AS p
                FROM canon) t
        ), lg AS (
          SELECT DISTINCT d_key, gram FROM dirty,
            unnest(list_distinct(list_transform(range(1, length(d_name) - 1),
                                                i -> substring(d_name, CAST(i AS INT), 3)))) AS u(gram)
        ), rg AS (
          SELECT DISTINCT c_key, gram FROM canon,
            unnest(list_distinct(list_transform(range(1, length(c_name) - 1),
                                                i -> substring(c_name, CAST(i AS INT), 3)))) AS u(gram)
        ), cands AS (
          SELECT DISTINCT d_key, c_key FROM lg JOIN rg USING (gram)
        ), scored AS (
          SELECT d_key, c_key, levenshtein(d_name, c_name) AS dist
          FROM cands JOIN dirty USING (d_key) JOIN canon USING (c_key)
        ), best AS (
          SELECT d_key, c_key, dist,
                 ROW_NUMBER() OVER (PARTITION BY d_key ORDER BY dist, c_key) AS rn
          FROM scored WHERE dist <= 2
        )
        SELECT d_key, c_key, CAST(dist AS BIGINT) AS dist
        FROM best WHERE rn = 1
        ORDER BY d_key
      """.stripMargin.trim),
      (spark, dir) => {
        import graft.textops.TextAnalysis.{hashBucketExpr, hashRawExpr}
        val canon = Tables.supplier(spark, dir).selectExpr(
          "s_suppkey AS c_key",
          s"""concat('w', cast(${hashBucketExpr("(s_suppkey * 3)", 500L)} as string),
                     '-w', cast(${hashBucketExpr("(s_suppkey * 3 + 1)", 500L)} as string),
                     '-w', cast(${hashBucketExpr("(s_suppkey * 3 + 2)", 500L)} as string)) AS c_name""")
        val dirty = canon
          .withColumn("p",
            expr(hashRawExpr("(c_key * 7)")) % (length(col("c_name")) - 1) + 1)
          .selectExpr("c_key AS d_key",
            "concat(substring(c_name, 1, cast(p - 1 as int)), substring(c_name, cast(p + 1 as int), 100)) AS d_name")
        graft.operators.FuzzyJoin
          .bestMatch(dirty, "d_key", "d_name", canon, "c_key", "c_name",
            maxDist = 2)
          .orderBy("d_key")
      }),

    // the SAME fuzzy match written NAIVELY — a plain inner join on
    // `levenshtein(d_name, c_name) <= 2` with no blocking. Planable only
    // because plans/FuzzyJoinRewrite rewrites it to the segment-blocked
    // equi-join (PlanAuditSpec's catalog-wide no-cartesian audit covers
    // this entry); the oracle states the naive join directly. All pairs,
    // not the argmax: the rewrite must preserve join multiplicity
    QueryDef(
      "fuzzy_join_rule",
      Some(s"""
        WITH canon AS (
          SELECT s_suppkey AS c_key,
                 'w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3)", 500L)} AS VARCHAR) ||
                 '-w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3 + 1)", 500L)} AS VARCHAR) ||
                 '-w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3 + 2)", 500L)} AS VARCHAR) AS c_name
          FROM supplier
        ), dirty AS (
          SELECT c_key AS d_key,
                 substring(c_name, 1, CAST(p - 1 AS INT)) || substring(c_name, CAST(p + 1 AS INT), 100) AS d_name
          FROM (SELECT c_key, c_name,
                       ${graft.textops.TextAnalysis.hashRawSqlDuck("(c_key * 7)")} % (length(c_name) - 1) + 1 AS p
                FROM canon) t
        )
        SELECT d_key, c_key, CAST(levenshtein(d_name, c_name) AS BIGINT) AS dist
        FROM dirty JOIN canon ON levenshtein(d_name, c_name) <= 2
        ORDER BY d_key, c_key
      """.stripMargin.trim),
      (spark, dir) => {
        import graft.textops.TextAnalysis.{hashBucketExpr, hashRawExpr}
        val canon = Tables.supplier(spark, dir).selectExpr(
          "s_suppkey AS c_key",
          s"""concat('w', cast(${hashBucketExpr("(s_suppkey * 3)", 500L)} as string),
                     '-w', cast(${hashBucketExpr("(s_suppkey * 3 + 1)", 500L)} as string),
                     '-w', cast(${hashBucketExpr("(s_suppkey * 3 + 2)", 500L)} as string)) AS c_name""")
        val dirty = canon
          .withColumn("p",
            expr(hashRawExpr("(c_key * 7)")) % (length(col("c_name")) - 1) + 1)
          .selectExpr("c_key AS d_key",
            "concat(substring(c_name, 1, cast(p - 1 as int)), substring(c_name, cast(p + 1 as int), 100)) AS d_name")
        graft.Tails.orderedSmall(
          dirty.join(canon, levenshtein(col("d_name"), col("c_name")) <= 2)
            .select(col("d_key"), col("c_key"),
              levenshtein(col("d_name"), col("c_name")).cast("long").as("dist")),
          col("d_key"), col("c_key"))
      }),

    // the naive fuzzy SEMI join — `WHERE EXISTS (… levenshtein <= 2)` —
    // planable through FuzzyJoinRewrite's collapse-match-expand path
    // (aggregate left to distinct+count, blocked inner join, dedupe,
    // re-expand). Probes include DUPLICATE instances (every 7th dirty
    // row twice) so the oracle checks that semi multiplicity — each
    // instance surfaces once — survives the rewrite
    QueryDef(
      "fuzzy_semi_rule",
      Some(s"""
        WITH canon AS (
          SELECT s_suppkey AS c_key,
                 'w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3)", 500L)} AS VARCHAR) ||
                 '-w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3 + 1)", 500L)} AS VARCHAR) ||
                 '-w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3 + 2)", 500L)} AS VARCHAR) AS c_name
          FROM supplier
        ), dirty AS (
          SELECT c_key AS d_key,
                 substring(c_name, 1, CAST(p - 1 AS INT)) || substring(c_name, CAST(p + 1 AS INT), 100) AS d_name
          FROM (SELECT c_key, c_name,
                       ${graft.textops.TextAnalysis.hashRawSqlDuck("(c_key * 7)")} % (length(c_name) - 1) + 1 AS p
                FROM canon) t
        ), probes AS (
          SELECT d_key, d_name FROM dirty
          UNION ALL
          SELECT d_key, d_name FROM dirty WHERE d_key % 7 = 0
        )
        SELECT d_key, d_name FROM probes p
        WHERE EXISTS (SELECT 1 FROM canon c WHERE levenshtein(p.d_name, c.c_name) <= 2)
        ORDER BY d_key
      """.stripMargin.trim),
      (spark, dir) => {
        import graft.textops.TextAnalysis.{hashBucketExpr, hashRawExpr}
        val canon = Tables.supplier(spark, dir).selectExpr(
          "s_suppkey AS c_key",
          s"""concat('w', cast(${hashBucketExpr("(s_suppkey * 3)", 500L)} as string),
                     '-w', cast(${hashBucketExpr("(s_suppkey * 3 + 1)", 500L)} as string),
                     '-w', cast(${hashBucketExpr("(s_suppkey * 3 + 2)", 500L)} as string)) AS c_name""")
        val dirty = canon
          .withColumn("p",
            expr(hashRawExpr("(c_key * 7)")) % (length(col("c_name")) - 1) + 1)
          .selectExpr("c_key AS d_key",
            "concat(substring(c_name, 1, cast(p - 1 as int)), substring(c_name, cast(p + 1 as int), 100)) AS d_name")
        val probes = dirty.unionByName(dirty.filter(col("d_key") % 7 === 0))
        graft.Tails.orderedSmall(
          probes.join(canon, levenshtein(col("d_name"), col("c_name")) <= 2, "left_semi"),
          col("d_key"))
      }),

    // The classic warehouse star join (TPC-H Q5 shape): one fact-fact
    // shuffle join (lineitem ⋈ orders on the orderkey both sides already
    // hash to) and THREE broadcast dimension joins stacked on top — the
    // canonical 100 TB plan, where the fact table is exchanged exactly
    // once and every dimension rides along as a broadcast. The
    // local-supplier predicate (c_nationkey = s_nationkey) is a second
    // equi-key on the supplier broadcast, not an extra join. Revenue in
    // exact integer cents (order-independent summation).
    QueryDef(
      "star_join_q5",
      Some("""
        SELECT n.n_name,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1999-01-01'
        GROUP BY n.n_name
        ORDER BY revenue_cents DESC, n_name
      """.stripMargin.trim),
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val o = Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.parse("1996-01-01T00:00")) &&
            col("o_orderdate") < lit(java.time.LocalDateTime.parse("1999-01-01T00:00")))
        val c = Tables.customer(spark, dir)
        val s = Tables.supplier(spark, dir)
        val n = Tables.nation(spark, dir)
        val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
        graft.Tails.orderedSmall(
          li.join(o, li("l_orderkey") === o("o_orderkey"))
            .join(broadcast(c), o("o_custkey") === c("c_custkey"))
            .join(broadcast(s),
              li("l_suppkey") === s("s_suppkey") && c("c_nationkey") === s("s_nationkey"))
            .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
            .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
            .groupBy(col("n_name"))
            .agg(
              count(lit(1)).as("n_items"),
              sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
                .cast("long")).as("revenue_cents")),
          col("revenue_cents").desc, col("n_name"))
      }),

    // Salted skew join: fact rows joined to a PER-KEY aggregate of the
    // same fact table ("events above this user's own mean"). At 100 TB
    // neither side broadcasts and one hot key would pin the shuffle join
    // on a single task — so the aggregate side is replicated ×SALT and
    // the fact side routes by (key, event_id % SALT), spreading a hot
    // key over SALT tasks. (The per-key aggregate itself is safe
    // unsalted: partial aggregation combines map-side, so the hot key
    // arrives at one reducer as ~n_partitions pre-combined rows, not raw
    // rows.) Salt choice is routing-only — the oracle is the PLAIN join,
    // proving salting never changes results.
    QueryDef(
      "skew_join_salted",
      Some("""
        WITH ua AS (
          SELECT user_id,
                 round(CAST(SUM(CAST(round(value * 100e0) AS BIGINT)) AS DOUBLE) / 100e0 / count(value), 6) AS mu
          FROM events GROUP BY user_id
        )
        SELECT e.user_id, COUNT(*) AS n_above
        FROM events e JOIN ua ON e.user_id = ua.user_id
        WHERE e.value > ua.mu
        GROUP BY e.user_id
        ORDER BY e.user_id
      """.stripMargin.trim),
      (spark, dir) => {
        val Salt = 8
        val ev = Tables.events(spark, dir)
        // mu is the EXACT fixed-point mean on the cent value grid (r14;
        // was round(avg,6), which left `value > mu` exposed to an avg
        // drifting across the 1e-6 rounding boundary): the integer cent
        // sum is order-independent, the trailing division and round see
        // identical operands in both engines, so the strict boundary
        // test compares bit-identical doubles at any scale.
        val ua = ev.groupBy("user_id")
          .agg(round(sum(round(col("value") * 100).cast("long")).cast("double")
            / 100.0 / count(col("value")), 6).as("mu"))
          .withColumn("salt", explode(lit((0 until Salt).toArray)))
        val fact = ev.withColumn("salt", pmod(col("event_id"), lit(Salt)).cast("int"))
        graft.Tails.orderedSmall(
          fact.join(ua, Seq("user_id", "salt"))
            .filter(col("value") > col("mu"))
            .groupBy("user_id")
            .agg(count(lit(1)).as("n_above")),
          col("user_id"))
      }),

    // TPC-H Q3 shape: segment-filtered customers × date-bounded orders ×
    // unshipped lineitems, revenue per order, top 10 — the join-agg-topk
    // composite whose tail must plan TakeOrderedAndProject (never a
    // global sort) over the aggregated output. Both date predicates push
    // to their scans; customer broadcasts.
    QueryDef(
      "top_unshipped_q3",
      Some("""
        SELECT l.l_orderkey,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
               CAST(o.o_orderdate AS DATE) AS order_day,
               o.o_orderpriority
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15'
          AND l.l_shipdate  > TIMESTAMP '1998-03-15'
        GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
        ORDER BY revenue_cents DESC, l_orderkey
        LIMIT 10
      """.stripMargin.trim),
      (spark, dir) => {
        val cutoff = java.time.LocalDateTime.parse("1998-03-15T00:00")
        val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(spark, dir).filter(col("o_orderdate") < lit(cutoff))
        val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > lit(cutoff))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"),
            col("o_orderdate").cast("date").as("order_day"),
            col("o_orderpriority"))
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).as("revenue_cents"))
          .select("l_orderkey", "revenue_cents", "order_day", "o_orderpriority")
          .orderBy(col("revenue_cents").desc, col("l_orderkey"))
          .limit(10)
      }),

    // Incremental view maintenance, driver-hard: the per-status revenue
    // view is NEVER computed whole by the engine — it starts from a
    // half-data state and applies one z-set delta step (both sides
    // deltaed at once, Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB) via
    // operators/Ivm; the oracle states the one-shot join-agg. The hash
    // match proves the maintenance algebra, not just a spec example.
    // Exact integer cents make the merged state bit-reproducible.
    QueryDef(
      "ivm_join_agg",
      Some("""
        SELECT o.o_orderstatus AS grp,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
        ORDER BY grp
      """.stripMargin.trim),
      (spark, dir) => {
        import graft.operators.Ivm
        val li = Tables.lineitem(spark, dir).select(
          col("l_orderkey").as("k"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("cents"))
        val ords = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("grp"))
        val a0 = Ivm.weighted(li.filter(col("k") % 2 === 0))
        val da = Ivm.weighted(li.filter(col("k") % 2 === 1))
        val b0 = Ivm.weighted(ords.filter(col("k") % 3 =!= 2))
        val db = Ivm.weighted(ords.filter(col("k") % 3 === 2))
        val state0 = Ivm.aggState(
          Ivm.weighted(a0.drop(Ivm.W).join(b0.drop(Ivm.W), Seq("k"))),
          Seq("grp"), "cents")
        graft.Tails.orderedSmall(
          Ivm.maintainJoinAgg(state0, a0, da, b0, db, Seq("k"), Seq("grp"), "cents")
            .select(col("grp"), col("cnt"), col("sum_cents")),
          col("grp"))
      }),

    // Jaro-Winkler re-ranking on top of the blocked fuzzy candidates:
    // the entity-resolution two-phase shape — a cheap COMPLETE blocker
    // (the proven segment/length machinery, levenshtein ≤ 2) generates
    // candidates, then the finer edit-position-sensitive score picks the
    // winner. graft_jaro_winkler is the native codegen'd expression,
    // bit-compatible with DuckDB's jaro_winkler_similarity (floored
    // half-transpositions, 0.7 boost threshold — see JaroWinkler.scala),
    // so the 4-dp-rounded scores hash-match. Ranking uses the ROUNDED
    // score so both engines order ties identically.
    QueryDef(
      "jaro_winkler_rank",
      Some(s"""
        WITH canon AS (
          SELECT s_suppkey AS c_key,
                 'w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3)", 500L)} AS VARCHAR) ||
                 '-w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3 + 1)", 500L)} AS VARCHAR) ||
                 '-w' || CAST(${graft.textops.TextAnalysis.hashBucketSqlDuck("(s_suppkey * 3 + 2)", 500L)} AS VARCHAR) AS c_name
          FROM supplier
        ), dirty AS (
          SELECT c_key AS d_key,
                 substring(c_name, 1, CAST(p - 1 AS INT)) || substring(c_name, CAST(p + 1 AS INT), 100) AS d_name
          FROM (SELECT c_key, c_name,
                       ${graft.textops.TextAnalysis.hashRawSqlDuck("(c_key * 7)")} % (length(c_name) - 1) + 1 AS p
                FROM canon) t
        ), scored AS (
          SELECT d_key, c_key,
                 round(jaro_winkler_similarity(d_name, c_name), 4) AS jw
          FROM dirty JOIN canon ON levenshtein(d_name, c_name) <= 2
        ), best AS (
          SELECT d_key, c_key, jw,
                 ROW_NUMBER() OVER (PARTITION BY d_key ORDER BY jw DESC, c_key) AS rn
          FROM scored
        )
        SELECT d_key, c_key, jw FROM best WHERE rn = 1
        ORDER BY d_key
      """.stripMargin.trim),
      (spark, dir) => {
        import graft.textops.TextAnalysis.{hashBucketExpr, hashRawExpr}
        val canon = Tables.supplier(spark, dir).selectExpr(
          "s_suppkey AS c_key",
          s"""concat('w', cast(${hashBucketExpr("(s_suppkey * 3)", 500L)} as string),
                     '-w', cast(${hashBucketExpr("(s_suppkey * 3 + 1)", 500L)} as string),
                     '-w', cast(${hashBucketExpr("(s_suppkey * 3 + 2)", 500L)} as string)) AS c_name""")
        val dirty = canon
          .withColumn("p",
            expr(hashRawExpr("(c_key * 7)")) % (length(col("c_name")) - 1) + 1)
          .selectExpr("c_key AS d_key",
            "concat(substring(c_name, 1, cast(p - 1 as int)), substring(c_name, cast(p + 1 as int), 100)) AS d_name")
        val scored = graft.operators.FuzzyJoin
          .scoredCandidates(dirty, "d_key", "d_name", canon, "c_key", "c_name",
            maxDist = 2)
          .withColumn("jw", round(expr("graft_jaro_winkler(d_name, c_name)"), 4))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("d_key")).orderBy(col("jw").desc, col("c_key"))
        graft.Tails.orderedSmall(
          scored.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1)
            .select(col("d_key"), col("c_key"), col("jw")),
          col("d_key"))
      })
  )
}
