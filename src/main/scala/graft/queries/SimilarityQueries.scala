package graft.queries

import graft.{QueryDef, Tables}
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

/** Embedding similarity search over `embeddings` (64-dim float vectors):
  * exact brute-force cosine top-k (baseline) and sign-LSH bucketed top-k
  * (the sublinear scale path). All reductions are exact int64 on a 1e-4
  * quantization grid — see Similarity's scaladoc for why this makes ranks
  * engine-reproducible.
  */
object SimilarityQueries {

  private val quantDuck =
    """e AS (
         SELECT vec_id, label,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
         FROM embeddings
       ), n AS (
         SELECT vec_id, label, q,
                list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, v -> v * v)), (a, v) -> a + v) AS norm2
         FROM e
       )"""

  private val dotDuck =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(list_zip(qa.q, cb.q), p -> p[1] * p[2])), (a, v) -> a + v)"""

  private def dotOf(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, v) -> x + v)"

  private def cosOf(dot: String, na: String, nb: String) =
    s"CAST($dot AS DOUBLE) / nullif(sqrt(CAST($na AS DOUBLE)) * sqrt(CAST($nb AS DOUBLE)), 0)"

  private val bucketDuck = (0 until 6)
    .map(d => s"(CASE WHEN embedding[${d + 1}] > 0 THEN ${1L << d} ELSE 0 END)")
    .mkString(" + ")

  val entries: Seq[QueryDef] = Seq(
    QueryDef(
      "embedding_stats",
      Some(s"""
        WITH $quantDuck
        SELECT label, COUNT(*) AS n_vectors,
               CAST(SUM(norm2) AS BIGINT) AS sum_norm2,
               CAST(SUM(CAST(norm2 AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_norm2
        FROM n
        GROUP BY label
        ORDER BY label
      """.stripMargin.trim),
      (spark, dir) => {
        Similarity.quantized(Tables.embeddings(spark, dir))
          .groupBy(col("label"))
          .agg(
            count(lit(1)).as("n_vectors"),
            sum(col("norm2")).as("sum_norm2"),
            (sum(col("norm2")).cast("double") / count(lit(1))).as("avg_norm2"))
          .orderBy("label")
      }),

    // per-label centroids at the (label, dim) grain — the
    // classification-dataset profile a training pipeline reads before
    // fitting anything (class geometry, dead dimensions). Spark
    // posexplodes the vector (pos is 0-based → dim = pos + 1 to match
    // DuckDB's 1-based lambda index); one (label, dim) hash-agg,
    // map-side combinable, 640 output rows at any corpus size.
    QueryDef(
      "label_centroids",
      // mean is the exact fixed-point pattern (r14 whitelist
      // conversion): the float32 has no decimal grid, so each value is
      // quantized at 1e-8 (one deterministic round of an identical
      // double), summed exactly (HUGEINT / DECIMAL(38,0)), divided once
      Some("""
        SELECT label, CAST(u.s.d AS BIGINT) AS dim,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(SUM(CAST(round(CAST(u.s.x AS DOUBLE) * 100000000e0) AS HUGEINT)) AS DOUBLE) / 100000000e0 / count(*), 4) AS mean
        FROM embeddings,
             unnest(list_transform(embedding, (x, i) -> {'d': i, 'x': x})) AS u(s)
        GROUP BY label, u.s.d
        ORDER BY label, dim
      """.stripMargin.trim),
      (spark, dir) => {
        graft.Tails.orderedSmall(
          Tables.embeddings(spark, dir)
            .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
            .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
            .agg(count(lit(1)).as("n"),
              round(sum(round(col("x").cast("double") * 100000000L).cast("long")
                  .cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast("double")
                / 100000000.0 / count(lit(1)), 4).as("mean")),
          col("label"), col("dim"))
      }),

    // embedding-cosine near-duplicate pairs ≥ 0.4 (the synthetic
    // embeddings have no planted dups; max cos ≈ 0.6). The oracle is the
    // exact pairwise definition; the ENGINE generates candidates from
    // 64 sign-LSH hash tables and verifies exactly — no cartesian in the
    // plan (SimilaritySpec audits recall == 1 vs the cartesian baseline).
    QueryDef(
      "dedup_embedding",
      Some(s"""
        WITH $quantDuck,
        pairs AS (
          SELECT qa.vec_id AS vec_a, cb.vec_id AS vec_b,
                 $dotDuck AS dot,
                 qa.norm2 AS na, cb.norm2 AS nb
          FROM n qa JOIN n cb ON qa.vec_id < cb.vec_id
        )
        SELECT vec_a, vec_b,
               CAST(dot AS DOUBLE) / nullif(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)), 0) AS cos
        FROM pairs
        WHERE CAST(dot AS DOUBLE) / nullif(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)), 0) >= 0.4
        ORDER BY vec_a, vec_b
      """.stripMargin.trim),
      (spark, dir) => {
        // oracle threshold 0.4 sits in the noise tail — needs the wide
        // 128×4 config (NOT the production default; see SCALE.md)
        Similarity.nearDupPairs(Tables.embeddings(spark, dir), threshold = 0.4,
            tables = 128, bandBits = 4)
          .transform(graft.Tails.ordSmall("vec_a", "vec_b"))
      }),

    // the PRODUCTION configuration of the same operator: at a realistic
    // near-dup threshold (0.9 — crawl-dedup territory) the recall math in
    // Similarity.nearDupPairs lets 16 tables × 12-bit bands replace
    // the oracle-threshold config's 128 × 4-bit (8× fewer candidate
    // instances, wider bands → far fewer spurious bucket collisions).
    // The synthetic embeddings top out at cos ≈ 0.6, so the corpus gets
    // 200 PLANTED near-dups (vec_id < 200 copied to vec_id+1e9 with
    // dim 1 shifted +0.05 → cos ≈ 0.999) constructed identically in both
    // engines; the oracle stays the exact all-pairs definition.
    QueryDef(
      "dedup_embedding_strict",
      Some(s"""
        WITH corpus AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000000 AS vec_id,
                 list_concat([CAST(embedding[1] AS DOUBLE) + 0.05],
                             list_transform(embedding[2:], x -> CAST(x AS DOUBLE))) AS emb
          FROM embeddings WHERE vec_id < 200
        ), e AS (
          SELECT vec_id, list_transform(emb, x -> CAST(round(x * 10000) AS BIGINT)) AS q
          FROM corpus
        ), n AS (
          SELECT vec_id, q,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, v -> v * v)), (a, v) -> a + v) AS norm2
          FROM e
        ), pairs AS (
          SELECT qa.vec_id AS vec_a, cb.vec_id AS vec_b,
                 ${dotOf("qa.q", "cb.q")} AS dot,
                 qa.norm2 AS na, cb.norm2 AS nb
          FROM n qa JOIN n cb ON qa.vec_id < cb.vec_id
        )
        SELECT vec_a, vec_b,
               CAST(dot AS DOUBLE) / nullif(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)), 0) AS cos
        FROM pairs
        WHERE CAST(dot AS DOUBLE) / nullif(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)), 0) >= 0.9
        ORDER BY vec_a, vec_b
      """.stripMargin.trim),
      (spark, dir) => {
        val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        val base = e.select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("embedding"))
        val planted = e.filter(col("vec_id") < 200)
          .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
            expr("transform(embedding, (x, i) -> cast(x as double) + IF(i = 0, 0.05D, 0D))")
              .as("embedding"))
        Similarity.nearDupPairs(base.unionByName(planted),
            threshold = 0.9, sigBits = 64, tables = 16, bandBits = 12)
          .transform(graft.Tails.ordSmall("vec_a", "vec_b"))
      }),

    // connected components over the embedding near-dup graph (the modality
    // analog of dedup_clusters): edges = nearDupPairs ≥ 0.4 (LSH
    // candidates, exact verify — recall 1 vs the cartesian baseline per
    // SimilaritySpec), labels = star-contraction CC, isolated vectors keep
    // their own id. Oracle = exact pairwise edges + recursive-CTE closure.
    QueryDef(
      "embedding_clusters",
      Some(s"""
        WITH RECURSIVE $quantDuck,
        pairs AS (
          SELECT qa.vec_id AS vec_a, cb.vec_id AS vec_b
          FROM n qa JOIN n cb ON qa.vec_id < cb.vec_id
          WHERE ${cosOf(dotDuck, "qa.norm2", "cb.norm2")} >= 0.4
        ),
        edges AS (
          SELECT vec_a AS src, vec_b AS dst FROM pairs
          UNION ALL
          SELECT vec_b, vec_a FROM pairs
        ),
        reach(node, r) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.node
        ),
        labels AS (
          SELECT node AS vec_id, min(r) AS canonical_id FROM reach GROUP BY node
        )
        SELECT vec_id, canonical_id,
               COUNT(*) OVER (PARTITION BY canonical_id) AS cluster_size
        FROM labels
        ORDER BY vec_id
      """.stripMargin.trim),
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val pairs = Similarity.nearDupPairs(emb, threshold = 0.4,
            tables = 128, bandBits = 4) // oracle config, not the default
          .select("vec_a", "vec_b")
        val labels = graft.textops.Dedup.connectedComponents(pairs)
          .withColumnRenamed("doc_id", "vec_id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("canonical_id"))
        emb.select(col("vec_id"))
          .join(labels, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("canonical_id"), col("vec_id")).as("canonical_id"))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .transform(graft.Tails.ordSmall("vec_id"))
      }),

    // INCREMENTAL embedding near-dup: a new batch (200 planted perturbed
    // copies, cos ≈ 0.999) against the prebuilt store ANN index —
    // candidates are new×store table-key collisions only, verified with
    // the exact cosine over the index's stored quantization. The oracle
    // is the exact pairwise new×store definition; new-new and
    // store-store pairs must never appear.
    QueryDef(
      "dedup_embedding_incremental",
      Some(s"""
        WITH st AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
          FROM embeddings
        ), stn AS (
          SELECT vec_id, q,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, v -> v * v)), (a, v) -> a + v) AS norm2
          FROM st
        ), nw0 AS (
          SELECT vec_id + 1000000000 AS vec_id,
                 list_concat([CAST(embedding[1] AS DOUBLE) + 0.05],
                             list_transform(embedding[2:], x -> CAST(x AS DOUBLE))) AS emb
          FROM embeddings WHERE vec_id < 200
        ), nw AS (
          SELECT vec_id, list_transform(emb, x -> CAST(round(x * 10000) AS BIGINT)) AS q
          FROM nw0
        ), nwn AS (
          SELECT vec_id, q,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, v -> v * v)), (a, v) -> a + v) AS norm2
          FROM nw
        )
        SELECT n1.vec_id AS vec_new, s1.vec_id AS vec_store,
               ${cosOf(dotOf("n1.q", "s1.q"), "n1.norm2", "s1.norm2")} AS cos
        FROM nwn n1 JOIN stn s1
          ON ${cosOf(dotOf("n1.q", "s1.q"), "n1.norm2", "s1.norm2")} >= 0.9
        ORDER BY vec_new, vec_store
      """.stripMargin.trim),
      (spark, dir) => {
        val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        val newBatch = e.filter(col("vec_id") < 200)
          .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
            expr("transform(embedding, (x, i) -> cast(x as double) + IF(i = 0, 0.05D, 0D))")
              .as("embedding"))
        val storeIndex = Similarity.buildEmbeddingIndex(e)
        Similarity.incrementalNearDupPairs(newBatch, storeIndex, threshold = 0.9)
          .orderBy("vec_new", "vec_store")
      }),

    // the PRODUCTION path of the clustering composite, oracled end-to-end:
    // 200 planted perturbed duplicates (cos ≈ 0.999), threshold 0.9 with
    // the production LSH knobs (16 tables × 12-bit bands — see the
    // SCALE.md tables-vs-threshold sweep; 8× fewer candidate instances
    // than the 0.4-threshold/128-table config the synthetic oracle
    // forces on `embedding_clusters`). Oracle = exact pairwise edges at
    // 0.9 + recursive-CTE closure over the planted corpus.
    QueryDef(
      "embedding_clusters_strict",
      Some(s"""
        WITH RECURSIVE corpus AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000000 AS vec_id,
                 list_concat([CAST(embedding[1] AS DOUBLE) + 0.05],
                             list_transform(embedding[2:], x -> CAST(x AS DOUBLE))) AS emb
          FROM embeddings WHERE vec_id < 200
        ), e AS (
          SELECT vec_id, list_transform(emb, x -> CAST(round(x * 10000) AS BIGINT)) AS q
          FROM corpus
        ), n AS (
          SELECT vec_id, q,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, v -> v * v)), (a, v) -> a + v) AS norm2
          FROM e
        ), pairs AS (
          SELECT qa.vec_id AS vec_a, cb.vec_id AS vec_b
          FROM n qa JOIN n cb ON qa.vec_id < cb.vec_id
          WHERE ${cosOf(dotOf("qa.q", "cb.q"), "qa.norm2", "cb.norm2")} >= 0.9
        ),
        edges AS (
          SELECT vec_a AS src, vec_b AS dst FROM pairs
          UNION ALL
          SELECT vec_b, vec_a FROM pairs
        ),
        reach(node, r) AS (
          SELECT vec_id, vec_id FROM corpus
          UNION
          SELECT e2.src, reach.r FROM reach JOIN edges e2 ON e2.dst = reach.node
        ),
        labels AS (
          SELECT node AS vec_id, min(r) AS canonical_id FROM reach GROUP BY node
        )
        SELECT vec_id, canonical_id,
               COUNT(*) OVER (PARTITION BY canonical_id) AS cluster_size
        FROM labels
        ORDER BY vec_id
      """.stripMargin.trim),
      (spark, dir) => {
        val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        val base = e.select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("embedding"))
        val planted = e.filter(col("vec_id") < 200)
          .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
            expr("transform(embedding, (x, i) -> cast(x as double) + IF(i = 0, 0.05D, 0D))")
              .as("embedding"))
        val corpus = base.unionByName(planted)
        val pairs = Similarity.nearDupPairs(corpus,
            threshold = 0.9, sigBits = 64, tables = 16, bandBits = 12)
          .select("vec_a", "vec_b")
        val labels = graft.textops.Dedup.connectedComponents(pairs)
          .withColumnRenamed("doc_id", "vec_id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("canonical_id"))
        corpus.select(col("vec_id"))
          .join(labels, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("canonical_id"), col("vec_id")).as("canonical_id"))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .transform(graft.Tails.ordSmall("vec_id"))
      }),

    // array-column surface over embeddings: length, positional access
    // (incl. negative = from-end), element predicates. Heads/tails emitted
    // as SCALAR columns — array-typed outputs hash differently across
    // engines (arrow list field names differ), and scalars are what a
    // feature-extraction select produces anyway
    QueryDef(
      "array_functions_emb",
      Some("""
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               CAST(embedding[1] AS DOUBLE) AS h1,
               CAST(embedding[2] AS DOUBLE) AS h2,
               CAST(embedding[-1] AS DOUBLE) AS t1,
               CAST(embedding[-2] AS DOUBLE) AS t2,
               CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
        FROM embeddings
        ORDER BY vec_id
      """.stripMargin.trim),
      (spark, dir) => {
        Tables.embeddings(spark, dir)
          .select(
            col("vec_id"),
            size(col("embedding")).cast("long").as("dim"),
            element_at(col("embedding"), 1).cast("double").as("h1"),
            element_at(col("embedding"), 2).cast("double").as("h2"),
            element_at(col("embedding"), -1).cast("double").as("t1"),
            element_at(col("embedding"), -2).cast("double").as("t2"),
            size(filter(col("embedding"), x => x > 0)).cast("long").as("n_pos"))
          .orderBy("vec_id")
      }),

    // PQ compression codes: 64-dim vector → 4 block codes against a
    // deterministic codebook, exact int64 distances
    QueryDef(
      "ann_pq_codes",
      Some(s"""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS q
          FROM embeddings
        ), blocks AS (
          SELECT vec_id, u.b, e.q[u.b*16 + 1 : u.b*16 + 16] AS sub
          FROM e, unnest([0,1,2,3]) AS u(b)
        ), cw AS (
          SELECT vec_id AS cw_id, b, sub AS csub FROM blocks WHERE vec_id < 8
        ), dists AS (
          SELECT blocks.vec_id, blocks.b, cw.cw_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_zip(blocks.sub, cw.csub), p -> (p[1]-p[2])*(p[1]-p[2]))), (a,v)->a+v) AS d2
          FROM blocks JOIN cw ON blocks.b = cw.b
        ), ranked AS (
          SELECT vec_id, b, cw_id, d2,
                 row_number() OVER (PARTITION BY vec_id, b ORDER BY d2, cw_id) AS rn
          FROM dists
        )
        SELECT vec_id, CAST(b AS BIGINT) AS block, CAST(cw_id AS BIGINT) AS code, CAST(d2 AS BIGINT) AS err2
        FROM ranked WHERE rn = 1
        ORDER BY vec_id, block
      """.stripMargin.trim),
      (spark, dir) => {
        Similarity.pqAssign(Tables.embeddings(spark, dir))
          .orderBy("vec_id", "block")
      }),

    // PQ-ADC search: corpus scored through its compressed codes only
    QueryDef(
      "ann_pq_adc_topk",
      Some(s"""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS q
          FROM embeddings
        ), blocks AS (
          SELECT vec_id, u.b, e.q[u.b*16 + 1 : u.b*16 + 16] AS sub
          FROM e, unnest([0,1,2,3]) AS u(b)
        ), cw AS (
          SELECT vec_id AS cw_id, b, sub AS csub FROM blocks WHERE vec_id < 8
        ), dists AS (
          SELECT blocks.vec_id, blocks.b, cw.cw_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_zip(blocks.sub, cw.csub), p -> (p[1]-p[2])*(p[1]-p[2]))), (a,v)->a+v) AS d2
          FROM blocks JOIN cw ON blocks.b = cw.b
        ), codes AS (
          SELECT vec_id, b, cw_id AS code FROM (
            SELECT vec_id, b, cw_id, row_number() OVER (PARTITION BY vec_id, b ORDER BY d2, cw_id) AS rn
            FROM dists) t WHERE rn = 1
        ), scored AS (
          SELECT qt.vec_id AS query_id, c.vec_id AS cand_id, CAST(SUM(qt.d2) AS BIGINT) AS ad2
          FROM codes c JOIN dists qt ON qt.b = c.b AND qt.cw_id = c.code
          WHERE qt.vec_id < 16 AND qt.vec_id <> c.vec_id
          GROUP BY qt.vec_id, c.vec_id
        ), ranked AS (
          SELECT query_id, cand_id, ad2,
                 row_number() OVER (PARTITION BY query_id ORDER BY ad2, cand_id) AS rank
          FROM scored
        )
        SELECT query_id, cand_id, ad2, CAST(rank AS BIGINT) AS rank FROM ranked
        WHERE rank <= 5
        ORDER BY query_id, rank
      """.stripMargin.trim),
      (spark, dir) => {
        Similarity.pqAdcTopK(Tables.embeddings(spark, dir), k = 5, maxQueryId = 16)
          .orderBy("query_id", "rank")
      }),

    QueryDef(
      "ann_cosine_topk",
      Some(s"""
        WITH $quantDuck,
        pairs AS (
          SELECT qa.vec_id AS query_id, cb.vec_id AS cand_id,
                 $dotDuck AS dot,
                 qa.norm2 AS na, cb.norm2 AS nb
          FROM n qa JOIN n cb ON qa.vec_id < 32 AND qa.vec_id <> cb.vec_id
        ), scored AS (
          SELECT query_id, cand_id,
                 CAST(dot AS DOUBLE) / nullif(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)), 0) AS cos
          FROM pairs
        ), ranked AS (
          SELECT query_id, cand_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM scored
        )
        SELECT query_id, cand_id, cos, rank FROM ranked
        WHERE rank <= 10
        ORDER BY query_id, rank
      """.stripMargin.trim),
      (spark, dir) => {
        Similarity.bruteForceTopK(Tables.embeddings(spark, dir), k = 10, maxQueryId = 32)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      }),

    // same semantics + oracle as ann_cosine_topk, selected through the
    // bounded top-k Aggregator (O(k) state per query, no per-group sort)
    QueryDef(
      "ann_topk_bounded",
      Some(s"""
        WITH $quantDuck,
        pairs AS (
          SELECT qa.vec_id AS query_id, cb.vec_id AS cand_id,
                 $dotDuck AS dot,
                 qa.norm2 AS na, cb.norm2 AS nb
          FROM n qa JOIN n cb ON qa.vec_id < 32 AND qa.vec_id <> cb.vec_id
        ), scored AS (
          SELECT query_id, cand_id,
                 CAST(dot AS DOUBLE) / nullif(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)), 0) AS cos
          FROM pairs
        ), ranked AS (
          SELECT query_id, cand_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM scored
        )
        SELECT query_id, cand_id, cos, rank FROM ranked
        WHERE rank <= 10
        ORDER BY query_id, rank
      """.stripMargin.trim),
      (spark, dir) => {
        Similarity.bruteForceTopKBounded(Tables.embeddings(spark, dir), k = 10, maxQueryId = 32)
          .orderBy("query_id", "rank")
      }),

    // IVF with deterministic coarse quantizer (centroids = 8 lowest-id
    // vectors), probe-2 cells, exact scoring within cells
    QueryDef(
      "ann_ivf_topk",
      Some(s"""
        WITH $quantDuck,
        cents AS (
          SELECT vec_id AS cent_id, q AS qc, norm2 AS nc FROM n WHERE vec_id < 8
        ), scoredc AS (
          SELECT n.vec_id, cents.cent_id,
                 ${cosOf(dotOf("n.q", "cents.qc"), "n.norm2", "cents.nc")} AS cosc
          FROM n, cents
        ), ranked_assign AS (
          SELECT vec_id, cent_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cent_id) AS rn
          FROM scoredc
        ), cells AS (
          SELECT vec_id AS cand_id, cent_id AS cell FROM ranked_assign WHERE rn = 1
        ), probes AS (
          SELECT vec_id AS query_id, cent_id AS cell FROM ranked_assign
          WHERE vec_id < 32 AND rn <= 2
        ), scored AS (
          SELECT p.query_id, c.cand_id,
                 ${cosOf(dotOf("qa.q", "cb.q"), "qa.norm2", "cb.norm2")} AS cos
          FROM probes p
          JOIN cells c ON c.cell = p.cell AND c.cand_id <> p.query_id
          JOIN n qa ON qa.vec_id = p.query_id
          JOIN n cb ON cb.vec_id = c.cand_id
        ), ranked AS (
          SELECT query_id, cand_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM scored
        )
        SELECT query_id, cand_id, cos, rank FROM ranked
        WHERE rank <= 5
        ORDER BY query_id, rank
      """.stripMargin.trim),
      (spark, dir) => {
        Similarity.ivfTopK(Tables.embeddings(spark, dir), k = 5, maxQueryId = 32)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      }),

    // IVF against an EXTERNAL codebook (ivfTopKWithCentroids): the
    // centroid set is a constructed DataFrame — every 4th vector below
    // id 64 (16 cells), NOT the built-in lowest-id quantizer — standing
    // in for offline-trained k-means centers read from a model table
    QueryDef(
      "ann_ivf_external",
      Some(s"""
        WITH $quantDuck,
        cents AS (
          SELECT vec_id AS cent_id, q AS qc, norm2 AS nc FROM n
          WHERE vec_id % 4 = 0 AND vec_id < 64
        ), scoredc AS (
          SELECT n.vec_id, cents.cent_id,
                 ${cosOf(dotOf("n.q", "cents.qc"), "n.norm2", "cents.nc")} AS cosc
          FROM n, cents
        ), ranked_assign AS (
          SELECT vec_id, cent_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cent_id) AS rn
          FROM scoredc
        ), cells AS (
          SELECT vec_id AS cand_id, cent_id AS cell FROM ranked_assign WHERE rn = 1
        ), probes AS (
          SELECT vec_id AS query_id, cent_id AS cell FROM ranked_assign
          WHERE vec_id < 32 AND rn <= 2
        ), scored AS (
          SELECT p.query_id, c.cand_id,
                 ${cosOf(dotOf("qa.q", "cb.q"), "qa.norm2", "cb.norm2")} AS cos
          FROM probes p
          JOIN cells c ON c.cell = p.cell AND c.cand_id <> p.query_id
          JOIN n qa ON qa.vec_id = p.query_id
          JOIN n cb ON cb.vec_id = c.cand_id
        ), ranked AS (
          SELECT query_id, cand_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM scored
        )
        SELECT query_id, cand_id, cos, rank FROM ranked
        WHERE rank <= 5
        ORDER BY query_id, rank
      """.stripMargin.trim),
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val codebook = emb
          .filter(col("vec_id") % 4 === 0 && col("vec_id") < 64)
          .select(col("vec_id").as("cent_id"), col("embedding"))
        Similarity.ivfTopKWithCentroids(emb, codebook, k = 5, maxQueryId = 32, nProbe = 2)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      }),

    QueryDef(
      "ann_lsh_topk",
      Some(s"""
        WITH eb AS (
          SELECT vec_id, embedding, CAST($bucketDuck AS BIGINT) AS bucket FROM embeddings
        ), e AS (
          SELECT vec_id, bucket,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
          FROM eb
        ), n AS (
          SELECT vec_id, bucket, q,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, v -> v * v)), (a, v) -> a + v) AS norm2
          FROM e
        ), pairs AS (
          SELECT qa.vec_id AS query_id, qa.bucket AS bucket, cb.vec_id AS cand_id,
                 $dotDuck AS dot,
                 qa.norm2 AS na, cb.norm2 AS nb
          FROM n qa JOIN n cb ON qa.bucket = cb.bucket AND qa.vec_id < 64 AND qa.vec_id <> cb.vec_id
        ), scored AS (
          SELECT query_id, bucket, cand_id,
                 CAST(dot AS DOUBLE) / nullif(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)), 0) AS cos
          FROM pairs
        ), ranked AS (
          SELECT query_id, bucket, cand_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM scored
        )
        SELECT query_id, bucket, cand_id, cos, rank FROM ranked
        WHERE rank <= 5
        ORDER BY query_id, rank
      """.stripMargin.trim),
      (spark, dir) => {
        Similarity.lshBucketTopK(Tables.embeddings(spark, dir), k = 5, maxQueryId = 64, bits = 6)
          .withColumn("bucket", col("bucket").cast("long"))
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      }),

    // recall@10 of the sign-LSH path against brute-force ground truth —
    // the evaluation loop an ANN deployment runs before trusting the
    // sublinear path at corpus scale. Both rankings are the engine's own
    // deterministic exact-int64 scorers, so the oracle can restate them
    // and the recall fractions (n_hit / 10) are identical rationals in
    // both engines. Per-query rows keep the tail visible (a macro
    // average would hide empty-bucket queries, which surface here as
    // n_approx = 0).
    QueryDef(
      "ann_recall_eval",
      Some(s"""
        WITH $quantDuck, b AS (
          SELECT vec_id, CAST($bucketDuck AS BIGINT) AS bucket FROM embeddings
        ), nb AS (
          SELECT n.vec_id, n.q, n.norm2, b.bucket FROM n JOIN b USING (vec_id)
        ), tpairs AS (
          SELECT qa.vec_id AS query_id, cb.vec_id AS cand_id,
                 ${cosOf(dotDuck, "qa.norm2", "cb.norm2")} AS cos
          FROM n qa JOIN n cb ON qa.vec_id < 64 AND qa.vec_id <> cb.vec_id
        ), tp AS (
          SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
            FROM tpairs) z
          WHERE rank <= 10
        ), apairs AS (
          SELECT qa.vec_id AS query_id, cb.vec_id AS cand_id,
                 ${cosOf(dotDuck, "qa.norm2", "cb.norm2")} AS cos
          FROM nb qa JOIN nb cb
            ON qa.bucket = cb.bucket AND qa.vec_id < 64 AND qa.vec_id <> cb.vec_id
        ), ap AS (
          SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
            FROM apairs) z
          WHERE rank <= 10
        ), qs AS (
          SELECT DISTINCT query_id FROM tp
        ), ac AS (
          SELECT query_id, COUNT(*) AS c FROM ap GROUP BY query_id
        ), hit AS (
          SELECT ap.query_id, COUNT(*) AS h
          FROM ap JOIN tp ON ap.query_id = tp.query_id AND ap.cand_id = tp.cand_id
          GROUP BY ap.query_id
        )
        SELECT qs.query_id,
               CAST(COALESCE(ac.c, 0) AS BIGINT) AS n_approx,
               CAST(COALESCE(hit.h, 0) AS BIGINT) AS n_hit,
               round(COALESCE(hit.h, 0) / 10.0, 4) AS recall
        FROM qs LEFT JOIN ac USING (query_id) LEFT JOIN hit USING (query_id)
        ORDER BY query_id
      """.stripMargin.trim),
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val tp = Similarity.bruteForceTopK(emb, k = 10, maxQueryId = 64)
          .select(col("query_id"), col("cand_id"))
        val ap = Similarity.lshBucketTopK(emb, k = 10, maxQueryId = 64, bits = 6)
          .select(col("query_id"), col("cand_id"))
        val qs = tp.select("query_id").distinct()
        val ac = ap.groupBy("query_id").agg(count(lit(1)).as("c"))
        val hit = ap.join(tp, Seq("query_id", "cand_id"))
          .groupBy("query_id").agg(count(lit(1)).as("h"))
        graft.Tails.orderedSmall(
          qs.join(ac, Seq("query_id"), "left").join(hit, Seq("query_id"), "left")
            .select(
              col("query_id"),
              coalesce(col("c"), lit(0L)).as("n_approx"),
              coalesce(col("h"), lit(0L)).as("n_hit"),
              round(coalesce(col("h"), lit(0L)) / 10.0, 4).as("recall")),
          col("query_id"))
      })
  )
}
