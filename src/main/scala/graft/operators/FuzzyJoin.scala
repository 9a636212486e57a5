package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fuzzy (approximate-string) join — the scalable entity-resolution
  * shape. The reference resolves identities EXACTLY (symbol/ISIN
  * equality, `etl/etl.py:272-299`); real dirty sources also need
  * "PÉTROLE SA" ≈ "PETROLE SA". The naive formulation is a cartesian
  * `levenshtein(a, b) <= d` — O(|L|·|R|) comparisons.
  *
  * This operator states exactly that predicate, in its bounded form
  * `levenshtein(a, b, d) >= 0`, and lets `plans/FuzzyJoinRewrite` plan
  * it: PassJoin segment keys for long strings, length keys for short
  * ones, and the distance check as the join's residual. The rule is the
  * one place blocking lives, so the operator, ad-hoc SQL and the naive
  * catalog entries share one candidate plan. Above the rule's maximum
  * distance (4) the join stays the nested loop the rule documents; the
  * results are the same at any distance.
  */
object FuzzyJoin {

  /** Pairs within `levenshtein ≤ maxDist`, with both key and name
    * columns and `dist` kept — the seam re-ranking passes (e.g.
    * Jaro-Winkler scoring) build on, so the block-and-verify stage is
    * shared, never re-derived. NULL names never match (inner
    * semantics).
    */
  def scoredCandidates(left: DataFrame, leftKey: String, leftName: String,
                       right: DataFrame, rightKey: String, rightName: String,
                       maxDist: Int = 2): DataFrame = {
    // bounded form: banded O(len·d) DP that returns -1 above the bound
    // instead of the full O(len²) matrix — the verify runs once per
    // candidate pair, so the band is where the join's verify cost lives
    def bounded = levenshtein(col(leftName), col(rightName), maxDist)
    left.select(col(leftKey), col(leftName))
      .join(right.select(col(rightKey), col(rightName)), bounded >= 0)
      .withColumn("dist", bounded)
  }

  /** Best match per left row: (leftKey, rightKey, dist), dist <= maxDist,
    * ties broken by (dist, rightKey). Left rows with no candidate within
    * the distance are absent (inner semantics — the caller left-joins
    * back if unmatched rows must surface).
    */
  def bestMatch(left: DataFrame, leftKey: String, leftName: String,
                right: DataFrame, rightKey: String, rightName: String,
                maxDist: Int = 2): DataFrame = {
    val scored = scoredCandidates(left, leftKey, leftName,
      right, rightKey, rightName, maxDist)
    val w = Window.partitionBy(col(leftKey)).orderBy(col("dist"), col(rightKey))
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(leftKey), col(rightKey), col("dist").cast("long").as("dist"))
  }
}
