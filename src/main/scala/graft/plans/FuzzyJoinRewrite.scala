package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Count
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}

/** Optimizer rule: rewrite an inner join whose only cross-side condition
  * is `levenshtein(l, r) <= d` into a segment-blocked equi-join —
  * automatically. The naive formulation has no equi key, so Spark plans
  * BroadcastNestedLoopJoin / CartesianProduct: O(|L|·|R|) edit-distance
  * evaluations, the shape PlanAuditSpec bans. This is the fuzzy-join
  * sibling of `RangeJoinRewrite` (SURVEY.md §7.3 tier (c)) and the ONE
  * place fuzzy-join blocking is planned: `operators/FuzzyJoin` states
  * the naive predicate and relies on this rule, exactly like user SQL.
  *
  * Predicates read: `levenshtein(a, b) <= d` (and `< d+1`, in either
  * orientation), and the bounded form `levenshtein(a, b, t) >= 0`, which
  * holds iff distance ≤ t. Any other comparison of the bounded form is
  * left alone: it returns −1 above t, so `levenshtein(a, b, t) <= d`
  * also holds for every far pair and is no blocking predicate.
  *
  * Rewrite — ONE join, each side exploding a unified key column:
  *  - segment keys `p:<i>:<L>:<sub>` (PassJoin — see segmentKeysOf):
  *    the right side's d+1 contiguous segments; the left side's
  *    substrings matching any candidate segment geometry within ±d
  *    positional shift. Replaced the original q-gram keys after the sf1
  *    audit measured the gram pair stream going quadratic under
  *    alphabet saturation (35–55× wall at 10× rows → near-linear now).
  *  - length keys `l:<n>` for the short regime (len < q·(d+1) on the
  *    right, < q·(d+1)+d on the left, which fans len−d … len+d): a
  *    short pair meets iff |Δlen| ≤ d — necessary for distance ≤ d.
  * A pair could meet on several keys, so the residual keeps EXACTLY one
  * meeting — the minimum of the two key arrays' intersection — which
  * preserves inner-join pair multiplicity. The ORIGINAL condition stays
  * in the residual, so false candidates (shared key, distance > d) still
  * drop; NULL/empty strings explode to no keys or meet through length
  * keys, matching the original null-rejecting inner semantics.
  *
  * Inner and LeftSemi joins. Inner explodes both sides with the
  * meet-once residual. LeftSemi tolerates the rewrite WITHOUT the
  * residual — existence semantics absorb duplicate meetings — via
  * collapse-match-expand: aggregate the left to distinct tuples with a
  * count, run the blocked INNER join, dedupe the matched tuples, and
  * re-expand each by its count (`explode(sequence(1, cnt))`), which
  * reproduces per-instance semi multiplicity exactly and stays fully
  * deterministic (no row-id tagging). Outer/anti joins keep their
  * nested loop (named skip logged): an anti join's "no key meets"
  * cannot be expressed through exploded keys without the same collapse
  * on the MISSING side, which double-negates into a set-difference the
  * optimizer cannot guarantee cheap. The
  * rule's own output contains a cross-side equi-conjunct, making it
  * fixpoint-safe, and joins that already have one are left alone.
  * Segment keys need no frequency cap (they are length- and
  * position-qualified, so no single hot token makes a hot key) — which
  * is also why the scheme fits a rewrite, where no aggregation is
  * available to compute df stats.
  *
  * Knob: `spark.graft.fuzzyJoin.enabled` (default true; a value other
  * than true/false fails naming the key). The short-regime boundary uses
  * q = 3. Max rewritten distance 4: the segment fan-out is (2d+1)²·(d+1)
  * keys per left row (405 at d=4) and segment length L/(d+1) loses
  * selectivity as d grows — past 4, no blocking scheme rescues the
  * predicate and the nested loop is the honest plan.
  */
object FuzzyJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val enabledKey = "spark.graft.fuzzyJoin.enabled"
  private val q = 3

  private def enabled: Boolean = {
    val v = conf.getConfString(enabledKey, "true")
    v.toBooleanOption.getOrElse(throw new IllegalArgumentException(
      s"$enabledKey must be true or false, got '$v'"))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(_, _, _, Some(_), _) => rewrite(j).getOrElse(j)
    }

  /** (leftStr, rightStr, d) for a predicate that holds iff the edit
    * distance is ≤ d, in any orientation; LessThan normalizes to d−1. */
  private def levReading(c: Expression): Option[(Expression, Expression, Int)] = {
    def lit(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case Literal(v: Long, LongType) => Some(v.toInt)
      case _ => None
    }
    def zero(e: Expression): Boolean = lit(e).contains(0)
    c match {
      case LessThanOrEqual(Levenshtein(a, b, None), l) => lit(l).map(d => (a, b, d))
      case LessThan(Levenshtein(a, b, None), l) => lit(l).map(d => (a, b, d - 1))
      case GreaterThanOrEqual(l, Levenshtein(a, b, None)) => lit(l).map(d => (a, b, d))
      case GreaterThan(l, Levenshtein(a, b, None)) => lit(l).map(d => (a, b, d - 1))
      case GreaterThanOrEqual(Levenshtein(a, b, Some(t)), z) if zero(z) => lit(t).map(d => (a, b, d))
      case LessThanOrEqual(z, Levenshtein(a, b, Some(t))) if zero(z) => lit(t).map(d => (a, b, d))
      case _ => None
    }
  }

  private def emptyStrArray: Expression =
    Literal.create(Array.empty[String], ArrayType(StringType))

  private def prefixed(prefix: String, e: Expression): Expression =
    Concat(Seq(Literal(prefix), e))

  private def seqExpr(from: Expression, to: Expression): Expression =
    Sequence(from, to, None, Some(conf.sessionLocalTimeZone))

  private def intDiv(a: Expression, b: Int): Expression =
    Cast(IntegralDivide(Cast(a, LongType), Literal(b.toLong)), IntegerType)

  /** PassJoin segment keys `p:<i>:<L>:<segment>` (Li, Deng & Feng, ICDE
    * 2011), built as raw catalyst trees because this runs in the
    * optimizer where nothing can be parsed or analyzed. Segments
    * replaced the q-gram keys after the sf1 scaling audit: gram
    * candidates are ∝ Σ_g dfL(g)·dfR(g) and go quadratic once the
    * corpus outgrows its gram alphabet (measured 35× and 55× wall at
    * 10× rows on hash-token names), while segment keys
    * are length- and position-qualified exact substrings of length
    * ~L/(d+1) — selective enough to stay near-linear AND stats-free,
    * which is the property a logical rewrite needs (no aggregation
    * available here). Pigeonhole soundness: ≤ d edits cannot touch all
    * d+1 segments, so a true match contains some right segment verbatim,
    * starting within ±d of its home position; the left enumerates
    * exactly those substrings for every candidate right length
    * L ∈ [max(thresh, m−d), m+d].
    *
    * Segment geometry for right length L with k = d+1 parts, r = L%k:
    * first k−r parts ⌊L/k⌋ long, last r one longer;
    * len_i = ⌊L/k⌋ + (i ≥ k−r), pos_i = 1 + i·⌊L/k⌋ + max(0, i−(k−r)).
    */
  private def segmentKeysOf(s: Expression, d: Int, isLeft: Boolean): Expression = {
    val k = d + 1
    val thresh = q * k
    val m = Length(s)
    def segLen(L: Expression, i: Expression): Expression =
      Add(intDiv(L, k),
        If(GreaterThanOrEqual(i, Subtract(Literal(k), Remainder(L, Literal(k)))),
          Literal(1), Literal(0)))
    def segPos(L: Expression, i: Expression): Expression =
      Add(Literal(1), Add(Multiply(i, intDiv(L, k)),
        Greatest(Seq(Literal(0),
          Subtract(i, Subtract(Literal(k), Remainder(L, Literal(k))))))))
    def key(iv: Expression, lv: Expression, sub: Expression): Expression =
      Concat(Seq(Literal("p:"), Cast(iv, StringType), Literal(":"),
        Cast(lv, StringType), Literal(":"), sub))
    if (isLeft) {
      val lVar = NamedLambdaVariable("L", IntegerType, nullable = false)
      val iVar = NamedLambdaVariable("i", IntegerType, nullable = false)
      val pVar = NamedLambdaVariable("p", IntegerType, nullable = false)
      val positions = ArrayFilter(
        seqExpr(Greatest(Seq(Literal(1), Subtract(segPos(lVar, iVar), Literal(d)))),
          Add(segPos(lVar, iVar), Literal(d))),
        LambdaFunction(
          LessThanOrEqual(pVar, Add(Subtract(m, segLen(lVar, iVar)), Literal(1))),
          Seq(pVar)))
      val pVar2 = NamedLambdaVariable("p", IntegerType, nullable = false)
      val perSeg = ArrayTransform(positions,
        LambdaFunction(key(iVar, lVar, Substring(s, pVar2, segLen(lVar, iVar))), Seq(pVar2)))
      val perLen = Flatten(ArrayTransform(seqExpr(Literal(0), Literal(d)),
        LambdaFunction(perSeg, Seq(iVar))))
      val all = Flatten(ArrayTransform(
        seqExpr(Greatest(Seq(Literal(thresh), Subtract(m, Literal(d)))), Add(m, Literal(d))),
        LambdaFunction(perLen, Seq(lVar))))
      If(GreaterThanOrEqual(m, Literal(thresh - d)), ArrayDistinct(all), emptyStrArray)
    } else {
      val iVar = NamedLambdaVariable("i", IntegerType, nullable = false)
      val own = ArrayTransform(seqExpr(Literal(0), Literal(d)),
        LambdaFunction(key(iVar, m, Substring(s, segPos(m, iVar), segLen(m, iVar))), Seq(iVar)))
      If(GreaterThanOrEqual(m, Literal(thresh)), own, emptyStrArray)
    }
  }

  private def rewrite(j: Join): Option[LogicalPlan] = {
    val Join(left, right, joinType, Some(cond), hint) = j: @unchecked
    val conjuncts = splitConjunctivePredicates(cond)

    def onlyIn(e: Expression, p: LogicalPlan): Boolean =
      e.references.nonEmpty && e.references.subsetOf(p.outputSet)
    def across(l: Expression, r: Expression): Boolean =
      (onlyIn(l, left) && onlyIn(r, right)) || (onlyIn(l, right) && onlyIn(r, left))

    // an existing cross-side equi-conjunct already hash-joins; our own
    // output contains one → fixpoint-safe
    val hasEqui = conjuncts.exists {
      case EqualTo(l, r) => across(l, r)
      case EqualNullSafe(l, r) => across(l, r)
      case _ => false
    }
    if (hasEqui) return None

    // one deterministic string expression per side under a lev bound
    val reading = conjuncts.flatMap(levReading).collectFirst {
      case (a, b, d) if d >= 0 && d <= 4 && a.deterministic && b.deterministic &&
          a.dataType == StringType && b.dataType == StringType &&
          onlyIn(a, left) && onlyIn(b, right) => (a, b, d)
      case (a, b, d) if d >= 0 && d <= 4 && a.deterministic && b.deterministic &&
          a.dataType == StringType && b.dataType == StringType &&
          onlyIn(b, left) && onlyIn(a, right) => (b, a, d)
    }
    val (el, er, d) = reading.getOrElse(return None)

    if (joinType != Inner && joinType != LeftSemi) {
      logInfo(s"graft.FuzzyJoinRewrite: SKIP — $joinType fuzzy join; a preserved " +
        "or negated side cannot tolerate the key explosion. " +
        "Use operators/FuzzyJoin.bestMatch for argmax semantics, or accept the nested loop.")
      return None
    }

    val thresh = q * (d + 1)

    // segment keys for the long regime (see segmentKeysOf), length keys
    // for the short one. The LEFT's l-keys reach up to thresh+d-1: a
    // long-left/short-right pair must meet on the right's own length key
    def sideKeys(s: Expression, isLeft: Boolean): Expression = {
      val segKeys = segmentKeysOf(s, d, isLeft)
      val lenKeys =
        if (isLeft) {
          val dl = NamedLambdaVariable("dl", IntegerType, nullable = false)
          val fan = ArrayTransform(seqExpr(Literal(-d), Literal(d)),
            LambdaFunction(
              prefixed("l:", Cast(Add(Length(s), dl), StringType)), Seq(dl)))
          If(LessThan(Length(s), Literal(thresh + d)), fan, emptyStrArray)
        } else {
          If(LessThan(Length(s), Literal(thresh)),
            CreateArray(Seq(prefixed("l:", Cast(Length(s), StringType)))), emptyStrArray)
        }
      ArrayUnion(segKeys, lenKeys)
    }

    val keysL = sideKeys(el, isLeft = true)
    val keysR = sideKeys(er, isLeft = false)

    // LeftSemi: collapse the left to distinct tuples + count BEFORE the
    // blocked join, so the existence check runs once per distinct tuple
    // and the count re-expands instance multiplicity afterwards
    val (leftBase, cntAttr) =
      if (joinType == LeftSemi) {
        val cntAlias = Alias(Count(Literal(1)).toAggregateExpression(), "_graft_cnt")()
        (Aggregate(left.output, left.output :+ cntAlias, left): LogicalPlan,
          Some(cntAlias.toAttribute))
      } else (left, None)

    // OptimizerBarrier (r17): without it, InferFiltersFromGenerate +
    // alias pushdown duplicate the entire key-array expression into a
    // per-row Filter below these projects — see OptimizerBarrier docs
    val klAlias = Alias(OptimizerBarrier(keysL), "_graft_keys_l")()
    val krAlias = Alias(OptimizerBarrier(keysR), "_graft_keys_r")()
    val leftProj = Project(leftBase.output :+ klAlias, leftBase)
    val rightProj = Project(right.output :+ krAlias, right)

    val gkL = AttributeReference("_graft_gk_l", StringType, nullable = true)()
    val gkR = AttributeReference("_graft_gk_r", StringType, nullable = true)()
    val leftGen = Generate(Explode(klAlias.toAttribute), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(gkL), child = leftProj)
    val rightGen = Generate(Explode(krAlias.toAttribute), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(gkR), child = rightProj)

    // exactly one meeting per pair, uniformly across regimes: a pair may
    // share several segment and/or length keys, but the MINIMUM of the
    // key-array intersection is a single deterministic element — keep
    // only the meeting on that key (simpler than the old per-regime gram
    // residual, and correct for mixed-length pairs by construction)
    val meetOnce = EqualTo(gkL,
      ArrayMin(ArrayIntersect(klAlias.toAttribute, krAlias.toAttribute)))

    if (joinType == Inner) {
      val newCond = And(EqualTo(gkL, gkR), And(meetOnce, cond))
      val newJoin = Join(leftGen, rightGen, Inner, Some(newCond), hint)
      Some(Project(j.output, newJoin))
    } else {
      // LeftSemi: duplicate meetings are absorbed by the match-dedupe
      // aggregate, so the meet-once residual (and its ArrayIntersect per
      // candidate) is unnecessary work — drop it
      val newCond = And(EqualTo(gkL, gkR), cond)
      val newJoin = Join(leftGen, rightGen, Inner, Some(newCond), hint)
      val matchedCols: Seq[NamedExpression] = left.output :+ cntAttr.get
      val matched = Aggregate(matchedCols, matchedCols, newJoin)
      val idx = AttributeReference("_graft_i", LongType)()
      val expanded = Generate(
        Explode(Sequence(Literal(1L), cntAttr.get, None, Some(conf.sessionLocalTimeZone))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(idx), child = matched)
      Some(Project(j.output, expanded))
    }
  }
}
