package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Exact int64 dot product of two `array<bigint>` columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Why a custom Expression (SURVEY.md §7.3 preference order b): the
  * composable alternative `aggregate(zip_with(a, b, (x,y) -> x*y), 0, +)`
  * allocates an intermediate array per row and falls back to interpreted
  * evaluation (higher-order functions don't codegen), which dominates the
  * ANN scoring loop. This fuses to one branch-free loop inside the
  * generated code — the hot path of `Similarity` stays inside
  * WholeStageCodegen. Semantics are identical: exact integer sum,
  * order-independent.
  */
case class DotProductI64(left: Expression, right: Expression)
    extends BinaryExpression {
  // checkInputDataTypes rather than ExpectsInputTypes (AbstractDataType is
  // private[sql] in Spark 4): the generated loop reads elements as LONG,
  // so a raw float embedding passed from ad-hoc SQL without quantizing
  // must be an ANALYSIS error — unchecked it surfaces as an
  // UnsupportedOperationException from the parquet dictionary reader deep
  // inside codegen (found by the r11 local-cluster checks)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.ArrayType
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two ARRAY<BIGINT> arguments, got ${l.sql} and ${r.sql}; " +
          "quantize float embeddings first (e.g. transform(e, x -> cast(round(x * 10000) as bigint)))")
    }
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot"
  // null result for ragged/null-element inputs, not only null inputs
  override def nullable: Boolean = true

  /** Null semantics match the DuckDB oracle formulation
    * (`list_zip` pads the shorter list with NULL → NULL product → NULL
    * sum): a length mismatch or a NULL element yields NULL, never a
    * silently truncated or garbage sum. The well-formed fast path (equal
    * lengths, no nulls — every engine call site) is one extra compare plus
    * a per-element null-bit test.
    */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    var s = 0L
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getLong($i) * $b.getLong($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductI64 =
    copy(left = newLeft, right = newRight)
}

/** SparkSessionExtensions wiring, and the ONLY registration path for the
  * engine's native SQL functions: sessions built with
  * `.withExtensions(new GraftExtensions)` (every `graft.GraftSession`, or
  * `spark.sql.extensions=graft.functions.GraftExtensions` on a shared
  * cluster) get the `graft_*` functions — callable from both the Column
  * API (`expr("graft_dot(a, b)")`) and the ad-hoc SQL surface — plus the
  * engine's optimizer rules.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    def fn(name: String, className: String, builder: Seq[Expression] => Expression): Unit =
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(className, name),
        builder))
    fn("graft_dot", classOf[DotProductI64].getName, exprs => DotProductI64(exprs(0), exprs(1)))
    fn("graft_lsh_keys", classOf[LshTableKeys].getName, lshKeysBuilder)
    fn("graft_nfc", classOf[NfcNormalize].getName, exprs => NfcNormalize(exprs(0)))
    fn("graft_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      mightContainBuilder)
    fn("graft_jaro_winkler", classOf[JaroWinklerSim].getName,
      exprs => JaroWinklerSim(exprs(0), exprs(1)))
    fn("graft_winnow", classOf[RollingWinnow].getName, winnowBuilder)
    fn("graft_lsh_sig", classOf[LshSignature].getName, lshSigBuilder)
    fn("graft_lsh_first_agree", classOf[LshFirstAgree].getName, lshFirstAgreeBuilder)
    // identity barrier (plans.OptimizerBarrier) as a callable function, so
    // Column-API operators can mark an expensive projected expression
    // non-duplicable (r18: TextAnalysis quality_score — a pushed-down
    // quality-gate filter inlined the whole tokenize+quality tree below
    // the scan spread, evaluating it once per row in the single scan task
    // and AGAIN in the projection above)
    fn("graft_barrier", classOf[graft.plans.OptimizerBarrier].getName,
      exprs => graft.plans.OptimizerBarrier(exprs(0)))
    // pure range joins (inequality-only conditions) rewrite to the
    // bucketed equi-join plan instead of a nested loop / cartesian
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // levenshtein-bounded joins (naive SQL and operators/FuzzyJoin)
    // rewrite to the PassJoin segment-blocked equi-join plan
    // (FuzzyJoinRewrite scaladoc)
    e.injectOptimizerRule(_ => graft.plans.FuzzyJoinRewrite)
  }
}

object GraftExtensions {
  private def intArg(exprs: Seq[Expression], i: Int): Int =
    exprs(i).eval().asInstanceOf[Number].intValue()
  private def longArg(exprs: Seq[Expression], i: Int): Long =
    exprs(i).eval().asInstanceOf[Number].longValue()

  private def lshKeysBuilder(exprs: Seq[Expression]): Expression =
    LshTableKeys(exprs(0), intArg(exprs, 1), intArg(exprs, 2), intArg(exprs, 3),
      intArg(exprs, 4), longArg(exprs, 5))

  private def winnowBuilder(exprs: Seq[Expression]): Expression =
    RollingWinnow(exprs(0), intArg(exprs, 1), intArg(exprs, 2), longArg(exprs, 3),
      longArg(exprs, 4))

  private def lshSigBuilder(exprs: Seq[Expression]): Expression =
    LshSignature(exprs(0), intArg(exprs, 1), intArg(exprs, 2), longArg(exprs, 3))

  private def lshFirstAgreeBuilder(exprs: Seq[Expression]): Expression =
    LshFirstAgree(exprs(0), intArg(exprs, 1), intArg(exprs, 2), intArg(exprs, 3),
      intArg(exprs, 4), longArg(exprs, 5))

  /** graft_might_contain(bloomBytes, longValue): Spark's own
    * `BloomFilterMightContain` predicate (the expression behind runtime
    * row-level filtering) exposed as a callable function, so an
    * explicitly-built sketch (`df.stat.bloomFilter` over `xxhash64`
    * longs — the same putLong/mightContainLong path) can prefilter a scan
    * as a foldable literal. Codegen'd; no UDF.
    */
  private def mightContainBuilder(exprs: Seq[Expression]): Expression =
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))
}
