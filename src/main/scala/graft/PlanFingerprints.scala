package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

/** Per-entry PHYSICAL-PLAN-SHAPE regression pin.
  *
  * The catalog's scale posture lives in plan shapes: a dimension join
  * must stay a BroadcastHashJoin, a bucketed range join must not decay
  * to BroadcastNestedLoop, a one-exchange kernel must not grow a second
  * shuffle. CORRECTNESS sweeps cannot see such a flip (the result is
  * identical, just 100× slower at scale), and `.explain` prose in
  * PLANS.md is only as fresh as the last human read. This pins a compact
  * fingerprint — counts of the scale-relevant physical operators — for
  * EVERY catalog entry, checked by PlanFingerprintSpec on every
  * `sbt test`.
  *
  * The fingerprint deliberately counts only operators with a scale story
  * (join strategies, exchanges, aggregates, sorts, windows, scans,
  * generates, limits, typed-object boundaries): a refactor that merely
  * reshuffles Projects/Filters does not churn the pin, but one that
  * flips a join strategy, adds an exchange, or drops a TakeOrdered tail
  * fails loudly. Intentional changes are re-pinned by regenerating:
  *
  *   tools/run_main.sh graft.PlanFingerprints [sfDir] [outJson]
  *
  * Fingerprints are taken from `queryExecution.sparkPlan` — the
  * statically selected physical plan, BEFORE adaptive re-optimization —
  * at sf0.001, with the SAME shuffle-partitions/AQE session config the
  * spec uses, so the pin is deterministic for a given code + Spark
  * version + data. (AQE may still improve things at runtime; the pin
  * guards the static strategy the optimizer would start from.)
  */
object PlanFingerprints {

  /** Physical operators with a scale story → short fingerprint keys.
    * Anything not listed is shape-neutral by policy (Project, Filter,
    * codegen wrappers, InputAdapter...).
    */
  private val interesting: Map[String, String] = Map(
    "BroadcastHashJoinExec" -> "bhj",
    "SortMergeJoinExec" -> "smj",
    "ShuffledHashJoinExec" -> "shj",
    "BroadcastNestedLoopJoinExec" -> "bnlj",
    "CartesianProductExec" -> "cartesian",
    "ShuffleExchangeExec" -> "shuffle",
    "BroadcastExchangeExec" -> "broadcast",
    "ReusedExchangeExec" -> "reuse",
    "HashAggregateExec" -> "hashagg",
    "ObjectHashAggregateExec" -> "objagg",
    "SortAggregateExec" -> "sortagg",
    "SortExec" -> "sort",
    "WindowExec" -> "window",
    "WindowGroupLimitExec" -> "wingrouplimit",
    "TakeOrderedAndProjectExec" -> "topk",
    "GenerateExec" -> "generate",
    "ExpandExec" -> "expand",
    "UnionExec" -> "union",
    "GlobalLimitExec" -> "limit",
    "FileSourceScanExec" -> "scan",
    "LocalTableScanExec" -> "localscan",
    "RDDScanExec" -> "rddscan",
    "ExternalRDDScanExec" -> "rddscan",
    "MapPartitionsExec" -> "typed",
    "MapGroupsExec" -> "typed",
    "MapElementsExec" -> "typed",
    "FlatMapGroupsInRowLevelExec" -> "typed",
    "AggregateInPandasExec" -> "typed",
    // executed-plan (post-AQE) mode only: runtime shuffle reads — a
    // skew-split or coalesced read appears here; never in static plans
    "AQEShuffleReadExec" -> "aqeread")

  /** Compact shape fingerprint: sorted `key=count` pairs of the
    * interesting operators (subquery plans included).
    */
  def fingerprint(df: DataFrame): String = {
    val names = df.queryExecution.sparkPlan.collectWithSubqueries {
      case p: SparkPlan => p.getClass.getSimpleName
    }
    names.flatMap(interesting.get)
      .groupBy(identity).view.mapValues(_.size)
      .toSeq.sortBy(_._1)
      .map { case (k, n) => s"$k=$n" }
      .mkString(" ")
  }

  /** Post-AQE EXECUTED-plan fingerprint (r14 verdict #2): the static pin
    * above guards the strategy Catalyst starts from, but AQE's runtime
    * re-optimization at sf0.1+ is exactly where a join strategy flips on
    * real sizes (post-shuffle stats swap SMJ↔BHJ, skew splits appear).
    * This executes the query (noop sink — the bench's own action) and
    * fingerprints the final adaptive plan, recursing through
    * QueryStageExec / AdaptiveSparkPlanExec boundaries that
    * `collect` alone does not cross.
    */
  def executedFingerprint(df: DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    executedPlanFingerprint(df.queryExecution.executedPlan)
  }

  /** Fingerprint an ALREADY-EXECUTED plan (no action run here): the walk
    * recurses through QueryStageExec / AdaptiveSparkPlanExec boundaries
    * that `collect` alone does not cross. Used directly by the
    * Checkpoints.onTruncate hook, whose DataFrames were executed by the
    * loop's own eager checkpoint.
    */
  def executedPlanFingerprint(plan: SparkPlan): String = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def names(p: SparkPlan): Seq[String] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p.getClass.getSimpleName +: (kids ++ p.subqueries).flatMap(names)
    }
    names(plan)
      .flatMap(interesting.get)
      .groupBy(identity).view.mapValues(_.size)
      .toSeq.sortBy(_._1)
      .map { case (k, n) => s"$k=$n" }
      .mkString(" ")
  }

  /** The expensive tail whose runtime shapes are pinned: the top-25
    * entries by bench median at sf0.1 (tools/bench_detail_latest.json,
    * r13 recording) — the queries where a silent runtime decay costs
    * the most. Kept as an explicit pinned list so the artifact's
    * coverage is stable across rounds even as timings drift.
    */
  val aqeTail: Seq[String] = Seq(
    "ab_test_zscore", "acf_lags", "basket_lift", "bigram_lm_perplexity",
    "bpe_encode", "curate_neardup", "decontaminate_incremental",
    "dedup_clusters", "dedup_containment", "dedup_embedding",
    "dedup_incremental", "dedup_jaccard", "dedup_jaccard_prefix",
    "dedup_keep_best", "dedup_minhash_lsh", "dedup_minhash_sized",
    "dedup_scrub_spans", "fuzzy_join_rule", "fuzzy_semi_rule",
    "graph_bfs_hops", "graph_kcore", "graph_mass_flow", "graph_sssp",
    "graph_triangles", "winnow_fingerprints")

  val defaultOut = "tools/plan_fingerprints.json"
  val defaultAqeOut = "tools/plan_fingerprints_aqe.json"

  /** The bench session shape (GraftSession's default sizing, AQE on) —
    * the runtime pin must be taken under the config whose decisions it
    * guards, not the tiny static-pin session. The committed pin was taken
    * on a 32-core host (local[32], shuffle=32); other core counts must
    * override the sizing to match it.
    */
  def aqeSessionFor(): SparkSession = {
    val spark = GraftSession("graft-plan-fingerprints-aqe")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def sessionFor(sfDir: String): SparkSession = {
    // MUST mirror PlanFingerprintSpec's session knobs: static plan
    // selection depends on shuffle partitions + broadcast threshold
    val spark = GraftSession("graft-plan-fingerprints",
      master = Some("local[4]"), shufflePartitions = Some(4))
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def computeAll(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    SparkEntry.catalogEntries.sortBy(_.name).map { qd =>
      qd.name -> (try fingerprint(qd.run(spark, sfDir))
      catch { case e: Exception => s"ERROR:${e.getClass.getSimpleName}" })
    }

  /** Usage:
    *   PlanFingerprints [sfDir] [outJson]          — static pin, all entries
    *   PlanFingerprints --aqe [sfDir] [outJson]    — (re)pin executed plans
    *   PlanFingerprints --aqe-check [sfDir] [json] — verify executed plans
    *     against the pinned artifact; exit 1 on any drift (the /verify
    *     recipe's runtime-shape check — too slow for every sbt test)
    */
  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some(mode @ ("--aqe" | "--aqe-check")) =>
        val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
        val out = if (args.length > 2) args(2) else defaultAqeOut
        val spark = aqeSessionFor()
        val entries = SparkEntry.catalogEntries.filter(e => aqeTail.contains(e.name))
          .sortBy(_.name)
        require(entries.size == aqeTail.size,
          s"aqeTail names missing from catalog: ${aqeTail.toSet -- entries.map(_.name)}")
        // r15 (r14 verdict #4): also pin the ITERATION-BODY shapes of
        // checkpointed loops. The graph entries execute their rounds
        // eagerly while the catalog function CONSTRUCTS the DataFrame,
        // so the hook must be armed before qd.run; each truncate records
        // the finalized adaptive plan of that round's body. The pinned
        // value keeps the total truncate count (a rounds-to-converge
        // invariant) plus the first distinct body shapes in first-seen
        // order — later rounds legitimately repeat the same shape as
        // sizes shrink, and a strategy decay shows up as a NEW shape or
        // a changed count.
        val fps: Seq[(String, String)] = entries.flatMap { qd =>
          val loopFps = scala.collection.mutable.ArrayBuffer.empty[String]
          val fp =
            try {
              graft.operators.Checkpoints.onTruncate =
                d => loopFps += executedPlanFingerprint(d.queryExecution.executedPlan)
              executedFingerprint(qd.run(spark, sfDir))
            } catch { case e: Exception => s"ERROR:${e.getClass.getSimpleName}" }
            finally graft.operators.Checkpoints.onTruncate = _ => ()
          val loop =
            if (loopFps.isEmpty) Nil
            else {
              val distinctShapes = loopFps.distinct.take(8)
              Seq(s"${qd.name}::loop" ->
                (s"truncates=${loopFps.size} " + distinctShapes.mkString(" | ")))
            }
          Seq(qd.name -> fp) ++ loop
        }
        spark.stop()
        val errs = fps.filter(_._2.startsWith("ERROR:"))
        errs.foreach { case (n, e) => println(s"[plan-fp-aqe]   $n: $e") }
        if (mode == "--aqe") {
          val json = fps.map { case (n, f) => s"""  "$n": "$f"""" }
            .mkString("{\n", ",\n", "\n}\n")
          java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
          println(s"[plan-fp-aqe] wrote $out (${fps.size} entries)")
          if (errs.nonEmpty) sys.exit(1)
        } else {
          val pinRe = """"([^"]+)":\s*"([^"]*)"""".r
          val pinned = pinRe.findAllMatchIn(
            new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)), "UTF-8"))
            .map(m => m.group(1) -> m.group(2)).toMap
          val drift = fps.filter { case (n, f) => pinned.get(n) != Some(f) }
          drift.foreach { case (n, f) =>
            println(s"[plan-fp-aqe] DRIFT $n: pinned='${pinned.getOrElse(n, "<absent>")}' now='$f'")
          }
          println(s"[plan-fp-aqe] checked ${fps.size} executed plans against $out: " +
            s"${drift.size} drifted")
          if (drift.nonEmpty || errs.nonEmpty) sys.exit(1)
        }
      case _ =>
        val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
        val out = if (args.length > 1) args(1) else defaultOut
        val spark = sessionFor(sfDir)
        val fps = computeAll(spark, sfDir)
        val json = fps.map { case (n, f) => s"""  "$n": "$f"""" }
          .mkString("{\n", ",\n", "\n}\n")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
        println(s"[plan-fp] wrote $out (${fps.size} entries)")
        val errs = fps.filter(_._2.startsWith("ERROR:"))
        errs.foreach { case (n, e) => println(s"[plan-fp]   $n: $e") }
        spark.stop()
        if (errs.nonEmpty) sys.exit(1)
    }
  }
}
