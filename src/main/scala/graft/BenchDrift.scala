package graft

import java.nio.file.{Files, Paths}

/** Same-day machine-drift control for the per-round bench (SCALE.md
  * "Bench numbers are only comparable same-day"; the r13 finding:
  * host speed drifted ~1.36× between recordings, so a raw cross-round
  * total cannot distinguish a code regression from a slower machine).
  *
  * Method (r15 — rebuilt after the r14 control failed its first real
  * exercise in BOTH the ways a control can fail):
  *
  *  1. resolve the PREVIOUS round's tree — the latest `round N:` commit
  *     whose TREE HASH DIFFERS from HEAD's. The r14 version took the
  *     latest round commit unconditionally, but the driver benches
  *     AFTER committing the round snapshot, so it resolved the current
  *     snapshot and benchmarked the tree against itself
  *     (BENCH_r14.json: prev_ref=b9b5ef72 = the r14 snapshot).
  *  2. compile it in a cached git worktree (reused across runs);
  *  3. run a PINNED probe as three CONCURRENT (A,B) child-JVM pairs
  *     (A=prev tree, B=this tree, identical flags, 3 passes per child,
  *     per-child median = its steady state) — the two sides of each
  *     ratio execute at the same instant, so co-tenant load cancels by
  *     construction. The r14 version ran 3×A then 3×B, so any host-state
  *     change (co-tenant load, thermal, page cache) landed entirely on
  *     one side: identical code read code_factor 1.694 back-to-back.
  *     The reported factor is the MEDIAN of the per-pair ratios (see
  *     [[interleaved]] for the sequential estimators that failed their
  *     own self-test) and all three ratios are emitted so disagreement
  *     is visible, not averaged away. A final SOLO prev-tree probe
  *     feeds the drift leg at the recorded (uncontended) config.
  *  4. read the previous tree's own committed full-bench detail
  *     (tools/bench_detail_latest.json, falling back to the round-named
  *     tools/bench_sf01_r*_final_detail.json) for what those same
  *     queries scored WHEN RECORDED.
  *
  * Emitted fragment:
  *   `drift_factor` = prev tree today ÷ prev tree recorded — pure HOST
  *   drift (same code, two days);
  *   `code_factor`  = this tree ÷ prev tree, interleaved same-minute —
  *   pure CODE delta; `pair_ratios` carries the two independent
  *   bracketed measurements behind it.
  * A future judge reads code-vs-code directly instead of re-litigating
  * "regression or host?" by hand.
  *
  * Self-test ([[selfNoise]], pinned by BenchDriftSpec): point both
  * sides at THIS tree and FAIL if the factor leaves [0.9, 1.1] — the
  * harness property the r14 run would have tripped at 1.694.
  *
  * Every step is time-bounded and failure-isolated: the control can only
  * ever add a `"drift":{"status":"skipped",...}` note, never take the
  * bench line down. Child stdout/stderr go to /tmp files — the driver
  * contract (ONE final stdout line) is preserved.
  *
  * r16 (after the r15 control violated exactly that contract —
  * per-step 900 s timeouts with no GLOBAL deadline and a pair loop that
  * kept launching after a failed side let one hung probe push the
  * driver's bench past its outer timeout: BENCH_r15.json was rc=124
  * with no metric line at all):
  *
  *  - ONE wall-clock budget for the whole control (default 420 s,
  *    SPARK_GRAFT_DRIFT_BUDGET to override), measured from controlImpl
  *    entry; every child-wait and compile timeout is clamped to the
  *    remainder and the control bails to `skipped("drift budget ...")`
  *    the moment the remainder can't fit the next step;
  *  - the pair loop SHORT-CIRCUITS on the first failed side (r15 ran
  *    pairs 2 and 3 after pair 1's A-side had already timed out);
  *  - end-of-round reuse: if a committed `tools/bench_drift_r*.json`
  *    already records the same (HEAD src/main tree, prev src/main tree)
  *    pair — the round ritual's `drift` step runs the control that
  *    morning on an idle host — its drift block is re-emitted with a
  *    `reused_from` marker instead of re-probing a just-hammered host.
  *    src/main subtree hashes, not commit trees: the driver's round
  *    commit adds artifact files, which must not defeat the match.
  */
object BenchDrift {

  /** Pinned probe: the same 12 entries as the r13 hand probe — the top
    * expensive families (dedup/graph/winnow/curate/fuzzy) plus two cheap
    * scan-shaped controls. All present in the catalog since r12, so the
    * previous tree can always run them; factors compare on the
    * intersection of queries ALL probe runs actually completed.
    */
  val probeQueries: Seq[String] = Seq(
    "bollinger", "curate_neardup", "dedup_clusters", "dedup_jaccard_prefix",
    "dedup_keep_best", "etl_pipeline", "fuzzy_semi_rule", "graph_kcore",
    "graph_mass_flow", "graph_triangles", "price_parse", "winnow_fingerprints")

  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"'  => "\\\""
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }

  private def skipped(reason: String): String =
    s""","drift":{"status":"skipped","reason":"${esc(reason.take(160))}"}"""

  /** Run `cmd` with stdout+stderr appended to `logPath`; returns exit
    * code, or -1 on timeout (process destroyed).
    */
  private def runProc(cmd: Seq[String], cwd: String, env: Map[String, String],
                      logPath: String, timeoutSec: Long): Int = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(new java.io.File(cwd))
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.appendTo(new java.io.File(logPath)))
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    if (!p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
      p.destroyForcibly(); p.waitFor(); -1
    } else p.exitValue()
  }

  private def git(args: String*): Option[String] = {
    val p = new ProcessBuilder(("git" +: args): _*).redirectErrorStream(false).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
    p.getErrorStream.readAllBytes()
    if (p.waitFor() == 0 && out.nonEmpty) Some(out) else None
  }

  /** Per-query medians from a Bench detail file: {"queries":{name:{"median":x,...}}}.
    * `atSf` (when set) rejects a detail recorded at a DIFFERENT scale
    * factor — a drift factor comparing today's sf0.01 probe against a
    * recorded sf0.1 run would be pure noise.
    */
  private def readDetail(path: String, atSf: Option[String] = None): Option[Map[String, Double]] = {
    if (!Files.exists(Paths.get(path))) return None
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readAllBytes(Paths.get(path)))
      atSf.foreach { want =>
        val rec = Option(root.get("sf")).map(_.asText("")).getOrElse("")
        val sfName = "sf[0-9.]+[0-9]".r
        if (sfName.findFirstIn(rec) != sfName.findFirstIn(want)) return None
      }
      val qs = root.get("queries")
      if (qs == null) return None
      val it = qs.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val e = it.next()
        val m = e.getValue.get("median")
        if (m != null) b += e.getKey -> m.asDouble()
      }
      Some(b.result())
    } catch { case _: Throwable => None }
  }

  /** The add-opens java needs for Spark 4 on JDK 17 outside spark-submit
    * (mirrors build.sbt / tools/run_main.sh).
    */
  private val addOpens: Seq[String] = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  /** A probe child: `graft.Bench` launched from `classesDir` in a fresh
    * JVM restricted to `queries`, `runs` passes (the per-child median is
    * its steady state — the first pass in a fresh JVM is codegen/JIT
    * warmup, which at sf0.001 dominated the query time 5:1). Started
    * asynchronously so an A/B pair can run CONCURRENTLY; [[Probe.finish]]
    * waits and reads the per-query medians.
    */
  private final class Probe(classesDir: String, cwd: String, val tag: String,
                            queries: Seq[String], sfDir: String, cpus: String,
                            shuffleParts: String, runs: Int,
                            mainClass: String = "graft.Bench") {
    private val detail = s"/tmp/graft_drift_probe_$tag.json"
    private val log = s"/tmp/graft_drift_probe_$tag.log"
    Files.deleteIfExists(Paths.get(detail))
    private val proc: Process = {
      val cmd = Seq("java") ++ addOpens ++ Seq(
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
        "-cp", s"$classesDir:/opt/spark/jars/*", mainClass)
      val pb = new ProcessBuilder(cmd: _*)
      pb.directory(new java.io.File(cwd))
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.appendTo(new java.io.File(log)))
      val env = Map(
        "SPARK_GRAFT_SF_DIR" -> sfDir,
        "SPARK_GRAFT_CPUS" -> cpus,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> shuffleParts,
        "SPARK_GRAFT_BENCH_ONLY" -> queries.mkString(","),
        "SPARK_GRAFT_BENCH_RUNS" -> runs.toString,
        "SPARK_GRAFT_BENCH_DETAIL" -> detail,
        "SPARK_GRAFT_BENCH_DRIFT" -> "off")
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      pb.start()
    }
    def finish(timeoutSec: Long = 900): Option[Map[String, Double]] = {
      val done = timeoutSec > 0 &&
        proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { proc.destroyForcibly(); proc.waitFor() }
      if (!done || proc.exitValue() != 0) {
        System.err.println(s"[drift] probe $tag rc=${if (done) proc.exitValue() else -1} (log: $log)")
        None
      } else readDetail(detail)
    }
    /** Kill without waiting out the timeout — used when the twin probe
      * already failed and this one's result can no longer form a ratio. */
    def kill(): Unit = { proc.destroyForcibly(); proc.waitFor() }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One A-vs-B measurement: three pairs of child JVMs, each pair run
    * CONCURRENTLY — A_i and B_i side by side see the identical
    * instantaneous host state, so the per-pair ratio B_i/A_i cancels
    * co-tenant load by construction instead of hoping it holds still
    * between runs. `factor` = the MEDIAN of the three pair ratios.
    *
    * Concurrent pairs, median — because every sequential estimator tried
    * on this host failed its own same-tree self-test: 3×A-then-3×B put
    * monotone host drift entirely on one side (the r14 bug, read 1.69 on
    * identical code); bracketing each B between two shared A's let ONE
    * straggler child poison both ratios (read 0.87); per-child
    * min-of-passes picked up lucky turbo runs (read 1.13); even disjoint
    * sequential pairs read 0.87 once — the load bursts here are shorter
    * than a child's lifetime, so no sequencing outruns them. Running the
    * two sides at the same instant is the only structure that makes the
    * burst land on BOTH legs of the ratio. The symmetric cost is CPU
    * contention between the twins, which inflates both legs equally;
    * `aSum`/`bSum` are therefore contention-inflated and labeled
    * `*_concurrent` in the emitted JSON — the recorded-vs-today drift
    * leg must use a SOLO run, never these.
    */
  final case class Interleaved(common: Seq[String], aMedians: Map[String, Double],
                               aSum: Double, bSum: Double,
                               ratios: Seq[Double], factor: Double,
                               perQuery: Map[String, Seq[Double]],
                               note: String = "") {
    /** Queries whose EVERY pair ratio exceeds the threshold — a 2×
      * regression in one 0.5 s probe query hides inside a neutral
      * 12-query sum (r15 verdict stretch); requiring all pairs to agree
      * keeps single-pair stragglers from flagging.
      *
      * AND at least TWO completed pairs (r18, the r16 verdict's open
      * item 6): with one pair "all pairs agree" is a single coin flip —
      * r17's budget-truncated control flagged bollinger 1.58× on code
      * that was untouched. One pair still reports `code_factor` (the
      * degradation contract), it just may not single out queries. */
    def flagged(threshold: Double = 1.3): Map[String, Seq[Double]] =
      if (ratios.size < 2) Map.empty
      else perQuery.filter(_._2.forall(_ > threshold))
  }

  /** `deadlineNanos`: global budget — no pair launches once past it, and
    * each child wait is clamped to the remainder (r15: unbounded
    * per-step waits let the control overrun the driver's own timeout).
    * The loop short-circuits on the FIRST failed side: the twin is
    * killed and no further pairs launch. Failures DEGRADE, not discard:
    * if at least one pair completed, the factor is reported from the
    * completed pairs with a `note` naming what was cut (pair_ratios'
    * length makes the reduced evidence visible); only a first-pair
    * failure skips the control outright.
    *
    * `minPairSec`: don't launch a pair the remaining budget can't fit —
    * a full-probe pair at sf0.1 runs ~250-300 s (r15 ritual: 1084 s for
    * compile + 3 pairs + solo), so launching into a 60 s remainder
    * guarantees a wasted kill.
    */
  private[graft] def interleaved(aClasses: String, aCwd: String,
                                 bClasses: String, bCwd: String,
                                 queries: Seq[String], sfDir: String,
                                 cpus: String, shuffleParts: String,
                                 minCommon: Int, tagPrefix: String,
                                 runsPerProbe: Int = 3,
                                 nPairs: Int = 3,
                                 deadlineNanos: Long = Long.MaxValue,
                                 minPairSec: Long = 10,
                                 mainClass: String = "graft.Bench"): Either[String, Interleaved] = {
    def remainingSec: Long =
      if (deadlineNanos == Long.MaxValue) 900L
      else math.max(0L, (deadlineNanos - System.nanoTime()) / 1000000000L)
    val as = Seq.newBuilder[Map[String, Double]]
    val bs = Seq.newBuilder[Map[String, Double]]
    var done = 0
    var note = ""
    var i = 1
    while (i <= nPairs && note.isEmpty) {
      if (remainingSec < minPairSec) {
        if (done == 0)
          return Left(s"drift budget exhausted before pair 1 (${remainingSec}s left)")
        note = s"budget exhausted after $done of $nPairs pairs"
      } else {
        val a = new Probe(aClasses, aCwd, s"${tagPrefix}_a$i", queries, sfDir,
          cpus, shuffleParts, runsPerProbe, mainClass)
        val b = new Probe(bClasses, bCwd, s"${tagPrefix}_b$i", queries, sfDir,
          cpus, shuffleParts, runsPerProbe, mainClass)
        a.finish(math.min(900L, remainingSec)) match {
          case None =>
            b.kill()
            if (done == 0) return Left(s"A-side probe ${tagPrefix}_a$i failed")
            note = s"pair $i A-side failed; reporting $done completed pairs"
          case Some(ra) =>
            b.finish(math.min(900L, math.max(1L, remainingSec))) match {
              case None =>
                if (done == 0) return Left(s"B-side probe ${tagPrefix}_b$i failed")
                note = s"pair $i B-side failed; reporting $done completed pairs"
              case Some(rb) => as += ra; bs += rb; done += 1; i += 1
            }
        }
      }
    }
    if (note.nonEmpty) System.err.println(s"[drift] $note")
    val (aOk, bOk) = (as.result(), bs.result())
    val common = queries.filter(q => (aOk ++ bOk).forall(_.get(q).exists(_ >= 0)))
    if (common.size < minCommon)
      return Left(s"only ${common.size} common probe queries (need $minCommon)")
    def sum(m: Map[String, Double]): Double = common.map(m).sum
    val ratios = aOk.zip(bOk).map { case (a, b) => sum(b) / sum(a) }
    val aMed = common.map(q => q -> median(aOk.map(_(q)))).toMap
    val perQuery = common.map(q =>
      q -> aOk.zip(bOk).map { case (a, b) => b(q) / a(q) }).toMap
    Right(Interleaved(common, aMed, median(aOk.map(sum)), median(bOk.map(sum)),
      ratios, median(ratios), perQuery, note))
  }

  /** Harness self-test: both sides are THIS tree's compiled classes, so a
    * correct control must read ~1.0 — the r14 sequencing would have read
    * 1.694 here. BenchDriftSpec runs it on a 2-query probe at sf0.001 and
    * fails the build if the factor leaves [0.9, 1.1].
    */
  def selfNoise(sfDir: String, queries: Seq[String], cpus: String,
                shuffleParts: String): Either[String, Interleaved] = {
    val classes = "target/scala-2.13/classes"
    if (!Files.exists(Paths.get(s"$classes/graft/Bench.class")))
      Left(s"no compiled classes at $classes")
    else interleaved(classes, ".", classes, ".", queries, sfDir, cpus,
      shuffleParts, minCommon = queries.size, tagPrefix = "self",
      // 7 passes × 5 pairs, not the production 3×3: the self-test
      // probe's steady-state sums are ~2 s, where per-child JIT/GC
      // idiosyncrasy is ±15% — measured pair-ratio spread at 7 passes
      // is ±7%, and the median of 5 pairs holds the ±10% bound with
      // margin (at 5 passes / 3 pairs the test was flaky)
      runsPerProbe = 7, nPairs = 5)
  }

  /** Manual / round-ritual entry point: run the control standalone and
    * print ONE VALID JSON OBJECT `{"drift":{...}}` (the r15 ritual's
    * raw-fragment output wasn't parseable on its own) — lets a round
    * exercise the real prev-round comparison without a 20-minute
    * full-catalog Bench run. Full mode: emits the per-query pair-ratio
    * block and never reuses a prior artifact (this run IS the producer
    * the end-of-round bench reuses).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sizing = GraftSession.resolve(sys.env)
    val frag = control(sfDir, sizing.cpus.toString,
      sizing.shufflePartitions.toString, full = true, allowReuse = false)
    println("{" + frag.stripPrefix(",") + "}")
  }

  /** Whole-control wall-clock budget (seconds). The driver's bench has
    * ONE outer timeout for the entire JVM; inside it the control must
    * fit whatever headroom the catalog run left, so the end-of-round
    * default is tight (420 s — enough for one concurrent pair when no
    * committed artifact is reusable, and reuse is the expected path).
    * The round ritual's standalone run is the PRODUCER of that artifact
    * and owns its whole process: it gets the full-measurement budget
    * (r15's complete ritual run took 1084 s). */
  private def budgetSec(full: Boolean): Long = sys.env.get("SPARK_GRAFT_DRIFT_BUDGET")
    .flatMap(s => scala.util.Try(s.toLong).toOption)
    .getOrElse(if (full) 1800L else 420L)

  /** The control proper. Returns a JSON fragment starting with a comma
    * (to splice into the bench line) — either the measured factors, a
    * reused committed measurement of the same tree pair, or a skipped
    * note. Never throws, and returns within [[budgetSec]] plus
    * child-kill grace.
    */
  def control(sfDir: String, cpus: String, shuffleParts: String,
              full: Boolean = false, allowReuse: Boolean = true): String =
    try controlImpl(sfDir, cpus, shuffleParts, full, allowReuse)
    catch { case t: Throwable => skipped(s"${t.getClass.getSimpleName}: ${t.getMessage}") }

  /** Committed drift artifact recording the same (head src/main tree,
    * prev src/main tree) pair, if any — the round ritual's `drift` step
    * measures on an idle host; re-measuring at end-of-round on a host
    * the full catalog just hammered adds risk (r15: it added a timeout),
    * not information. Highest round number wins.
    */
  private def reusable(headSrc: String, prevSrc: String): Option[String] = {
    val dir = new java.io.File("tools")
    val pat = "bench_drift_r(\\d+)\\.json".r
    val candidates = Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      pat.findFirstMatchIn(f.getName).map(m => m.group(1).toInt -> f)
    }.sortBy(-_._1)
    candidates.iterator.flatMap { case (_, f) =>
      try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
          Files.readAllBytes(f.toPath))
        val d = if (root.has("drift")) root.get("drift") else root
        val matches = d.isObject && d.has("code_factor") &&
          Option(d.get("head_src")).exists(_.asText() == headSrc) &&
          Option(d.get("prev_src")).exists(_.asText() == prevSrc)
        if (matches) {
          val obj = d.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          obj.put("reused_from", f.getPath)
          // the ritual artifact carries the full per-query block; the
          // bench line has a 1900-byte stdout budget — keep `flagged`
          // (normally absent), drop the bulk
          obj.remove("per_query")
          Some(s""","drift":${obj.toString}""")
        } else None
      } catch { case _: Throwable => None }
    }.nextOption()
  }

  private def controlImpl(sfDir: String, cpus: String, shuffleParts: String,
                          full: Boolean, allowReuse: Boolean): String = {
    val budget = budgetSec(full)
    val deadline = System.nanoTime() + budget * 1000000000L
    def remaining: Long = math.max(0L, (deadline - System.nanoTime()) / 1000000000L)
    // 1. previous round's tree = the latest `round N:` commit whose TREE
    //    differs from HEAD's. The driver benches AFTER committing the
    //    round snapshot, so the latest round commit is usually HEAD
    //    itself — comparing against it is a self-comparison (the r14
    //    failure). Tree-hash inequality, not commit inequality: a
    //    re-commit of an identical tree must also be skipped.
    val headTree = git("rev-parse", "HEAD^{tree}")
      .getOrElse(return skipped("cannot resolve HEAD tree"))
    val candidates = git("log", "-E", "--grep", "^round [0-9]+:", "-10", "--format=%H")
      .map(_.linesIterator.toSeq).getOrElse(Seq.empty)
    if (candidates.isEmpty) return skipped("no prior `round N:` commit found")
    val prevRef = candidates
      .find(h => !git("rev-parse", s"$h^{tree}").contains(headTree))
      .getOrElse(return skipped("every round commit shares HEAD's tree (self-comparison)"))
    val short = prevRef.take(8)

    // src/main subtree hashes identify the CODE pair being compared —
    // the whole-tree hash changes whenever an artifact file lands, which
    // must not defeat reuse of a same-code measurement. A dirty src/main
    // (uncommitted operator edits) can't be identified by any committed
    // hash, so it always measures fresh.
    val headSrc = git("rev-parse", "HEAD:src/main").getOrElse("").take(12)
    val prevSrc = git("rev-parse", s"$prevRef:src/main").getOrElse("").take(12)
    val srcDirty = git("status", "--porcelain", "src/main").isDefined
    if (allowReuse && !srcDirty && headSrc.nonEmpty && prevSrc.nonEmpty)
      reusable(headSrc, prevSrc).foreach { frag =>
        System.err.println(s"[drift] reusing committed same-pair measurement")
        return frag
      }

    // 2. cached worktree (ref in the path — a new round's ref gets a
    //    fresh dir; stale dirs are pruned by the OS tmp cleaner)
    val wt = s"/tmp/graft_drift_$short"
    val headOk = git("-C", wt, "rev-parse", "HEAD").contains(prevRef)
    if (!headOk) {
      runProc(Seq("git", "worktree", "remove", "--force", wt), ".", Map.empty,
        "/tmp/graft_drift_wt.log", 60)
      git("worktree", "prune")
      val rc = runProc(Seq("git", "worktree", "add", "--detach", wt, prevRef),
        ".", Map.empty, "/tmp/graft_drift_wt.log", math.min(120L, remaining))
      if (rc != 0) return skipped(s"worktree add rc=$rc")
    }

    // 3. compile the previous tree once (reused while the ref is current).
    //    A cold compile is ~3-4 min: it only starts if the budget can
    //    still fit it AND leave ~floor for at least one probe pair.
    val prevClasses = s"$wt/target/scala-2.13/classes"
    val compiled = Files.exists(Paths.get(s"$prevClasses/graft/Bench.class"))
    if (!compiled) {
      if (remaining < 60) return skipped(s"drift budget exhausted before compile (${budget}s)")
      val rc = runProc(Seq("sbt", "-batch", "compile"), wt, Map.empty,
        "/tmp/graft_drift_compile.log", remaining)
      if (rc != 0 || !Files.exists(Paths.get(s"$prevClasses/graft/Bench.class")))
        return skipped(s"prev tree compile rc=$rc")
    }

    // snapshot THIS tree's classes (run_main.sh rationale: a concurrent
    // sbt rewriting classfiles under a lazily-loading child is a race)
    val snap = Files.createTempDirectory("graft-drift-classes").toString
    runProc(Seq("cp", "-r", "target/scala-2.13/classes/.", snap), ".", Map.empty,
      "/tmp/graft_drift_wt.log", 120)

    // 4. three concurrent A/B probe pairs (code_factor), then one SOLO
    //    prev-tree probe at the recorded config for the drift leg — the
    //    concurrent sums are contention-inflated and must not be compared
    //    against a solo-recorded detail
    val measured =
      try {
        val pairs = interleaved(prevClasses, wt, snap, ".", probeQueries, sfDir,
          cpus, shuffleParts, minCommon = 6, tagPrefix = "ctl",
          deadlineNanos = deadline, minPairSec = 240)
        val solo = pairs.toOption.filter(_ => remaining >= 10).flatMap { _ =>
          new Probe(prevClasses, wt, "ctl_solo", probeQueries, sfDir, cpus,
            shuffleParts, runs = 3).finish(math.min(900L, remaining))
        }
        (pairs, solo)
      } finally runProc(Seq("rm", "-rf", snap), ".", Map.empty, "/tmp/graft_drift_wt.log", 60)
    val m = measured._1 match {
      case Right(v) => v
      case Left(reason) => return skipped(reason)
    }
    val soloA: Option[Double] = measured._2.flatMap { run =>
      val vs = m.common.flatMap(run.get).filter(_ >= 0)
      if (vs.size == m.common.size) Some(vs.sum) else None
    }

    // 5. what the SAME queries scored when the previous round recorded
    //    them — from the previous tree's own committed detail artifact;
    //    compared against the SOLO probe (same uncontended config as the
    //    recording), never the concurrent sums
    val recordedPath = Seq(s"$wt/tools/bench_detail_latest.json").find(p =>
      Files.exists(Paths.get(p))).orElse {
      val dir = new java.io.File(s"$wt/tools")
      val pat = "bench_sf01_r(\\d+)_final_detail\\.json".r
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        pat.findFirstMatchIn(f.getName).map(m => m.group(1).toInt -> f.getPath)
      }.sortBy(-_._1).headOption.map(_._2)
    }
    val recorded = recordedPath.flatMap(p => readDetail(p, atSf = Some(sfDir)))
    val recSum = recorded.map(r => m.common.flatMap(r.get).filter(_ >= 0))
      .filter(_.size == m.common.size).map(_.sum)

    val driftPart = (recSum, soloA) match {
      case (Some(rs), Some(sa)) if rs > 0 =>
        f""","prev_solo":$sa%.2f,"prev_recorded":$rs%.2f,"drift_factor":${sa / rs}%.3f"""
      case _ => ""
    }
    val ratiosJson = m.ratios.map(r => f"$r%.3f").mkString("[", ",", "]")
    def ratioMap(qs: Map[String, Seq[Double]]): String = qs.toSeq.sortBy(_._1)
      .map { case (q, rs) => "\"" + q + "\":" + rs.map(r => f"$r%.3f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // a query whose EVERY pair ratio exceeds 1.3 regressed beyond what a
    // neutral probe-sum can hide; the bench line carries only these
    // (normally none), the ritual artifact carries the full block
    val flaggedPart = {
      val fl = m.flagged()
      if (fl.isEmpty) "" else s""","flagged":${ratioMap(fl)}"""
    }
    val perQueryPart = if (full) s""","per_query":${ratioMap(m.perQuery)}""" else ""
    val notePart = if (m.note.isEmpty) "" else s""","note":"${esc(m.note)}""""
    f""","drift":{"prev_ref":"$short","head_src":"$headSrc","prev_src":"$prevSrc","probe_n":${m.common.size},"prev_concurrent":${m.aSum}%.2f,"this_concurrent":${m.bSum}%.2f,"pair_ratios":$ratiosJson,"code_factor":${m.factor}%.3f$driftPart$flaggedPart$perQueryPart$notePart}"""
  }
}
