package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer numbers of one traced pass, computed from the tracer's
  * spans, jobs, planning phases and micro-batches.
  *
  * `ops` are the pass's top-level spans (one per query or ingest step).
  * For queries, the scheduling layer covers the `action` children and
  * the construction layer the `construct` children; for ingest steps,
  * which have no separate construction, the whole step is the action.
  */
object Layers {
  private val MB = 1024.0 * 1024.0

  def of(tr: Tracer, ops: Seq[Span], cores: Int): Map[String, Double] = {
    val all = tr.all
    val opIds = ops.flatMap(tr.descendants).toSet
    val inPass = all.filter(s => opIds.contains(s.id))
    val constructs = inPass.filter(_.kind == "construct")
    val actions = {
      val a = inPass.filter(_.kind == "action")
      if (a.nonEmpty) a else ops
    }
    val constructIds = constructs.flatMap(tr.descendants).toSet
    val actionIds = actions.flatMap(tr.descendants).toSet
    val jobs = tr.jobs.values.asScala.toSeq.filter(j => opIds.contains(j.span) && !j.end.isNaN)
    val actionJobs = jobs.filter(j => actionIds.contains(j.span))
    def sumJ(js: Seq[JobRec])(f: JobRec => Double): Double = js.map(f).sum

    val jobBusy = actions.map { a =>
      tr.covered(actionJobs.filter(j => tr.descendants(a).contains(j.span)).map(j => (j.start, j.end)),
        a.start, a.end)
    }
    val actionMs = actions.map(_.dur).sum
    val taskRunActionMs = sumJ(actionJobs)(_.runMs.toDouble)
    val plan = tr.plans.asScala.toSeq
      .filter { case (t, _) => tr.spanAt(t, inPass).exists(s => actionIds.contains(s.id)) }
      .map(_._2).sum

    Map(
      "construct_s" -> constructs.map(_.dur).sum / 1000,
      "construct_jobs" -> jobs.count(j => constructIds.contains(j.span)).toDouble,
      "plan_s" -> plan / 1000,
      "exec_s" -> actionMs / 1000,
      "jobs" -> actionJobs.size.toDouble,
      "stages" -> sumJ(actionJobs)(_.stages.toDouble),
      "tasks" -> sumJ(actionJobs)(_.tasks.toDouble),
      "driver_s" -> (actionMs - jobBusy.sum) / 1000,
      "idle_core_s" -> (cores * jobBusy.sum - taskRunActionMs) / 1000,
      "task_run_s" -> sumJ(jobs)(_.runMs.toDouble) / 1000,
      "task_cpu_s" -> sumJ(jobs)(_.cpuNs.toDouble) / 1e9,
      "gc_s" -> sumJ(jobs)(_.gcMs.toDouble) / 1000,
      "input_mb" -> sumJ(jobs)(_.inputBytes.toDouble) / MB,
      "shuffle_write_mb" -> sumJ(jobs)(_.shuffleWrite.toDouble) / MB,
      "shuffle_read_mb" -> sumJ(jobs)(_.shuffleRead.toDouble) / MB,
      "spill_mb" -> sumJ(jobs)(_.spillBytes.toDouble) / MB)
  }

  /** Streaming-layer numbers over the micro-batches of the given queries. */
  def streaming(tr: Tracer, queryIds: Set[String]): Map[String, Double] = {
    val bs = tr.batches.asScala.toSeq.filter(b => queryIds.contains(b.query))
    val durs = bs.map(_.durMs / 1000)
    Map(
      "batches" -> bs.size.toDouble,
      "batch_p50_s" -> Stats.quantile(durs, 0.5),
      "batch_max_s" -> durs.maxOption.getOrElse(0.0),
      "state_rows_peak" -> bs.map(_.stateRows.toDouble).maxOption.getOrElse(0.0),
      "state_mb_peak" -> bs.map(_.stateBytes / MB).maxOption.getOrElse(0.0),
      "state_commit_s" -> bs.map(_.commitMs).sum / 1000.0,
      "late_rows" -> bs.map(_.dropped).sum.toDouble)
  }

  /** Peak old-generation heap since the JVM started: what the run kept
    * live past young collections (young pools peak at their size). */
  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getPeakUsage.getUsed.toDouble).sum / MB
}

object Stats {
  /** Linear-interpolated quantile (the "inclusive" rule); 0 when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The Harrell-Davis estimate of the q-quantile: a weighted mean of all
    * the order statistics, the i-th of n weighted by the probability the
    * Beta((n+1)q, (n+1)(1-q)) distribution gives to ((i-1)/n, i/n). Unlike
    * the sample quantile it does not jump when the values next to the
    * quantile sit on both sides of a gap and trade places. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.size < 2) xs.headOption.getOrElse(0.0)
    else {
      val s = xs.sorted
      val (a, b) = ((s.size + 1) * q, (s.size + 1) * (1 - q))
      val perSlice = 100
      // the Beta density at the midpoints of a fine grid, summed per slice
      val density = (0 until perSlice * s.size).map { k =>
        val x = (k + 0.5) / (perSlice * s.size)
        math.exp((a - 1) * math.log(x) + (b - 1) * math.log(1 - x))
      }
      val total = density.sum
      s.zip(density.grouped(perSlice).map(_.sum / total).toSeq).map { case (v, w) => v * w }.sum
    }

  /** Each operation's median time across several timed passes of the
    * same operations. The k-th operation of a name in a pass is told
    * apart from its others, so a pass may repeat a name. The median sets
    * aside one slow pass, such as a cold first one. */
  def opMedians(passes: Seq[Seq[(String, Double)]]): Seq[Double] =
    passes.flatMap { p =>
      val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
      p.map { case (n, t) => seen(n) += 1; ((n, seen(n)), t) }
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, xs) => median(xs.map(_._2)) }

  /** The time one pass takes: the sum of its operations' medians. */
  def passEstimate(passes: Seq[Seq[(String, Double)]]): Double = opMedians(passes).sum
}

/** The per-layer metric set every traced run reports, with units; a
  * layer a workload does not reach reports 0. */
object PerLayer {
  val units: Seq[(String, String)] = Seq(
    "construct_s" -> "s", "construct_jobs" -> "count", "construct_share" -> "ratio",
    "curation_construct_s" -> "s", "curation_construct_jobs" -> "count",
    "dashboard_s" -> "s", "curation_s" -> "s",
    "plan_s" -> "s",
    "exec_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "driver_s" -> "s", "idle_core_s" -> "core-s", "driver_gap_s" -> "s",
    "task_run_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s",
    "input_mb" -> "MB", "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
    "batches" -> "count", "batch_p50_s" -> "s", "batch_max_s" -> "s",
    "state_rows_peak" -> "rows", "state_mb_peak" -> "MB", "state_commit_s" -> "s",
    "late_rows" -> "rows", "keep_ratio" -> "ratio",
    "ingest_rows_per_s" -> "rows/s", "dedup_rows_per_s" -> "rows/s",
    "upsert_s" -> "s", "commit_s" -> "s", "read_s" -> "s", "write_amp" -> "ratio",
    "bytes_written_mb" -> "MB", "files_written" -> "count", "days_rewritten" -> "count",
    "read_mb" -> "MB", "files_read" -> "count",
    "heap_peak_mb" -> "MB", "trace_overhead_s" -> "s", "traced_pass_s" -> "s")

  def complete(m: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = m.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    val withHeap = m + ("heap_peak_mb" -> Layers.heapPeakMb)
    units.map { case (n, u) => (n, withHeap.getOrElse(n, 0.0), u) }
  }
}
