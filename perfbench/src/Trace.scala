package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region. Times are epoch milliseconds (fractional) so that
  * spans opened by the client line up with listener event times. */
final case class Span(id: Int, parent: Int, kind: String, name: String, start: Double) {
  var end: Double = Double.NaN
  def dur: Double = end - start
}

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val id: Int, val span: Int, val batch: Option[(String, Long)], val start: Double) {
  var end: Double = Double.NaN
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spillBytes = 0L
}

/** One streaming micro-batch from its progress event. */
final case class BatchRec(query: String, batchId: Long, start: Double, durMs: Double,
                          inputRows: Long, stateRows: Long, stateBytes: Long,
                          commitMs: Long, dropped: Long)

/** In-memory span recorder for the traced run.
  *
  * The client opens spans around each query or ingest step and its
  * `construct` / `action` phases; the open span's id rides on the thread
  * as a Spark local property, so every job the [[org.apache.spark.scheduler.SparkListener]]
  * sees is attributed to the phase that launched it (streaming threads
  * inherit the property of the loop that started them, and their jobs
  * carry the micro-batch id). A [[QueryExecutionListener]] supplies each
  * execution's planning phases and a [[StreamingQueryListener]] each
  * micro-batch; all three are registered through public Spark API.
  * Nothing is written until [[dump]] at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private val MarkerKey = "perfbench.marker"
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val markers = ConcurrentHashMap.newKeySet[String]()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  /** (planning start ms, planning ms) per successful or failed execution. */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
  private val terminated = ConcurrentHashMap.newKeySet[String]()

  private val sc = spark.sparkContext

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty(MarkerKey))).foreach(m => markerJobs.put(e.jobId, m))
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      val batch = for {
        x <- p; q <- Option(x.getProperty("sql.streaming.queryId"))
        b <- Option(x.getProperty("streaming.sql.batchId"))
      } yield (q, b.toLong)
      jobs.put(e.jobId, new JobRec(e.jobId, span, batch, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(j => j.synchronized { j.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.inputBytes += m.inputMetrics.bytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spillBytes += m.diskBytesSpilled
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
      Option(markerJobs.remove(e.jobId)).foreach(markers.add)
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add((ph.map(_.startTimeMs).min.toDouble, ph.map(_.durationMs).sum.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      batches.add(BatchRec(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0),
        p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.add(e.id.toString)
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `body` inside a new span under the innermost open one. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), kind, name, now())
    spans += s
    stack.push(s)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = now()
      stack.pop()
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Block until every listener event posted so far has been delivered:
    * a marker job's end reaches the listener after all earlier events
    * on the same queue. */
  def drain(): Unit = {
    val token = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 30000000000L
    while (!markers.contains(token) && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Wait for a stopped streaming query's last progress events. */
  def awaitTerminated(queryId: String): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (!terminated.contains(queryId) && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def all: Seq[Span] = spans.toSeq

  /** The innermost open span. */
  def current: Span = stack.head

  def descendants(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(c => go(c.id)).toSeq
    go(root.id).toSet
  }

  /** The innermost span open at time `t` among `within`. */
  def spanAt(t: Double, within: Seq[Span]): Option[Span] =
    within.filter(s => s.start <= t && t <= s.end).maxByOption(_.start)

  /** Covered length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Spans, jobs and micro-batches as one JSON document; each span
    * carries its self time (duration minus the time its children cover,
    * jobs and micro-batches included). */
  def dump(path: String): Unit = {
    val jobList = jobs.values.asScala.toSeq.filter(!_.end.isNaN)
    val batchList = batches.asScala.toSeq
    val batchSpan = batchList.map(b => (b.query, b.batchId) -> b).toMap
    val kids = spans.groupBy(_.parent)
    def childIntervals(s: Span): Seq[(Double, Double)] =
      kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq ++
        jobList.filter(j => j.span == s.id && j.batch.isEmpty).map(j => (j.start, j.end)) ++
        batchList.filter(b => jobList.exists(j => j.span == s.id && j.batch.contains((b.query, b.batchId))))
          .map(b => (b.start, b.start + b.durMs))
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    val spanJson = spans.map { s =>
      val self = s.dur - covered(childIntervals(s), s.start, s.end)
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${esc(s.name)}",""" +
        f""""start_ms":${s.start}%.3f,"dur_ms":${s.dur}%.3f,"self_ms":$self%.3f}"""
    }
    val jobJson = jobList.sortBy(_.id).map { j =>
      val parent = j.batch.filter(batchSpan.contains).map { case (q, b) => s""""batch":"$q/$b",""" }
        .getOrElse("")
      f"""{"job":${j.id},"span":${j.span},$parent"start_ms":${j.start}%.3f,"dur_ms":${j.end - j.start}%.3f,""" +
        f""""stages":${j.stages},"tasks":${j.tasks},"task_run_ms":${j.runMs},"task_cpu_ms":${j.cpuNs / 1e6}%.3f}"""
    }
    val batchJson = batchList.map { b =>
      f"""{"batch":"${b.query}/${b.batchId}","start_ms":${b.start}%.3f,"dur_ms":${b.durMs}%.3f,""" +
        f""""input_rows":${b.inputRows},"state_rows":${b.stateRows},"state_bytes":${b.stateBytes}}"""
    }
    val json = Seq("spans" -> spanJson, "jobs" -> jobJson, "batches" -> batchJson)
      .map { case (k, v) => s""""$k":[${v.mkString(",\n")}]""" }.mkString("{", ",\n", "}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
  }
}
