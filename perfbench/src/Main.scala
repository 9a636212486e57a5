package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Command-line options; `run.py` passes the work and output dirs. */
final case class Opts(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, out: String, reference: String, record: Option[String])

/** One run's outcome: the operation counts, the metrics by name and
  * unit, and the per-operation detail written next to the result. */
final case class Result(
    attempted: Long, failed: Long, metrics: Seq[(String, Double, String)], detail: String)

/** The one place a benchmark session is sized: `local[N]` with N the
  * processors this JVM may use, N shuffle partitions, and the engine's
  * bench settings. Both sides of a comparison get identical settings;
  * no environment knob is read. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val master: String = s"local[$cores]"
  def heapMb: Long = Runtime.getRuntime.maxMemory / (1024 * 1024)

  def start(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // room for every class a pass generates: at the default of 100
      // entries each pass recompiled about a thousand classes
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JVM and codegen warm-up, as the engine's own bench does. */
  def warm(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()

  def json: String =
    s"""{"cores":$cores,"master":"$master","shuffle_partitions":$cores,"heap_mb":$heapMb,""" +
      s""""java":"${System.getProperty("java.version")}","spark":"${org.apache.spark.SPARK_VERSION}"}"""
}

object Main {
  /** Set up `times` times, each from a fresh session and fresh inputs
    * (the first from JVM start); keep the last session. Returns it, its
    * input directory, and the median set-up time. */
  def setUp(o: Opts, times: Int)(inputs: (SparkSession, String) => Unit): (SparkSession, String, Double) = {
    var spark: SparkSession = null
    var dir = ""
    val secs = (0 until times).map { i =>
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = Session.start(o.work)
      dir = s"${o.work}/inputs$i"
      inputs(spark, dir)
      Session.warm(spark)
      if (i == 0) (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      else (System.nanoTime() - s0) / 1e9
    }
    (spark, dir, Stats.median(secs))
  }

  /** The timed passes of a run: `seconds` over the workload's nominal
    * pass time on a 4-core host, and at least three, so that a median can
    * set aside one slow pass. The count does not depend on how fast the
    * passes run: a run on a slow host would otherwise make fewer, less
    * warmed-up passes, and its figures would read slower still. */
  def timedPasses[T](seconds: Int, nominalPassS: Double)(pass: => T)(wall: T => Double): Seq[T] =
    (1 to math.max(3, math.round(seconds / nominalPassS).toInt)).map { i =>
      val p = pass
      phase(f"pass $i took ${wall(p)}%.2f s")
      p
    }

  /** Note in the run's log how long the JVM has been up when `name`
    * begins, how long the JIT has compiled so far, and how many classes
    * have been loaded: the two show how far the run has warmed up. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $name " +
      f"(JIT ${ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0}%.1f s, " +
      s"${ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount} classes)")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Set("queries", "ingest").contains(workload), s"unknown workload '$workload'")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be >= 1")
    Opts(workload, need("seed").toLong, seconds, need("trace") == "1",
      need("work"), need("out"), need("reference"), m.get("record"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val r =
      if (o.workload == "ingest") IngestWorkload.run(o)
      else QueryWorkload.run(o)
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${o.out}/$tag.json"),
      (s"""{"session":${Session.json},"workload":"${o.workload}","seed":${o.seed},""" +
        s""""attempted":${r.attempted},"failed":${r.failed},${r.detail}}\n""").getBytes("UTF-8"))
    val metrics = r.metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
    println(s"""{"session":${Session.json},"detail":"$tag.json"}""")
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":${metrics.mkString("{", ",", "}")}}""")
  }
}
