package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is sized. Every main and the test trait
  * build their session here, so each one runs the same catalog with the
  * same Catalyst rules and functions (`GraftExtensions`).
  *
  * Sizing rule, read from the environment:
  *  - master: `SPARK_GRAFT_MASTER`, else `local[N]`;
  *  - N: `SPARK_GRAFT_CPUS`, else the JVM's available processors;
  *  - shuffle partitions: `SPARK_GRAFT_SHUFFLE_PARTITIONS`, else N;
  *  - a `local-cluster[...]` master also gets the driver's classpath on
  *    its executors (separate JVMs do not inherit it) and
  *    `SPARK_GRAFT_EXECUTOR_MEM` (default 3g) as executor memory.
  * The session is always UTC with the UI off; AQE stays at Spark's
  * default (on). A caller whose plans or outputs depend on a fixed shape
  * pins it with an explicit `master` / `shufflePartitions`, which the
  * environment cannot override.
  */
object GraftSession {

  /** A resolved sizing; `executorMemory` is set for local-cluster masters. */
  final case class Sizing(master: String, cpus: Int, shufflePartitions: Int,
                          executorMemory: Option[String]) {
    /** Everything the session builder is given. */
    def conf: Map[String, String] = Map(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ executorMemory.toSeq.flatMap(mem => Seq(
      "spark.executor.extraClassPath" -> sys.props("java.class.path"),
      "spark.executor.memory" -> mem))
  }

  /** Pure resolution of the sizing rule against `env`. A CPU or partition
    * count that is not a positive integer is rejected here, naming the
    * variable, instead of surfacing later as a Spark master-URL error.
    */
  def resolve(env: Map[String, String],
              master: Option[String] = None,
              shufflePartitions: Option[Int] = None,
              processors: Int = Runtime.getRuntime.availableProcessors): Sizing = {
    def positive(name: String): Option[Int] = env.get(name).map { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$v'"))
    }
    val cpus = positive("SPARK_GRAFT_CPUS").getOrElse(processors)
    val m = master.orElse(env.get("SPARK_GRAFT_MASTER")).getOrElse(s"local[$cpus]")
    val parts = shufflePartitions
      .orElse(positive("SPARK_GRAFT_SHUFFLE_PARTITIONS")).getOrElse(cpus)
    val executorMemory =
      if (m.startsWith("local-cluster"))
        Some(env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
      else None
    Sizing(m, cpus, parts, executorMemory)
  }

  /** Build (or reuse) the session for `sizing`. */
  def start(appName: String, sizing: Sizing): SparkSession = {
    val builder = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
    sizing.conf.foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }

  def apply(appName: String,
            master: Option[String] = None,
            shufflePartitions: Option[Int] = None): SparkSession =
    start(appName, resolve(sys.env, master, shufflePartitions))
}
