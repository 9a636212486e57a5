package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev-only third arg: comma-separated query-name filter for fast
    // single-query iteration (the driver always calls with two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // the multi-JVM evidence run sets a local-cluster[2,8,4096] master
    // (separate EXECUTOR processes: real closure serialization, broadcast
    // transport, and shuffle-over-network instead of same-JVM shortcuts);
    // GraftSession ships this application's classes to those executors
    val spark = GraftSession("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD: a silently-absent result dir reads as "query
    // removed" to the driver (round-4 finding: a runtime crash shrank the
    // correctness file by one key and nobody noticed). The failure signal
    // is the per-query .error sidecars plus the summary _errors.json — NOT
    // the exit code, which stays 0 so one bad query can't make the driver
    // drop the 100+ good results (see the note at the bottom).
    // Stale sidecars from a previous run into the same outDir would read
    // as phantom failures — clear them before the query loop.
    Option(new java.io.File(outDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".error"))
      .foreach(_.delete())
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        failures(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
        // same phantom-staleness hazard as the .error sidecars, other
        // direction: a query that fails BEFORE its overwrite-write starts
        // (analysis error) leaves a previous run's result dir in place,
        // which would read as this run's (stale) output
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
        Files.writeString(Paths.get(s"$outDir/$name.error"), msg)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
    if (failures.nonEmpty)
      // NOT a non-zero exit: the driver may treat that as "verify run
      // failed" and drop the 100+ good results along with the bad one.
      System.err.println(s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: ${failures.keys.mkString(", ")}")
  }
}
