package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev profiling tool (guide §1): run queries under a SparkListener and
  * report, per query, the Spark-job breakdown — wall time per job, stage
  * and task counts, executor task-time totals, shuffle read/write bytes —
  * plus the gap between summed job wall time and the query's wall time
  * (driver-side planning / loop think-time). Separates "many tiny jobs"
  * (iterative loops, O(1) collects) from "one heavy stage" immediately.
  *
  * Usage: runMain graft.ProfileRun <sfDir> <name1,name2,...> [reps]
  * (noop-sink action, same as the bench; second run reported so codegen
  * warm-up is excluded.)
  */
object ProfileRun {
  final case class JobRec(id: Int, var desc: String = "", var start: Long = 0L,
                          var end: Long = 0L, var nStages: Int = 0, var nTasks: Int = 0,
                          var taskTimeMs: Long = 0L, var shufReadB: Long = 0L,
                          var shufWriteB: Long = 0L, var inputB: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession("graft-profile-run")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val r = JobRec(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
          e.time)
        r.nStages = e.stageIds.size
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        jobs(e.jobId) = r
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for (j <- stageToJob.get(e.stageId); r <- jobs.get(j)) {
          r.nTasks += 1
          if (e.taskMetrics != null) {
            r.taskTimeMs += e.taskMetrics.executorRunTime
            r.shufReadB += e.taskMetrics.shuffleReadMetrics.totalBytesRead
            r.shufWriteB += e.taskMetrics.shuffleWriteMetrics.bytesWritten
            r.inputB += e.taskMetrics.inputMetrics.bytesRead
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      (1 to reps).foreach { rep =>
        jobs.synchronized { jobs.clear(); stageToJob.clear() }
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // let straggling listener events drain
        Thread.sleep(200)
        jobs.synchronized {
          val js = jobs.values.toSeq
          val jobWall = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
          println(f"%n==== $name rep $rep: wall $wall%.2f s | ${js.size} jobs, " +
            f"job-wall sum $jobWall%.2f s, gap ${wall - jobWall}%.2f s ====")
          js.foreach { j =>
            println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%6.2f s  " +
              f"stages=${j.nStages}%2d tasks=${j.nTasks}%4d taskTime=${j.taskTimeMs / 1e3}%7.2f s " +
              f"in=${j.inputB / 1e6}%8.1f MB sr=${j.shufReadB / 1e6}%8.1f MB sw=${j.shufWriteB / 1e6}%8.1f MB  ${j.desc.take(60)}")
          }
        }
      }
    }
    spark.stop()
  }
}
