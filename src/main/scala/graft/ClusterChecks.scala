package graft

import graft.streaming.StreamingCandles
import org.apache.spark.sql.functions._

/** Multi-JVM execution evidence beyond the Verify catalog sweep: the
  * fault-injection case that MUST cross a real process boundary to prove
  * anything stronger than the in-JVM GraphSpec version.
  *
  * Everything else in the repo runs `local[n]` — one JVM, where closure
  * "serialization" round-trips but transport, classloading, and task
  * retry all shortcut through shared memory. `local-cluster[2,8,4096]`
  * forks two REAL executor JVMs (standalone-mode worker launch path):
  * closures and broadcasts cross process boundaries, shuffle goes over
  * the block transfer service, and a retried task can land on the OTHER
  * executor — the cluster semantics the reference's multi-container
  * deployment (`docker/docker-compose.yml`) has and a 1000-executor job
  * lives by.
  *
  * Checks:
  *  1. reliable-checkpoint loop (MassFlow, 3 rounds) completes
  *     IDENTICALLY through an injected first-attempt task failure, where
  *     the retry crosses executor processes. Fire detection is marker
  *     FILES (same-machine executors share /tmp): the GraphSpec version's
  *     static-counter trick only works in-JVM — an executor's static is
  *     not the driver's.
  *  2. broadcast + custom codegen expression (graft_dot) evaluate on
  *     remote executors — pins codegen classloading and broadcast
  *     transport for the expression family the catalog leans on.
  *
  * Usage: SPARK_HOME=/opt/spark tools/run_main.sh graft.ClusterChecks
  * (the Verify catalog sweep under the same master is driven separately,
  * with GraftSession's master override set to local-cluster[2,8,4096]).
  */
object ClusterChecks {

  def main(args: Array[String]): Unit = {
    val master = "local-cluster[2,8,4096]"
    val spark = GraftSession("graft-cluster-checks",
      master = Some(master), shufflePartitions = Some(8))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    var failed = 0
    def check(name: String)(body: => Unit): Unit =
      try { body; println(s"[cluster-checks] PASS $name") }
      catch { case e: Throwable =>
        failed += 1
        println(s"[cluster-checks] FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
      }

    check("executors are separate JVMs (driver pid not among executor pids)") {
      val driverPid = ProcessHandle.current().pid()
      val execPids = spark.sparkContext.parallelize(1 to 16, 16)
        .map(_ => ProcessHandle.current().pid()).distinct().collect().toSet
      require(!execPids.contains(driverPid),
        s"tasks ran in the driver JVM (pid $driverPid) — master '$master' is not multi-process")
      require(execPids.size >= 2, s"expected >= 2 executor JVMs, saw pids $execPids")
      println(s"[cluster-checks]   driver pid $driverPid, executor pids ${execPids.toSeq.sorted}")
    }

    check("reliable-checkpoint loop survives a cross-process task retry identically") {
      import graft.operators.MassFlow
      val fireDir = java.nio.file.Files.createTempDirectory("graft-cluster-fire").toFile
      val firePath = fireDir.getAbsolutePath
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 2L), (5L, 4L), (2L, 5L))
        .toDF("src", "dst")
      val expected = MassFlow.propagate(edges, iters = 3)
        .as[(Long, Long)].collect().toMap
      // Injection: first ATTEMPT of partition 0 in any stage evaluating
      // the flaky column throws. attemptNumber survives process
      // boundaries (it is task metadata, not JVM state); the marker file
      // is the cross-JVM replacement for GraphSpec's static counter.
      val flakyOnce = udf { (x: Long) =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0) {
          val f = new java.io.File(firePath,
            s"fired-stage${tc.stageId()}-pid${ProcessHandle.current().pid()}")
          f.createNewFile()
          throw new RuntimeException("injected first-attempt failure (cluster)")
        }
        x
      }
      val ckDir = java.nio.file.Files.createTempDirectory("graft-cluster-ckpt").toString
      val flakyEdges = edges.repartition(4).withColumn("src", flakyOnce($"src"))
      val got = MassFlow.propagate(flakyEdges, iters = 3, checkpointDir = Some(ckDir))
        .as[(Long, Long)].collect().toMap
      val fires = Option(fireDir.listFiles()).getOrElse(Array.empty).map(_.getName).toSeq
      require(fires.nonEmpty, "fault injection never fired — the check proved nothing")
      require(got == expected,
        s"loop result drifted across a cross-process retry: got $got want $expected")
      println(s"[cluster-checks]   injection fired ${fires.size}x: ${fires.sorted.mkString(", ")}")
    }

    check("kCoreDelta reliable-checkpoint peel survives a cross-process task retry identically") {
      import graft.operators.KCore
      val fireDir = java.nio.file.Files.createTempDirectory("graft-cluster-fire-kcore").toFile
      val firePath = fireDir.getAbsolutePath
      // a 2-core (triangle + node 4) with a pendant chain 6-7-8 that
      // peels over three waves — the multi-round delta loop, not a
      // single-pass degenerate case
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (2L, 4L),
        (6L, 1L), (7L, 6L), (8L, 7L)).toDF("u", "v")
      val expected = KCore.kCoreDelta(edges, k = 2)
        .as[(Long, Long)].collect().toMap
      val flakyOnce = udf { (x: Long) =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0) {
          new java.io.File(firePath,
            s"fired-stage${tc.stageId()}-pid${ProcessHandle.current().pid()}").createNewFile()
          throw new RuntimeException("injected first-attempt failure (kcore)")
        }
        x
      }
      val ckDir = java.nio.file.Files.createTempDirectory("graft-cluster-ckpt-kcore").toString
      val flakyEdges = edges.repartition(4).withColumn("u", flakyOnce($"u"))
      val got = KCore.kCoreDelta(flakyEdges, k = 2, checkpointDir = Some(ckDir))
        .as[(Long, Long)].collect().toMap
      val fires = Option(fireDir.listFiles()).getOrElse(Array.empty).map(_.getName).toSeq
      require(fires.nonEmpty, "fault injection never fired — the check proved nothing")
      require(got == expected,
        s"delta peel drifted across a cross-process retry: got $got want $expected")
      println(s"[cluster-checks]   injection fired ${fires.size}x: ${fires.sorted.mkString(", ")}")
    }

    check("codegen expression + broadcast join evaluate on remote executors") {
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      Tables.registerAll(spark, "/root/testdata/sf0.001")
      // graft_dot is a custom codegen Expression: its generated class must
      // load in the executor JVMs, not just the driver that compiled it.
      // Inputs are quantized to int64 per the expression's contract —
      // and the raw-float misuse must die at ANALYSIS, not in an executor
      val q = spark.sql(
        """SELECT count(*) AS n FROM (
          |  SELECT graft_dot(a.q, b.q) AS d
          |  FROM (SELECT vec_id, transform(embedding, x -> cast(round(x * 10000) as bigint)) AS q
          |        FROM embeddings) a
          |  JOIN (SELECT vec_id, transform(embedding, x -> cast(round(x * 10000) as bigint)) AS q
          |        FROM embeddings) b ON a.vec_id = b.vec_id + 1
          |) WHERE d IS NOT NULL""".stripMargin)
      val n = q.head().getLong(0)
      require(n > 0, "expected non-empty dot-product join result")
      val analysisErr =
        try { spark.sql("SELECT graft_dot(embedding, embedding) FROM embeddings").head(); false }
        catch { case e: org.apache.spark.sql.AnalysisException => true }
      require(analysisErr, "graft_dot on raw float arrays must fail analysis, not codegen")
      val small = emb.select($"vec_id").limit(5)
      val joined = emb.join(broadcast(small), "vec_id").count()
      require(joined == 5, s"broadcast join over executors returned $joined rows, want 5")
    }

    check("streaming candle loop produces exact counts across executor JVMs") {
      // Structured Streaming under separate executors exercises what
      // local[n] cannot: per-executor state store provider loading,
      // state checkpoint files written by remote processes, and the
      // stateful shuffle crossing the transport. Feed: 100k ticks, 10
      // keys, 5 days, replayed in event-time order (4 slices with
      // strictly increasing mtimes — FileStreamSource orders by mtime);
      // append mode must emit EXACTLY keys × closed-days candles.
      val work = java.nio.file.Files.createTempDirectory("graft-cluster-stream").toString
      val feed = s"$work/feed"; new java.io.File(feed).mkdirs()
      val n = 100000L
      val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
      val span = 5L * 86400
      val df = spark.range(n).select(
        (col("id") % 10).as("key"),
        timestamp_micros((lit(t0) + (col("id") * lit(span) / n).cast("long")) * 1000000L + col("id") % 10)
          .as("ts"),
        (col("id") % 1000).cast("double").as("value"),
        (col("id") * 4 / n).cast("int").as("_slice"))
      for (i <- 0 until 4) {
        df.filter(col("_slice") === i).drop("_slice")
          .coalesce(1).write.mode("append").parquet(feed)
        Thread.sleep(60)
      }
      val stream = spark.readStream.schema(spark.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", 1).parquet(feed)
      val candles = StreamingCandles.dailyCandles(stream, "key", "ts", "value")
      val out = s"$work/out"
      val q = StreamingCandles.warehouseSink(candles, out, s"$work/ckpt")
      q.processAllAvailable()
      q.stop()
      val got = spark.read.parquet(out)
      val rows = got.count()
      // Final watermark = max event time − 1 day ≈ 3d 23:59:55 (the feed
      // ends ~5 s short of the 5-day mark), so exactly days 0..2 have
      // window.end ≤ watermark and emit; days 3–4 stay open. Exactness
      // here IS the check: a duplicated or dropped state update across
      // the executor boundary would break the count or the volume sum.
      require(rows == 10 * 3,
        s"expected 30 closed candles (10 keys x 3 closed days), got $rows")
      val vol = got.agg(sum(col("volume"))).head().getLong(0)
      require(vol == n / 5 * 3,
        s"closed candles must cover exactly 3/5 of the feed: volume $vol vs ${n / 5 * 3}")
    }

    check("concurrent ad-hoc readers stay isolated from a streaming upsert loop across executor JVMs") {
      // ConcurrentSqlSpec proves the contract in-JVM; here the reader
      // scans, the staging writes, and the dynamic partition overwrite
      // all cross REAL executor processes — the actual dashboard-vs-ETL
      // concurrency of the reference's two containers
      import graft.sources.{Sources, Warehouse}
      val ev = Tables.events(spark, "/root/testdata/sf0.001")
        .select($"event_id", $"user_id", $"ts", $"value")
      val maxDay = ev.agg(max(to_date($"ts"))).as[java.sql.Date].head().toLocalDate
      val cut = maxDay.minusDays(7).toString
      val history = ev.filter(to_date($"ts") < cut)
      val live = ev.filter(to_date($"ts") >= cut).localCheckpoint(true)
      val whPath = java.nio.file.Files.createTempDirectory("graft-cc-wh").toString
      Sources.writeDayPartitioned(history, "ts", "user_id", whPath)
      val pinned = history
        .agg(count(lit(1)), sum(round($"value" * 100).cast("long")))
        .as[(Long, Long)].head()
      val readerError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val iters = new java.util.concurrent.atomic.AtomicInteger(0)
      @volatile var stop = false
      val readers = (0 until 3).map(_ => new Thread(() => {
        try while (!stop) {
          val r = spark.read.parquet(whPath)
            .filter($"day" < lit(cut))
            .select($"value", input_file_name().as("f"))
            .agg(count(lit(1)), sum(round($"value" * 100).cast("long")), collect_set($"f"))
            .as[(Long, Long, Seq[String])].head()
          require((r._1, r._2) == pinned, s"history drifted: $r vs $pinned")
          require(!r._3.exists(_.contains("_staging-")), "reader saw staging files")
          iters.incrementAndGet()
        } catch { case t: Throwable => readerError.compareAndSet(null, t) }
      }))
      readers.foreach(_.start())
      try {
        // 3 upsert batches by event_id stripe — same write path a
        // micro-batch loop drives, each crossing the executor boundary
        (0 to 2).foreach { i =>
          Warehouse.upsertDayPartitioned(spark, whPath,
            live.filter(pmod($"event_id", lit(3)) === i), "ts", Seq("event_id"))
        }
      } finally { stop = true; readers.foreach(_.join(120000)) }
      require(readerError.get() == null, s"concurrent reader failed: ${readerError.get()}")
      require(iters.get() >= 3, s"readers starved: ${iters.get()} iterations")
      val after = spark.read.parquet(whPath).select($"event_id", $"user_id", $"ts", $"value")
      require(after.exceptAll(ev).isEmpty && ev.exceptAll(after).isEmpty,
        "warehouse after the concurrent upsert loop != history ∪ live")
      println(s"[cluster-checks]   ${iters.get()} reader iterations overlapped 3 upserts")
    }

    spark.stop()
    if (failed > 0) { println(s"[cluster-checks] $failed FAILED"); sys.exit(1) }
    println("[cluster-checks] all checks passed")
  }
}
