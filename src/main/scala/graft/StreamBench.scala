package graft

import graft.streaming.{StreamingCandles, StreamingDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sustained-throughput measurement for the streaming loops — the
  * datapoint BENCH/SCALE.md lacked: batch smokes time one finite pass,
  * but a streaming ingest is judged by rows/second at steady state and
  * by how much state it drags along. Reference analog: the batch ETL's
  * 100k-row commit cadence (`etl/etl.py:617`) is its de-facto
  * throughput unit.
  *
  * Two loops, both over 10M+ generated rows on local[32]:
  *
  *  1. candle loop — file replay (bounded files/trigger, the reference's
  *     commit-batch shape) → per-key stateful tick compression
  *     (flatMapGroupsWithState, O(1) state/key) → 1-day event-time
  *     candles behind a watermark → idempotent per-batch warehouse sink
  *     (`StreamingCandles.warehouseSink`).
  *  2. dedup loop — same replay → content-hash exact dedup within a
  *     watermark (`StreamingDedup`, state O(unique-in-window)) →
  *     counting sink.
  *
  * Prints one JSON line: rows/s per loop, mean/max micro-batch wall,
  * and peak state rows/bytes from the progress telemetry. Usage:
  *   tools/run_main.sh graft.StreamBench [nRows] [outJson]
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val nRows = if (args.nonEmpty) args(0).toLong else 10000000L
    val outJson = if (args.length > 1) Some(args(1)) else None
    // a local-cluster[2,8,4096] master measures the loops over real
    // executor JVMs — the state store, checkpoint and stateful shuffle
    // crossing processes (same override as Verify)
    val spark = GraftSession("graft-stream-bench")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val work = java.nio.file.Files.createTempDirectory("graft-streambench").toString
    def dir(n: String) = { val d = s"$work/$n"; new java.io.File(d).mkdirs(); d }

    // Write a time-ordered feed as N files whose MODIFICATION TIMES
    // strictly increase with event time: FileStreamSource orders new
    // files by (mtime, path), and one parallel write job finishes its
    // part-files in arbitrary task order — replaying that delivers
    // batches out of event-time order, the watermark jumps to the span's
    // end after batch 1, and everything later is dropped as late
    // (measured: 2.5M of 7.5M dedup survivors before this). Sequential
    // per-slice writes are the replay contract a real archive loader
    // meets by construction (files land in arrival order).
    // Mtimes are set EXPLICITLY (strictly increasing 2 s apart) rather
    // than trusted to write-time clocks: a filesystem with coarse (1 s)
    // timestamp resolution would tie consecutive slices and the source's
    // (mtime, path) order would fall back to random part-file UUID
    // names — silently reintroducing the late-drop this helper exists to
    // prevent (r11 ADVICE). The result asserts below would catch it, but
    // the stamp removes the dependence on fs resolution entirely.
    def writeTimeOrdered(df: org.apache.spark.sql.DataFrame, sliceExpr: org.apache.spark.sql.Column,
                         out: String, slices: Int): Unit = {
      val sliced = df.withColumn("_slice", sliceExpr)
      val stamped = scala.collection.mutable.Set.empty[String]
      var clock = System.currentTimeMillis()
      for (i <- 0 until slices) {
        sliced.filter(col("_slice") === i).drop("_slice")
          .coalesce(1).write.mode("append").parquet(out)
        new java.io.File(out).listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !stamped.contains(f.getName))
          .foreach { f =>
            java.nio.file.Files.setLastModifiedTime(f.toPath,
              java.nio.file.attribute.FileTime.fromMillis(clock))
            stamped += f.getName
          }
        clock += 2000
      }
    }

    // ---- generated tick feed: 2,000 instruments, ~30 days, values move
    // ±2% around a per-key base so the compressor keeps a realistic
    // fraction (not everything, not nothing). 32 files so
    // maxFilesPerTrigger yields a real multi-batch replay.
    val ticksDir = dir("ticks")
    val nKeys = 2000
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    val secondsSpan = 30L * 86400
    val slices = 32
    writeTimeOrdered(
      spark.range(nRows)
        .select(
          col("id"),
          (col("id") % nKeys).as("key"),
          // deterministic pseudo-noise from the row id (no rand(): reruns
          // must measure the same workload); id is monotone in event time
          ((lit(t0) + (col("id") * lit(secondsSpan) / nRows).cast("long")) * 1000000L +
            (col("id") % nKeys)).as("tsMicros"),
          (lit(100.0) * (lit(1.0) + ((pmod(hash(col("id")), lit(1000)) - 500) / 25000.0)))
            .as("value")),
      sliceExpr = (col("id") * slices / nRows).cast("int"),
      out = ticksDir, slices = slices)
    val ticksSchema = spark.read.parquet(ticksDir)

    def progressStats(q: org.apache.spark.sql.streaming.StreamingQuery):
        (Int, Double, Double, Long, Long) = {
      val ps = q.recentProgress.toSeq
      val durs = ps.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong.toDouble / 1000))
      val stateRows = ps.flatMap(_.stateOperators.map(_.numRowsTotal)).maxOption.getOrElse(0L)
      val stateBytes = ps.flatMap(_.stateOperators.map(_.memoryUsedBytes)).maxOption.getOrElse(0L)
      (ps.size, if (durs.isEmpty) 0 else durs.sum / durs.size, durs.maxOption.getOrElse(0.0),
        stateRows, stateBytes)
    }

    // ---- loop 1: ingest -> compress -> candle -> idempotent sink
    val candleOut = dir("candles_out")
    val c0 = System.nanoTime()
    val ticks = StreamingCandles.fileStream(spark, ticksDir, ticksSchema, maxFilesPerTrigger = 4)
      .as[StreamingCandles.TickEvent]
    val compressed = StreamingCandles.compressStream(ticks)
      .select(col("key"), timestamp_micros(col("tsMicros")).as("ts"), col("value"))
    val candles = StreamingCandles.dailyCandles(compressed, "key", "ts", "value")
    val q1 = StreamingCandles.warehouseSink(candles, candleOut, dir("candles_ckpt"))
    q1.processAllAvailable()
    val candleSecs = (System.nanoTime() - c0) / 1e9
    val (b1, mean1, max1, srows1, sbytes1) = progressStats(q1)
    q1.stop()
    val candleRows = spark.read.parquet(candleOut).count()

    // ---- loop 2: ingest -> exact dedup within watermark -> counting sink
    // feed: the same volume as documents with a 25% replay-duplicate rate
    // (every 4th row repeats the previous row's content + timestamp —
    // the at-least-once replay shape the stage exists to absorb)
    val docsDir = dir("docs")
    val srcId = when(col("id") % 4 === 3, col("id") - 1).otherwise(col("id"))
    writeTimeOrdered(
      spark.range(nRows)
        .select(
          col("id"),
          timestamp_micros((lit(t0) + (col("id") * lit(secondsSpan) / nRows).cast("long")) * 1000000L)
            .as("ts"),
          concat(lit("doc-"), srcId.cast("string"),
            lit(" body "), pmod(hash(srcId), lit(100000)).cast("string"))
            .as("text")),
      sliceExpr = (col("id") * slices / nRows).cast("int"),
      out = docsDir, slices = slices)
    val docsSchema = spark.read.parquet(docsDir)
    val d0 = System.nanoTime()
    val docs = StreamingCandles.fileStream(spark, docsDir, docsSchema, maxFilesPerTrigger = 4)
    val deduped = StreamingDedup.exactDedupWithinWatermark(docs, "ts", "10 minutes")
    val survivors = new java.util.concurrent.atomic.AtomicLong(0)
    val q2 = deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", dir("dedup_ckpt"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        survivors.addAndGet(batch.count()); ()
      }
      .start()
    q2.processAllAvailable()
    val dedupSecs = (System.nanoTime() - d0) / 1e9
    val (b2, mean2, max2, srows2, sbytes2) = progressStats(q2)
    q2.stop()

    // The throughput number is only meaningful if the replay actually
    // delivered in order: a regression to out-of-order delivery shows up
    // as late-dropped rows — i.e. a QUIETLY FASTER rows/s over less work.
    // Assert the exact expected outputs before emitting (r11 ADVICE):
    // every 4th doc row repeats its predecessor → survivors = n − n/4;
    // candles = keys × emitted days, where the 1-day watermark delay
    // holds back the last two calendar days of a [t0, t0+span) feed.
    val expectedSurvivors = nRows - nRows / 4
    require(survivors.get() == expectedSurvivors,
      s"dedup survivors ${survivors.get()} != expected $expectedSurvivors - " +
        "the replay delivered out of event-time order (late drops)")
    val expectedCandles = nKeys.toLong * (secondsSpan / 86400 - 2)
    require(candleRows == expectedCandles,
      s"candles written $candleRows != expected $expectedCandles - " +
        "late drops or watermark regression in the candle loop")

    val json =
      f"""{"n_rows":$nRows,"master":"${spark.sparkContext.master}","candle_loop":{"secs":$candleSecs%.1f,""" +
        f""""rows_per_sec":${nRows / candleSecs}%.0f,"batches":$b1,""" +
        f""""mean_batch_secs":$mean1%.2f,"max_batch_secs":$max1%.2f,""" +
        f""""peak_state_rows":$srows1,"peak_state_mb":${sbytes1 / 1e6}%.1f,""" +
        f""""candles_written":$candleRows},""" +
        f""""dedup_loop":{"secs":$dedupSecs%.1f,"rows_per_sec":${nRows / dedupSecs}%.0f,""" +
        f""""batches":$b2,"mean_batch_secs":$mean2%.2f,"max_batch_secs":$max2%.2f,""" +
        f""""peak_state_rows":$srows2,"peak_state_mb":${sbytes2 / 1e6}%.1f,""" +
        f""""survivors":${survivors.get()}}}"""
    outJson.foreach(p => java.nio.file.Files.write(java.nio.file.Paths.get(p),
      json.getBytes("UTF-8")))
    spark.stop()
    println(json)
  }
}
