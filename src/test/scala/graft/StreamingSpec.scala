package graft

import graft.etl.Candles
import graft.streaming.{StreamingCandles, StreamJoins}
import org.apache.spark.sql.functions._

/** Streaming semantics = batch semantics on the same data (SURVEY.md
  * §2.11): the candle a streaming day-close emits must equal the batch
  * aggregation's candle.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming daily candles equal batch candles (complete mode replay)") {
    val batchDf = Tables.events(spark, sf).select("user_id", "ts", "value")
    // file source needs a directory — stage the single parquet file
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = StreamingCandles.fileStream(
      spark, streamDir.toString, Tables.load(spark, sf, "events"))
      .transform(Tables.canonicalizeEventTs)
      .select("user_id", "ts", "value")

    val q = StreamingCandles.dailyCandles(stream, "user_id", "ts", "value")
      .writeStream.format("memory").queryName("candles_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("candles_stream")
      val batch = Candles.ohlcvDaily(batchDf, "user_id", "ts", "value")
        .select($"day", $"user_id", $"open", $"high", $"low", $"close", $"volume", $"turnover")
      assert(streamed.count() == batch.count())
      val mismatched = streamed.join(batch,
        Seq("day", "user_id", "open", "high", "low", "close", "volume"), "left_anti")
      assert(mismatched.count() == 0)
    } finally q.stop()
  }

  test("append-mode replay: candles emit exactly when the watermark closes their day") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf).select("user_id", "ts", "value").cache()
    // three chronological chunks → three micro-batches (maxFilesPerTrigger=1)
    val dir = java.nio.file.Files.createTempDirectory("graft-replay")
    val chunks = Seq(
      ev.filter(to_date($"ts") < "2024-01-11"),
      ev.filter(to_date($"ts") >= "2024-01-11" && to_date($"ts") < "2024-01-21"),
      ev.filter(to_date($"ts") >= "2024-01-21"))
    chunks.zipWithIndex.foreach { case (c, i) =>
      val f = dir.resolve(s"chunk$i")
      c.coalesce(1).write.parquet(f.toString)
      // file-source batch order follows modification time
      f.toFile.listFiles().foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*")
    val q = StreamingCandles.dailyCandles(stream, "user_id", "ts", "value")
      .writeStream.format("memory").queryName("replay_candles")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("replay_candles")
      // append emits a window once the watermark (max event time − 1 day)
      // passes its end; after the last data batch the engine runs a final
      // state-flush batch, so the effective watermark is maxTs(ALL data)
      // − 1 day — only the still-open trailing day(s) stay unemitted
      val cutoff = ev.agg(max($"ts")).collect()(0).getTimestamp(0).toInstant
        .minusSeconds(86400)
      val expected = Candles.ohlcvDaily(ev, "user_id", "ts", "value")
        .filter(col("day").cast("timestamp") + expr("INTERVAL 1 DAY") <=
          lit(java.sql.Timestamp.from(cutoff)))
      assert(emitted.count() == expected.count())
      assert(emitted.join(expected,
        Seq("day", "user_id", "open", "high", "low", "close", "volume"), "left_anti").count() == 0)
    } finally q.stop()
  }

  test("streaming session windows equal batch sessionization for watermark-closed sessions") {
    val ev = Tables.events(spark, sf).select("user_id", "ts", "value")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-sess-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = StreamingCandles.fileStream(
      spark, streamDir.toString, Tables.load(spark, sf, "events"))
      .transform(Tables.canonicalizeEventTs)
      .select("user_id", "ts", "value")
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(min($"ts").as("session_start"), max($"ts").as("last_ts"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "last_ts", "n_events")
    val q = sessions(stream.withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("sessions_stream")
      // append emits a session once the watermark (max event time − 1 min,
      // after the final state-flush batch) passes its close (last_ts +
      // 30-min gap); only trailing still-open sessions stay unemitted
      val cutoff = ev.agg(max($"ts")).collect()(0).getTimestamp(0).toInstant
        .minusSeconds(60)
      val expected = sessions(ev)
        .filter($"last_ts" + expr("INTERVAL 30 MINUTES") <=
          lit(java.sql.Timestamp.from(cutoff)))
      assert(emitted.count() == expected.count())
      assert(emitted.join(expected,
        Seq("user_id", "session_start", "last_ts", "n_events"), "left_anti").count() == 0)
      assert(emitted.count() > 0)
    } finally q.stop()
  }

  test("foreachBatch warehouse sink: emitted candles land day-partitioned in parquet") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf).select("user_id", "ts", "value")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-sink-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = StreamingCandles.fileStream(
      spark, streamDir.toString, Tables.load(spark, sf, "events"))
      .transform(Tables.canonicalizeEventTs)
      .select("user_id", "ts", "value")
    val out = java.nio.file.Files.createTempDirectory("graft-sink-out")
    val q = StreamingCandles.warehouseSink(
      StreamingCandles.dailyCandles(stream, "user_id", "ts", "value"),
      out.resolve("daystocks").toString,
      out.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    val warehouse = spark.read.parquet(out.resolve("daystocks").toString)
    val cutoff = ev.agg(max($"ts")).collect()(0).getTimestamp(0).toInstant.minusSeconds(86400)
    val expected = Candles.ohlcvDaily(ev, "user_id", "ts", "value")
      .filter(col("day").cast("timestamp") + expr("INTERVAL 1 DAY") <=
        lit(java.sql.Timestamp.from(cutoff)))
    assert(warehouse.count() == expected.count())
    assert(warehouse.select("day").distinct().count() > 20) // partitioned by day
  }

  test("warehouse sink is replay-idempotent: a re-written batchId yields no duplicate rows") {
    import org.apache.spark.sql.functions._
    // multi-day multi-key corpus well beyond the fixture tables: 50 keys ×
    // ~46 days, 200k deterministic ticks (the generator family of the
    // SCALE.md 100x scale smoke), split into 3 chronological chunks =
    // 3 micro-batches
    val n = 200000L
    val ticks = spark.range(n).select(
      pmod(hash(col("id") * 7), lit(50)).cast("long").as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 20000000L).as("ts"),
      (abs(hash(col("id"))) % 20000 / 100.0 + 1.0).as("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-replay-big")
    val third = n / 3
    Seq(
      ticks.filter(col("ts") < timestamp_micros(lit(1704067200000000L + third * 20000000L))),
      ticks.filter(col("ts") >= timestamp_micros(lit(1704067200000000L + third * 20000000L)) &&
        col("ts") < timestamp_micros(lit(1704067200000000L + 2 * third * 20000000L))),
      ticks.filter(col("ts") >= timestamp_micros(lit(1704067200000000L + 2 * third * 20000000L)))
    ).zipWithIndex.foreach { case (c, i) =>
      val f = srcDir.resolve(s"chunk$i")
      c.coalesce(1).write.parquet(f.toString)
      f.toFile.listFiles().foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    val stream = spark.readStream
      .schema(ticks.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString + "/*")
    val out = java.nio.file.Files.createTempDirectory("graft-replay-big-out")
    val warehousePath = out.resolve("daystocks").toString
    val q = StreamingCandles.warehouseSink(
      StreamingCandles.dailyCandles(stream, "user_id", "ts", "value"),
      warehousePath,
      out.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    val cutoff = ticks.agg(max($"ts")).collect()(0).getTimestamp(0).toInstant.minusSeconds(86400)
    val expected = Candles.ohlcvDaily(ticks, "user_id", "ts", "value")
      .filter(col("day").cast("timestamp") + expr("INTERVAL 1 DAY") <=
        lit(java.sql.Timestamp.from(cutoff)))
    def warehouse() = spark.read.parquet(warehousePath).drop("batch")
    val total = warehouse().count()
    assert(total == expected.count())
    assert(warehouse().select("day").distinct().count() > 20)
    assert(warehouse().select("user_id").distinct().count() == 50)

    // pick the largest real batch and replay it through the sink's exact
    // write path: first a PARTIAL write (the failed attempt), then the
    // full batch again (the engine's retry under the same batchId)
    val batches = spark.read.parquet(warehousePath)
      .groupBy("batch").count().orderBy(desc("count")).collect()
    val replayId = batches.head.getAs[Any]("batch").toString.toLong
    // stage the batch's rows outside the warehouse — Spark (correctly)
    // refuses to overwrite a path a plan is still reading from
    val stage = out.resolve("replay-stage").toString
    spark.read.parquet(s"$warehousePath/batch=$replayId").write.parquet(stage)
    val batchRows = spark.read.parquet(stage)
    val full = batchRows.count()
    assert(full > 0)
    StreamingCandles.writeBatch(batchRows.limit((full / 2).toInt), warehousePath, replayId)
    assert(warehouse().count() == total - full + full / 2) // half-written state
    StreamingCandles.writeBatch(batchRows, warehousePath, replayId)
    // the replay healed the partial write and introduced zero duplicates
    assert(warehouse().count() == total)
    assert(warehouse().join(expected,
      Seq("day", "user_id", "open", "high", "low", "close", "volume"), "left_anti").count() == 0)
    assert(warehouse().groupBy("day", "user_id").count().filter($"count" > 1).count() == 0)
  }

  test("checkpoint restart: a stopped query resumes exactly-once from its checkpoint") {
    import org.apache.spark.sql.functions._
    // the ops-grade property: kill the query after one chunk, deliver the
    // rest, restart a NEW query object on the SAME checkpoint — the
    // result must equal an uninterrupted run (offsets, watermark, and
    // sink idempotence all restored from the checkpoint)
    val n = 90000L
    val ticks = spark.range(n).select(
      pmod(hash(col("id") * 7), lit(20)).cast("long").as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 20000000L).as("ts"),
      (abs(hash(col("id"))) % 20000 / 100.0 + 1.0).as("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-restart-src")
    val third = n / 3
    def chunk(i: Long) = ticks.filter(
      col("ts") >= timestamp_micros(lit(1704067200000000L + i * third * 20000000L)) &&
        col("ts") < timestamp_micros(lit(1704067200000000L + (i + 1) * third * 20000000L)))
    def stage(i: Long): Unit = {
      val f = srcDir.resolve(s"chunk$i")
      chunk(i).coalesce(1).write.parquet(f.toString)
      f.toFile.listFiles().foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    stage(0)
    val out = java.nio.file.Files.createTempDirectory("graft-restart-out")
    val warehousePath = out.resolve("daystocks").toString
    val ckpt = out.resolve("ckpt").toString
    def startQuery() = {
      val stream = spark.readStream.schema(ticks.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
      StreamingCandles.warehouseSink(
        StreamingCandles.dailyCandles(stream, "user_id", "ts", "value"),
        warehousePath, ckpt)
    }
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop() // "crash" after chunk 0
    val afterCrash = spark.read.parquet(warehousePath).count()
    assert(afterCrash > 0, "first run emitted nothing — the fixture proves nothing")

    stage(1); stage(2)
    val q2 = startQuery() // new query object, same checkpoint
    try q2.processAllAvailable() finally q2.stop()

    val cutoff = ticks.agg(max($"ts")).collect()(0).getTimestamp(0).toInstant.minusSeconds(86400)
    val expected = Candles.ohlcvDaily(ticks, "user_id", "ts", "value")
      .filter(col("day").cast("timestamp") + expr("INTERVAL 1 DAY") <=
        lit(java.sql.Timestamp.from(cutoff)))
    val warehouse = spark.read.parquet(warehousePath).drop("batch")
    assert(warehouse.count() == expected.count())
    assert(warehouse.join(expected,
      Seq("day", "user_id", "open", "high", "low", "close", "volume"), "left_anti").count() == 0)
    assert(warehouse.groupBy("day", "user_id").count().filter($"count" > 1).count() == 0)
  }

  test("shuffle-partition rescaling across restarts: candle loop output stays exact at 2x and half") {
    import org.apache.spark.sql.functions._
    // the knob a real cluster turns when executors scale: restart the
    // stateful loop from the SAME checkpoint under a session now set to
    // 2x, then half, the original shuffle partitions. Spark pins the
    // state-store layout from the checkpoint (the offset log restores
    // the recorded sql.shuffle.partitions for stateful operators), so
    // the contract to prove is that turning the session knob between
    // restarts neither corrupts state nor changes one output row vs an
    // uninterrupted run — the candle/warehouse asserts of the restart
    // test, now across three partition settings.
    val n = 90000L
    val ticks = spark.range(n).select(
      pmod(hash(col("id") * 13), lit(20)).cast("long").as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 20000000L).as("ts"),
      (abs(hash(col("id"))) % 20000 / 100.0 + 1.0).as("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-rescale-src")
    val third = n / 3
    def stage(i: Long): Unit = {
      val f = srcDir.resolve(s"chunk$i")
      ticks.filter(
        col("ts") >= timestamp_micros(lit(1704067200000000L + i * third * 20000000L)) &&
          col("ts") < timestamp_micros(lit(1704067200000000L + (i + 1) * third * 20000000L)))
        .coalesce(1).write.parquet(f.toString)
      f.toFile.listFiles().foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    val out = java.nio.file.Files.createTempDirectory("graft-rescale-out")
    val warehousePath = out.resolve("daystocks").toString
    val ckpt = out.resolve("ckpt").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(ticks.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
      val q = StreamingCandles.warehouseSink(
        StreamingCandles.dailyCandles(stream, "user_id", "ts", "value"),
        warehousePath, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    val origParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      stage(0); runOnce() // phase 1: the original setting
      assert(spark.read.parquet(warehousePath).count() > 0,
        "phase 1 emitted nothing — the fixture proves nothing")
      spark.conf.set("spark.sql.shuffle.partitions", (origParts.toInt * 2).toString)
      stage(1); runOnce() // phase 2: restart at 2x
      spark.conf.set("spark.sql.shuffle.partitions",
        math.max(1, origParts.toInt / 2).toString)
      stage(2); runOnce() // phase 3: restart at half
    } finally spark.conf.set("spark.sql.shuffle.partitions", origParts)

    val cutoff = ticks.agg(max($"ts")).collect()(0).getTimestamp(0).toInstant.minusSeconds(86400)
    val expected = Candles.ohlcvDaily(ticks, "user_id", "ts", "value")
      .filter(col("day").cast("timestamp") + expr("INTERVAL 1 DAY") <=
        lit(java.sql.Timestamp.from(cutoff)))
    val warehouse = spark.read.parquet(warehousePath).drop("batch")
    assert(warehouse.count() == expected.count())
    assert(warehouse.join(expected,
      Seq("day", "user_id", "open", "high", "low", "close", "volume"), "left_anti").count() == 0)
    assert(warehouse.groupBy("day", "user_id").count().filter($"count" > 1).count() == 0)
  }

  test("shuffle-partition rescaling across restarts: dedup state drops duplicates seen before the resize") {
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.DataFrame
    // same knob, the DEDUP loop: a duplicate arriving AFTER the restart
    // must still hit the state written BEFORE it under a different
    // shuffle-partition setting — exactly-once emission per content
    // identity across three partition settings
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text")
      .limit(100)
      .withColumn("ts", timestamp_seconds(lit(1704103200L) + $"doc_id" * 60))
      .localCheckpoint(true)
    val b0 = docs.unionByName(docs.filter($"doc_id" % 3 === 0).limit(30))
    val b1 = docs.filter($"doc_id" % 3 === 1).limit(30)
      .withColumn("ts", $"ts" + expr("INTERVAL 10 minutes"))
    val b2 = docs.filter($"doc_id" % 3 === 2).limit(30)
      .withColumn("ts", $"ts" + expr("INTERVAL 20 minutes"))
    val base = java.nio.file.Files.createTempDirectory("graft-rescale-dedup")
    val srcDir = base.resolve("src")
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def stage(name: String, df: DataFrame, i: Int): Unit = {
      df.coalesce(1).write.parquet(srcDir.resolve(name).toString)
      srcDir.resolve(name).toFile.listFiles().foreach(f =>
        assert(f.setLastModified(1700000000000L + i * 60000L), s"mtime pin failed for $f"))
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
      val q = StreamingDedup.exactDedupWithinWatermark(stream, "ts", "2 days")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outDir); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val origParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      stage("b0", b0, 0); runOnce()
      spark.conf.set("spark.sql.shuffle.partitions", (origParts.toInt * 2).toString)
      stage("b1", b1, 1); runOnce() // b1 replays content deduped at 4 parts
      spark.conf.set("spark.sql.shuffle.partitions",
        math.max(1, origParts.toInt / 2).toString)
      stage("b2", b2, 2); runOnce() // b2 replays content deduped at 8 parts
    } finally spark.conf.set("spark.sql.shuffle.partitions", origParts)

    val got = spark.read.parquet(outDir)
    val want = StreamingDedup.withContentHash(
        b0.unionByName(b1).unionByName(b2), Seq("text"))
      .dropDuplicates("content_hash")
    assert(got.count() == 100L && want.count() == 100L)
    assert(got.select("text").distinct().exceptAll(
      want.select("text").distinct()).isEmpty)
  }

  test("stream-static join: each micro-batch enriched against a batch dimension") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "ts", "value")
    val dim = ev.select($"user_id").distinct()
      .withColumn("cohort", pmod($"user_id", lit(3)))
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ssj-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = StreamingCandles.fileStream(
      spark, streamDir.toString, Tables.load(spark, sf, "events"))
      .transform(Tables.canonicalizeEventTs)
      .select("event_id", "user_id", "ts", "value")
    // stateless stream-static equi-join: the static side is re-planned
    // per micro-batch (picking up dimension updates), the stream side
    // needs no state — the standard enrichment shape
    val q = stream.join(broadcast(dim), "user_id")
      .writeStream.format("memory").queryName("ssj_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("ssj_stream")
      val batch = ev.join(dim, "user_id")
      assert(emitted.count() == batch.count())
      assert(emitted.select("event_id", "cohort")
        .join(batch.select("event_id", "cohort"),
          Seq("event_id", "cohort"), "left_anti").count() == 0)
    } finally q.stop()
  }

  test("stream + slowly-changing dim: an upsert BETWEEN micro-batches is visible to the next batch") {
    // the temporal half of the stream-static contract: the static side
    // is re-planned per micro-batch, so a dimension upsert that lands
    // between batches must enrich all LATER batches with the new version
    // while already-emitted rows keep the version they saw. foreachBatch
    // re-reads the warehouse dim by path — the production loop's shape.
    import org.apache.spark.sql.{DataFrame, SaveMode}
    val dimPath = java.nio.file.Files.createTempDirectory("graft-scd-dim").toString
    Seq((0L, "v1"), (1L, "v1"), (2L, "v1")).toDF("cohort_key", "version")
      .write.mode(SaveMode.Overwrite).parquet(dimPath)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-scd-src")
    def writeChunk(name: String, ids: Range): Unit =
      ids.map(i => (i.toLong, i.toLong % 3)).toDF("event_id", "cohort_key")
        .coalesce(1).write.parquet(srcDir.resolve(name).toString)
    writeChunk("a", 0 until 50)
    val stream = spark.readStream
      .schema(Seq((0L, 0L)).toDF("event_id", "cohort_key").schema)
      .option("maxFilesPerTrigger", 10)
      .parquet(srcDir.toString + "/*")
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val dim = batch.sparkSession.read.parquet(dimPath)
      sink.synchronized {
        sink ++= batch.join(broadcast(dim), "cohort_key")
          .select($"event_id", $"version").as[(Long, String)].collect()
      }
      ()
    }.start()
    try {
      q.processAllAvailable()
      // dimension upsert lands between batches
      Seq((0L, "v2"), (1L, "v2"), (2L, "v2")).toDF("cohort_key", "version")
        .write.mode(SaveMode.Overwrite).parquet(dimPath)
      writeChunk("b", 50 until 80)
      q.processAllAvailable()
      val byId = sink.synchronized(sink.toMap)
      assert(byId.size == 80)
      assert((0 until 50).forall(i => byId(i.toLong) == "v1"),
        "pre-upsert rows must carry the version their batch saw")
      assert((50 until 80).forall(i => byId(i.toLong) == "v2"),
        "post-upsert rows must see the updated dimension")
    } finally q.stop()
  }

  test("streaming incremental dedup: per-batch new-vs-store pairs equal the batch run") {
    // the daily-ops flow as a stream: new document batches arrive on a
    // file source; each micro-batch runs incrementalLshPairs against
    // the STATIC already-ingested store inside foreachBatch. Union of
    // per-batch results must equal one batch-mode run over all new docs
    // (per-doc signatures are corpus-independent, so batching cannot
    // change any pair).
    val docs = Tables.documents(spark, sf)
    val store = docs.filter($"doc_id" < 250)
    val fresh = docs.filter($"doc_id" >= 250)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-incdedup-src")
    // two separate files → two micro-batches (maxFilesPerTrigger=1)
    fresh.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    fresh.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val stream = spark.readStream.schema(fresh.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    val q = stream.writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
      graft.textops.Dedup.incrementalLshPairs(batch, store, n = 5, minJaccard = 0.7)
        .select("doc_new", "doc_store")
        .collect().foreach(r => collected.add((r.getLong(0), r.getLong(1))))
      ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    val streamed = scala.jdk.CollectionConverters.CollectionHasAsScala(collected).asScala.toSet
    val batchRun = graft.textops.Dedup.incrementalLshPairs(fresh, store, n = 5, minJaccard = 0.7)
      .select("doc_new", "doc_store").as[(Long, Long)].collect().toSet
    assert(streamed == batchRun)
    assert(batchRun.nonEmpty) // 13 cross-boundary pairs exist at sf0.001? — nonzero guard
  }

  test("streaming signature-store dedup: check against persisted sigs, then append own") {
    // the FULL production ingest flow: the store is the persisted
    // signature TABLE (never re-shingled); each arriving batch (a) dedups
    // against the current signature store via incrementalSigPairs and
    // (b) appends its own signatures, so batch 2 sees batch 1's docs. At
    // the end the signature store must equal one batch-mode
    // minhashSignatures run over everything.
    import graft.textops.Dedup
    val docs = Tables.documents(spark, sf)
    val store = docs.filter($"doc_id" < 250)
    val fresh = docs.filter($"doc_id" >= 250)
    val sigPath = java.nio.file.Files.createTempDirectory("graft-sigstore").toString
    Dedup.writeSignatureTable(store, sigPath)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sigdedup-src")
    fresh.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    fresh.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val stream = spark.readStream.schema(fresh.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    val q = stream.writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
      val sigs = spark.read.parquet(sigPath)
      Dedup.incrementalSigPairs(batch, sigs, n = 5, minEstJaccard = 0.7)
        .select("doc_new", "doc_store")
        .collect().foreach(r => collected.add((r.getLong(0), r.getLong(1))))
      // ingest: this batch's signatures join the store for later batches
      Dedup.minhashSignatures(batch, n = 5).write.mode("append").parquet(sigPath)
      ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    val streamed = scala.jdk.CollectionConverters.CollectionHasAsScala(collected).asScala.toSet
    // every pair the store-only batch run finds is found here too (the
    // stream checks against a GROWING store, so it may find extra
    // legitimate new-vs-earlier-new pairs — verify those against the
    // full-corpus signature run)
    val storeOnly = Dedup.incrementalSigPairs(fresh, Dedup.minhashSignatures(store))
      .select("doc_new", "doc_store").as[(Long, Long)].collect().toSet
    assert(storeOnly.subsetOf(streamed))
    val allPairs = Dedup.incrementalSigPairs(fresh, Dedup.minhashSignatures(docs))
      .filter($"doc_new" =!= $"doc_store")
      .select("doc_new", "doc_store").as[(Long, Long)].collect().toSet
    assert(streamed.subsetOf(allPairs))
    // final signature store ≡ batch-mode signatures over store + all batches
    val finalSigs = spark.read.parquet(sigPath)
    val expected = Dedup.minhashSignatures(docs)
    assert(finalSigs.count() == expected.count())
    assert(finalSigs.exceptAll(expected).isEmpty && expected.exceptAll(finalSigs).isEmpty)
  }

  test("streaming embedding ingest: check against persisted ANN index, then append own rows") {
    // the embedding analog of the signature-store flow: each arriving
    // vector batch (a) dedups against the current persisted ANN index via
    // incrementalNearDupPairs and (b) appends its own index rows, so
    // batch 2 sees batch 1's vectors. The final index must equal one
    // batch-mode buildEmbeddingIndex over everything.
    import graft.similarity.Similarity
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val store = emb.filter($"vec_id" < 100)
    val fresh = emb.filter($"vec_id" >= 100 && $"vec_id" < 300)
      // plant: vectors 100-149 duplicate store vectors 0-49 (perturbed)
      .unionByName(emb.filter($"vec_id" < 50)
        .select(($"vec_id" + 100000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> cast(cast(x as double) + IF(i = 0, 0.05D, 0D) as float))")
            .as("embedding")))
    val idxPath = java.nio.file.Files.createTempDirectory("graft-annstream").toString
    Similarity.writeEmbeddingIndex(store, idxPath)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-annstream-src")
    fresh.filter($"vec_id" % 2 === 0).coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    fresh.filter($"vec_id" % 2 === 1).coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    val dups = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val stream = spark.readStream.schema(fresh.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    val q = stream.writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
      val idx = spark.read.parquet(idxPath)
      Similarity.incrementalNearDupPairs(batch, idx, threshold = 0.9)
        .select("vec_new", "vec_store")
        .collect().foreach(r => dups.add((r.getLong(0), r.getLong(1))))
      Similarity.buildEmbeddingIndex(batch).write.mode("append").parquet(idxPath)
      ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    val streamed = scala.jdk.CollectionConverters.CollectionHasAsScala(dups).asScala.toSet
    // every planted copy surfaced against its original store vector
    (0L until 50L).foreach { i =>
      assert(streamed.contains((i + 100000L, i)), s"plant $i missed")
    }
    // final index ≡ one batch-mode build over store + all batches
    val finalIdx = spark.read.parquet(idxPath)
    val expected = Similarity.buildEmbeddingIndex(store.unionByName(fresh))
    assert(finalIdx.count() == expected.count())
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", xxhash64($"q"), $"norm2", xxhash64($"tbs"), $"lsh_spec")
      .collect().map(_.toSeq).toSet
    assert(key(finalIdx) == key(expected))
  }

  test("streaming curation loop: quality gate + sig-store dedup + packing equals the batch fold") {
    // the production ingest loop END-TO-END in one foreachBatch pipeline:
    // each arriving file batch is (a) quality-gated, (b) deduped against
    // the persisted signature store, (c) its SURVIVORS' signatures
    // appended to the store (check-then-append), and (d) the survivors
    // packed into 512-token sequences and appended to the training
    // corpus. The reference is the identical per-batch fold run in plain
    // batch mode over the same files in the same order — streaming
    // infrastructure must add or lose nothing.
    import graft.textops.{Dedup, TextAnalysis}
    import org.apache.spark.sql.DataFrame
    val docs = Tables.documents(spark, sf)
    val store = docs.filter($"doc_id" < 250)
    val fresh = docs.filter($"doc_id" >= 250)
    val qualityMin = 0.5

    val base = java.nio.file.Files.createTempDirectory("graft-curate-stream")
    val srcDir = base.resolve("src")
    // batch order is the file-source's mtime order. Pin it EXPLICITLY —
    // a sleep between writes is flaky on filesystems with coarse mtime
    // granularity (identical timestamps → listing order decides)
    fresh.filter($"doc_id" < 375).coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    fresh.filter($"doc_id" >= 375).coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    val t0 = System.currentTimeMillis() - 60000
    val walked = java.nio.file.Files.walk(srcDir.resolve("b0"))
    // assert the pin took — a silently-failed setLastModified would put
    // the test right back on the flaky natural-timestamp ordering
    try walked.forEach(p => assert(p.toFile.setLastModified(t0), s"mtime pin failed for $p"))
    finally walked.close()

    // one micro-batch of the curation loop, shared verbatim by the
    // streaming pipeline and the batch-mode reference fold
    def curateStep(batch: DataFrame, batchId: Long, sigPath: String, corpusPath: String): Unit = {
      val passed = TextAnalysis.withQuality(batch)
        .filter(col("quality_score") >= qualityMin)
        .select(batch.columns.map(col) :+ col("n_tokens") :+ col("quality_score"): _*)
      val sigs = spark.read.parquet(sigPath)
      val dupIds = Dedup.incrementalSigPairs(passed, sigs, n = 5, minEstJaccard = 0.7)
        .select(col("doc_new").as("doc_id")).distinct()
      val survivors = passed.join(dupIds, Seq("doc_id"), "left_anti").localCheckpoint(true)
      Dedup.minhashSignatures(survivors, n = 5).write.mode("append").parquet(sigPath)
      graft.operators.PrefixSum.exclusivePrefixSum(
          survivors.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", nParts = 2)
        .join(survivors.select(col("doc_id"), col("quality_score")), Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"),
          (lit(batchId) * 1000000L + expr("start_off div 512")).as("seq_id"))
        .write.mode("append").parquet(corpusPath)
    }

    // streaming run
    val sigA = base.resolve("sigA").toString
    val corpusA = base.resolve("corpusA").toString
    Dedup.writeSignatureTable(store, sigA)
    val stream = spark.readStream.schema(fresh.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    val q = stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) => curateStep(batch, batchId, sigA, corpusA)
    }.start()
    try q.processAllAvailable() finally q.stop()

    // batch-mode reference: the same fold, no streaming infrastructure
    val sigB = base.resolve("sigB").toString
    val corpusB = base.resolve("corpusB").toString
    Dedup.writeSignatureTable(store, sigB)
    curateStep(fresh.filter($"doc_id" < 375), 0L, sigB, corpusB)
    curateStep(fresh.filter($"doc_id" >= 375), 1L, sigB, corpusB)

    val got = spark.read.parquet(corpusA)
    val want = spark.read.parquet(corpusB)
    assert(got.count() > 0 && got.count() < fresh.count()) // gate + dedup both bit
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // final signature stores agree too (check-then-append is equivalent)
    val sa = spark.read.parquet(sigA)
    val sb = spark.read.parquet(sigB)
    assert(sa.exceptAll(sb).isEmpty && sb.exceptAll(sa).isEmpty)
  }

  test("streaming decontamination: each micro-batch pays the persisted bloom prefilter") {
    // the batch path persists the bench sketch once (`writeBenchBloom`);
    // the ingest loop must READ it per micro-batch instead of re-running
    // the full shingle join against re-shingled bench docs. Final corpus
    // must equal the full-join batch decontamination — the prefilter is
    // a plan change, never a result change.
    import graft.textops.Decontaminate
    import org.apache.spark.sql.DataFrame
    val docs = Tables.documents(spark, sf)
    val isBench = $"doc_id" % 10 === 0
    val fresh = docs.filter(!isBench)
    val base = java.nio.file.Files.createTempDirectory("graft-decon-stream")
    val artDir = base.resolve("bench").toString
    Decontaminate.writeBenchArtifacts(docs, isBench, artDir, n = 8)

    val srcDir = base.resolve("src")
    fresh.filter($"doc_id" < 250).coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    fresh.filter($"doc_id" >= 250).coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    val t0 = System.currentTimeMillis() - 60000
    val walked = java.nio.file.Files.walk(srcDir.resolve("b0"))
    try walked.forEach(p => assert(p.toFile.setLastModified(t0), s"mtime pin failed for $p"))
    finally walked.close()

    // per-batch optimized plans, harvested for the prefilter assert
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val corpusA = base.resolve("corpus").toString
    def decontamStep(batch: DataFrame): Unit = {
      val hits = Decontaminate.contaminatedIncremental(batch, artDir, n = 8)
      plans.add(hits.queryExecution.executedPlan.toString)
      batch.join(hits.select("doc_id"), Seq("doc_id"), "left_anti")
        .write.mode("append").parquet(corpusA)
    }
    val stream = spark.readStream.schema(fresh.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    val q = stream.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) => decontamStep(batch)
    }.start()
    try q.processAllAvailable() finally q.stop()

    // reference: the full-join batch decontamination over the whole corpus
    val full = Decontaminate.contaminated(docs, isBench, n = 8)
    val want = fresh.join(full.select("doc_id"), Seq("doc_id"), "left_anti")
    val got = spark.read.parquet(corpusA).select(fresh.columns.map(col): _*)
    assert(got.count() > 0 && got.count() < fresh.count(),
      "decontamination should drop some but not all training docs")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // two micro-batches ran, and EACH one's plan carries the stored-
    // sketch might-contain prefilter
    assert(plans.size == 2, s"expected 2 micro-batches, saw ${plans.size}")
    plans.forEach(p => assert(p.contains("might_contain"),
      "micro-batch plan lost the bloom prefilter:\n" + p.take(600)))
  }

  test("streaming heavy hitters: per-batch sketches merged into a store match one-shot") {
    // the sketch-store flow for vocabulary monitoring at ingest time:
    // each micro-batch builds its own Misra-Gries summary, merges it
    // into the persisted (item, cnt) store, and the FINAL store must
    // satisfy the same guarantees as a one-shot sketch over everything —
    // the PODS'12 mergeability, through actual streaming infrastructure
    // and a parquet round-trip per batch
    import graft.operators.{FreqItems, FreqItemsAggregator}
    import org.apache.spark.sql.DataFrame
    val k = 20
    val agg = new FreqItemsAggregator(k)
    val toks = Tables.documents(spark, sf)
      .select($"doc_id", explode(expr(graft.textops.TextAnalysis.tokensExpr)).as("w"))
      .filter(length($"w") > 0)
    val base = java.nio.file.Files.createTempDirectory("graft-hh-stream")
    val srcDir = base.resolve("src")
    toks.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    toks.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    val storePath = base.resolve("store").toString
    spark.emptyDataFrame.select(lit("").as("item"), lit(0L).as("cnt")).limit(0)
      .write.parquet(storePath)
    val stream = spark.readStream.schema(toks.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    val q = stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val stored = spark.read.parquet(storePath)
        .as[(String, Long)].collect().toMap
      val merged = agg.merge(stored, FreqItems.sketch(batch, "w", k))
      merged.toSeq.toDF("item", "cnt")
        .coalesce(1).write.mode("overwrite").parquet(storePath)
      ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    val streamedSummary = spark.read.parquet(storePath)
      .as[(String, Long)].collect().toMap
    // the merged store satisfies the sketch guarantees vs GLOBAL truth
    val truth = toks.groupBy($"w").count().as[(String, Long)].collect().toMap
    val n = truth.values.sum
    assert(streamedSummary.size <= k)
    truth.filter(_._2 > n / (k + 1)).keys.foreach(w =>
      assert(streamedSummary.contains(w), s"heavy token $w lost across micro-batches"))
    streamedSummary.foreach { case (w, est) =>
      assert(est <= truth.getOrElse(w, 0L), s"$w overcounted through the store")
    }
  }

  test("streaming count-min maintenance: per-batch day sketches land as the one-shot store") {
    // the frequency leg of the sketch-store trio under streaming ingest:
    // each micro-batch appends ITS days' CMS rows (day grain keeps
    // appends disjoint when batches align to days), and the final store
    // must answer range queries identically to a one-shot build — the
    // counter linearity FreqSketchStore's batch spec proves, here
    // through actual streaming infrastructure. Batches are split on a
    // DAY boundary (the production alignment: a landing day is sketched
    // when it closes).
    import graft.operators.FreqSketchStore
    import org.apache.spark.sql.DataFrame
    val ev = Tables.events(spark, sf).select($"event_type", $"ts")
    val base = java.nio.file.Files.createTempDirectory("graft-cms-stream")
    val srcDir = base.resolve("src")
    val cut = "2024-01-16"
    ev.filter(to_date($"ts") < cut).coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    ev.filter(to_date($"ts") >= cut).coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    val storePath = base.resolve("store").toString
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    var first = true
    val q = stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      FreqSketchStore.writeDailyFreqSketch(batch, "ts", "event_type", storePath,
        mode = if (first) "overwrite" else "append")
      first = false
      ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    val oneShot = base.resolve("oneshot").toString
    FreqSketchStore.writeDailyFreqSketch(ev, "ts", "event_type", oneShot)
    for (k <- Seq("view", "purchase", "error", "no_such_type");
         range <- Seq(("2024-01-01", "2024-12-31"), ("2024-01-01", cut))) {
      val s = FreqSketchStore.estimateFreq(spark, storePath, "event_type", k, range._1, range._2)
      val o = FreqSketchStore.estimateFreq(spark, oneShot, "event_type", k, range._1, range._2)
      assert(s == o, s"streamed store diverges from one-shot on $k over $range: $s vs $o")
    }
  }

  test("streaming exact content dedup == batch exact dedup for watermark-delivered duplicates") {
    // the ingest loop's FIRST stage (StreamingDedup): replay-storm
    // duplicates are dropped by watermark-scoped state before any
    // signature join runs. Reference = batch dropDuplicates on the same
    // content identity over the same rows.
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.DataFrame
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text")
      .limit(100)
      .withColumn("ts", timestamp_seconds(lit(1704103200L) + $"doc_id" * 60))
      .localCheckpoint(true)
    // b0 = all originals + replay of 30; b1 = replay of another 30 ten
    // minutes later — every duplicate well inside the 2-day watermark
    val b0 = docs.unionByName(docs.filter($"doc_id" % 3 === 0).limit(30))
    val b1 = docs.filter($"doc_id" % 3 === 1).limit(30)
      .withColumn("ts", $"ts" + expr("INTERVAL 10 minutes"))
    val base = java.nio.file.Files.createTempDirectory("graft-exact-dedup")
    val srcDir = base.resolve("src")
    b0.coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    b1.coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    Seq("b0", "b1").zipWithIndex.foreach { case (d, i) =>
      srcDir.resolve(d).toFile.listFiles().foreach(f =>
        assert(f.setLastModified(1700000000000L + i * 60000L), s"mtime pin failed for $f"))
    }
    val outDir = base.resolve("out").toString
    val stream = spark.readStream.schema(b0.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    val q = StreamingDedup.exactDedupWithinWatermark(stream, "ts", "2 days")
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir); ()
      }.start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(outDir)
    val want = StreamingDedup.withContentHash(b0.unionByName(b1), Seq("text"))
      .dropDuplicates("content_hash")
    assert(got.count() == 100L && want.count() == 100L)
    assert(got.select("text").distinct().exceptAll(
      want.select("text").distinct()).isEmpty)
  }

  test("content hash: NULL and empty string are distinct identities; all-NULL rows dedup") {
    import graft.streaming.StreamingDedup
    val df = Seq((1L, Some("")), (2L, None: Option[String]), (3L, None: Option[String]))
      .toDF("id", "text")
    val hashed = StreamingDedup.withContentHash(df, Seq("text"))
      .select($"id", $"content_hash").as[(Long, String)].collect().toMap
    assert(hashed(1L) != hashed(2L), "NULL and '' must not collide")
    assert(hashed(2L) == hashed(3L), "all-NULL rows must dedup against each other")
    assert(hashed.values.forall(_ != null), "hash must never be NULL or rows pass unchecked")
  }

  test("accepted divergence: a re-crawl AFTER state eviction is emitted again") {
    // same content, fresh event time, watermark already past the
    // original's ts + delay: the hash state was evicted, so the copy
    // passes — by design; deep history is the signature store's job.
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.DataFrame
    def row(id: Long, tsSec: Long, text: String) = (id, text, tsSec)
    val mk = (rows: Seq[(Long, String, Long)]) => rows.toDF("doc_id", "text", "s")
      .select($"doc_id", $"text", timestamp_seconds($"s").as("ts"))
    val b0 = mk(Seq(row(1L, 36000L, "the quick brown fox"), // 10:00
      row(2L, 36030L, "the quick brown fox"))) //  + an in-batch replay: deduped
    val b1 = mk(Seq(row(3L, 46800L, "filler advancing the watermark"))) // 13:00 → wm 12:00
    // the eviction pass runs at the END of the batch that already holds
    // the advanced watermark — one more batch before the re-crawl so the
    // 10:00 state row (expired 11:00 < wm 12:00) is really gone
    val b2 = mk(Seq(row(9L, 47400L, "second filler, eviction pass runs"))) // 13:10
    val b3 = mk(Seq(row(4L, 48600L, "the quick brown fox"))) // 13:30, state evicted
    val base = java.nio.file.Files.createTempDirectory("graft-late-dup")
    val srcDir = base.resolve("src")
    Seq(b0 -> "b0", b1 -> "b1", b2 -> "b2", b3 -> "b3").zipWithIndex.foreach { case ((df, d), i) =>
      df.coalesce(1).write.parquet(srcDir.resolve(d).toString)
      srcDir.resolve(d).toFile.listFiles().foreach(f =>
        assert(f.setLastModified(1700000000000L + i * 60000L), s"mtime pin failed for $f"))
    }
    val outDir = base.resolve("out").toString
    val stream = spark.readStream.schema(b0.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    val q = StreamingDedup.exactDedupWithinWatermark(stream, "ts", "1 hour")
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val foxes = spark.read.parquet(outDir)
      .filter($"text" === "the quick brown fox")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    // in-batch replay (doc 2) deduped; post-eviction re-crawl (doc 4) NOT
    assert(foxes == Seq(1L, 4L),
      s"expected the original and the post-eviction re-crawl, got $foxes")
  }

  test("streaming dedup within watermark drops replayed events") {
    import org.apache.spark.sql.functions._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-dup-src")
    val ev = Tables.events(spark, sf).select("event_id", "ts", "user_id", "value").limit(200)
    // the same events twice = an at-least-once source replay
    ev.unionByName(ev).coalesce(1).write.parquet(srcDir.resolve("dup").toString)
    val stream = spark.readStream
      .schema(ev.schema)
      .parquet(srcDir.toString + "/*")
      .withWatermark("ts", "2 days")
      .dropDuplicatesWithinWatermark("event_id")
    val q = stream.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() == 200)
    } finally q.stop()
  }

  // --- stream-stream joins (StreamJoins) -------------------------------

  /** Slice a frame into chronological chunks staged as parquet files whose
    * mtimes force the file source to replay them in time order.
    */
  private def stageChunks(df: org.apache.spark.sql.DataFrame, tsCol: String,
                          cuts: Seq[String], tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    val bounds = ("0000-01-01" +: cuts) :+ "9999-12-31"
    bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      val f = dir.resolve(s"chunk$i")
      df.filter(to_date(col(tsCol)) >= lo && to_date(col(tsCol)) < hi)
        .coalesce(1).write.parquet(f.toString)
      f.toFile.listFiles().foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    dir.toString + "/*"
  }

  test("streaming continuous aggregate: per-micro-batch candle-store maintenance equals batch candles") {
    // the TimescaleDB continuous-aggregate loop end-to-end: a persisted
    // day-partitioned candle-STATE store, seeded from history, then
    // maintained per micro-batch by merge-and-upsert — only the (key,
    // day) groups a batch touches are read or rewritten; days the stream
    // never touches keep their files byte-identical
    import graft.etl.Candles
    import graft.sources.{Sources, Warehouse}
    import org.apache.spark.sql.DataFrame
    val ev = Tables.events(spark, sf).select($"user_id", $"ts", $"value")
    val cut = "2024-01-11"
    val history = ev.filter(to_date($"ts") < cut)
    val live = ev.filter(to_date($"ts") >= cut)
    assert(history.count() > 0 && live.count() > 0, "fixture must span the cut")

    val storePath = java.nio.file.Files.createTempDirectory("graft-ca-store").toString
    Sources.writeDayPartitioned(
      Candles.candleState(history, "user_id", "ts", "value"), "first_ts", "user_id", storePath)
    def fileSet(day: String) = {
      val fs = new org.apache.hadoop.fs.Path(storePath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$storePath/day=$day"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
    }
    val firstHistDay = spark.read.parquet(storePath)
      .agg(min($"day".cast("string"))).as[String].head()
    val untouchedBefore = fileSet(firstHistDay)

    // one refresh step, shared shape with candles_incremental's fold:
    // batch state ⊕ the store's AFFECTED days, upserted back
    def mergeStep(batch: DataFrame): Unit = {
      val bState = Candles.candleState(batch, "user_id", "ts", "value").localCheckpoint(true)
      val days = bState.select($"day").distinct().collect().map(_.get(0))
      val affected = spark.read.parquet(storePath).filter($"day".isin(days: _*))
      val merged = Candles.mergeCandleStates(affected, bState, "user_id")
      Warehouse.upsertDayPartitioned(spark, storePath, merged, "first_ts", Seq("user_id"))
    }
    val srcDir = stageChunks(live, "ts", Seq("2024-01-18", "2024-01-25"), "castream")
    val stream = spark.readStream.schema(live.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = stream.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) => mergeStep(batch)
    }.start()
    try q.processAllAvailable() finally q.stop()

    // the maintained store == the one-shot batch candles over everything
    val got = Candles.finishCandles(spark.read.parquet(storePath)
      .select(ev.columns.head, "day", "first_ts", "open", "high", "low",
        "last_ts", "close", "volume", "turnover_units"))
      .select($"user_id", $"day".cast("string"), $"open", $"high", $"low", $"close", $"volume")
    val want = Candles.ohlcvDaily(ev, "user_id", "ts", "value")
      .select($"user_id", $"day".cast("string"), $"open", $"high", $"low", $"close", $"volume")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // partition-scoped maintenance: a history day no batch touched keeps
    // its exact files (same names, sizes, mtimes)
    assert(fileSet(firstHistDay) == untouchedBefore)
  }

  test("stream-stream join: click attribution across micro-batches equals the batch join") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "ts", "event_type")
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts".as("click_ts"))
    val cuts = Seq("2024-01-11", "2024-01-21")
    val vStream = spark.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", 1).parquet(stageChunks(views, "view_ts", cuts, "ssjv"))
    val cStream = spark.readStream.schema(clicks.schema)
      .option("maxFilesPerTrigger", 1).parquet(stageChunks(clicks, "click_ts", cuts, "ssjc"))

    val q = StreamJoins.attributeClicks(vStream, cStream)
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("attr_stream")
      val batch = views.join(clicks,
        views("user_id") === clicks("user_id") &&
          clicks("click_ts") >= views("view_ts") &&
          clicks("click_ts") <= views("view_ts") + expr("INTERVAL 48 hours"))
      assert(batch.count() > 50, "fixture too thin — the join proves nothing")
      assert(emitted.count() == batch.count())
      assert(emitted.select("view_id", "click_id")
        .join(batch.select("view_id", "click_id"),
          Seq("view_id", "click_id"), "left_anti").count() == 0)
      // the 100 TB property: join state is bounded by the lookback
      // window, not stream history — by end of replay the watermark has
      // evicted everything older than lookback+delay, so the state store
      // retains a small tail of the month, not the whole month
      // lastProgress can be a no-data tick without state info — take the
      // most recent progress event that carries state operators
      val retained = q.recentProgress.reverse.collectFirst {
        case p if p.stateOperators.nonEmpty => p.stateOperators.map(_.numRowsTotal).sum
      }.getOrElse(0L)
      val total = views.count() + clicks.count()
      assert(retained > 0, "no join state reported — the metric is dead")
      assert(retained < total / 2,
        s"state held $retained of $total rows — watermark eviction did not fire")
    } finally q.stop()
  }

  test("stream-stream outer join: unmatched views null-extend once the watermark passes") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "ts", "event_type")
    // sentinel far-future rows push the watermark past every real view's
    // (view_ts + lookback + delay) horizon so ALL outer results flush;
    // without them the final views' verdicts stay pending forever
    val sentinelTs = lit("2024-06-01 00:00:00").cast("timestamp")
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
      .unionByName(spark.range(1).select(lit(-1L).as("user_id"),
        lit(-1L).as("view_id"), sentinelTs.as("view_ts")))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts".as("click_ts"))
      .unionByName(spark.range(1).select(lit(-1L).as("user_id"),
        lit(-1L).as("click_id"), sentinelTs.as("click_ts")))
    val cuts = Seq("2024-01-11", "2024-01-21", "2024-02-01")
    val vStream = spark.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", 1).parquet(stageChunks(views, "view_ts", cuts, "ssov"))
    val cStream = spark.readStream.schema(clicks.schema)
      .option("maxFilesPerTrigger", 1).parquet(stageChunks(clicks, "click_ts", cuts, "ssoc"))

    val q = StreamJoins.attributeClicksOuter(vStream, cStream)
      .writeStream.format("memory").queryName("attr_outer_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("attr_outer_stream").filter($"user_id" =!= -1L)
      val batch = views.filter($"user_id" =!= -1L).join(
        clicks.filter($"user_id" =!= -1L),
        views("user_id") === clicks("user_id") &&
          clicks("click_ts") >= views("view_ts") &&
          clicks("click_ts") <= views("view_ts") + expr("INTERVAL 48 hours"),
        "left_outer")
      // matched pairs agree AND every clickless view surfaced exactly once
      assert(emitted.count() == batch.count())
      val unmatchedEmitted = emitted.filter($"click_id".isNull).select("view_id")
      val unmatchedBatch = batch.filter(clicks("click_id").isNull).select("view_id")
      assert(unmatchedEmitted.count() == unmatchedBatch.count() && unmatchedBatch.count() > 0)
      assert(unmatchedEmitted.join(unmatchedBatch, Seq("view_id"), "left_anti").count() == 0)
    } finally q.stop()
  }

  test("stateful registration emits each key exactly once with first-seen time") {
    val input = Seq(
      ("AAA", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      ("AAA", java.sql.Timestamp.valueOf("2024-01-01 09:00:00")),
      ("BBB", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))).toDS()
    val regs = StreamingCandles.registerNewKeys(input).collect()
    assert(regs.map(_.key).sorted.toSeq == Seq("AAA", "BBB"))
    assert(regs.find(_.key == "AAA").get.firstSeen ==
      java.sql.Timestamp.valueOf("2024-01-01 09:00:00"))
  }

  test("streaming quantile-store maintenance: per-batch appends estimate like one-shot") {
    // the sketch-store maintenance loop as a stream: each micro-batch
    // appends its own (day, bin) histogram rows; because bin counts ADD
    // exactly across store rows, a range estimate over the streamed
    // store is IDENTICAL to one built in a single batch — no
    // approximation drift from the chunking, only more store rows
    // (compacted by any later rewrite).
    import graft.operators.QuantileStore
    val (lo, hi, bins) = (0.0, 400.0, 1024)
    val ev = Tables.events(spark, sf).select($"ts", $"value")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-histq-src")
    ev.filter($"event_id".isNull || $"value" < 50).coalesce(1)
      .write.parquet(srcDir.resolve("b0").toString)
    ev.filter($"value" >= 50).coalesce(1)
      .write.parquet(srcDir.resolve("b1").toString)
    val storePath = java.nio.file.Files.createTempDirectory("graft-histq-stream").toString
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    val q = stream.writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
      if (!batch.isEmpty)
        QuantileStore.writeDailyHistogram(batch, "ts", "value", storePath,
          lo, hi, bins, mode = "append")
      ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    val oneShot = java.nio.file.Files.createTempDirectory("graft-histq-once").toString
    QuantileStore.writeDailyHistogram(ev, "ts", "value", oneShot, lo, hi, bins)
    val qs = Seq(0.25, 0.5, 0.95)
    val a = QuantileStore.estimateQuantiles(spark, storePath, "value",
      "2024-01-01", "2024-12-31", qs, lo, hi, bins).as[(Double, Double)].collect().toSeq
    val b = QuantileStore.estimateQuantiles(spark, oneShot, "value",
      "2024-01-01", "2024-12-31", qs, lo, hi, bins).as[(Double, Double)].collect().toSeq
    assert(a == b, s"streamed store $a != one-shot $b")
  }

  test("transformWithState (state API v2): running per-key aggregate equals batch, RocksDB-backed") {
    import graft.streaming.StatefulV2
    import graft.streaming.StatefulV2.{Running, Tick}
    val ticks = Seq(
      Tick(1L, 10L), Tick(2L, 5L), Tick(1L, 7L),   // batch 0
      Tick(2L, 30L), Tick(3L, 2L), Tick(1L, 1L))   // batch 1
    val srcDir = java.nio.file.Files.createTempDirectory("graft-twsv2-src")
    ticks.take(3).toDS().coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    ticks.drop(3).toDS().coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(ticks.take(1).toDS().schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*").as[Tick]
      val q = StatefulV2.runningAgg(stream)
        .writeStream.format("memory").queryName("tws_running")
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      // last emitted row per key == the batch aggregate over everything
      val emitted = spark.table("tws_running").as[Running].collect()
      val lastPerKey = emitted.zipWithIndex
        .groupBy(_._1.userId).map { case (_, xs) => xs.maxBy(_._2)._1 }
        .map(r => r.userId -> ((r.n, r.sumCents, r.maxCents))).toMap
      val batch = ticks.groupBy(_.userId).map { case (k, xs) =>
        k -> ((xs.size.toLong, xs.map(_.cents).sum, xs.map(_.cents).max))
      }
      assert(lastPerKey == batch, s"$lastPerKey vs $batch")
      // update-mode really emitted key 1 twice (it appeared in both batches)
      assert(emitted.count(_.userId == 1L) == 2)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState declarative TTL: suppression window expires on its own") {
    // the v2 API's bounded-state contract WITHOUT timers: a key's "seen"
    // marker evaporates after the TTL, so (a) within the window, repeats
    // are suppressed; (b) after a quiet period longer than the TTL, the
    // key is treated as new and re-emitted. Generous margins (50 ms TTL
    // vs a 2 s sleep) keep the processing-time dependence un-flaky.
    // run → stop → (TTL lapses) → restart on the SAME checkpoint: expiry
    // is evaluated lazily when state is read, so it survives restarts —
    // and stopping between runs avoids the empty-micro-batch scheduling a
    // live processing-time-TTL query performs to advance its clock
    // (processAllAvailable never quiesces against that).
    import graft.streaming.StatefulV2
    import graft.streaming.StatefulV2.{Seen, Tick}
    val base = java.nio.file.Files.createTempDirectory("graft-ttl")
    val srcDir = base.resolve("src")
    val ckDir = base.resolve("ck").toString
    Seq(Tick(1L, 10L), Tick(1L, 99L), Tick(2L, 5L)).toDS()
      .coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // condition-polled runs, NOT processAllAvailable/awaitTermination: a
    // processing-time-TTL query schedules continuous empty micro-batches
    // to advance its eviction clock (observed: 4000+ batches), so
    // "quiescence" never arrives under either wait; wait for the
    // expected ROWS instead, then stop the query.
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Seen]
    def runOnce(name: String, ready: Seq[Seen] => Boolean): Seq[Seen] = {
      val stream = spark.readStream.schema(Seq(Tick(0L, 0L)).toDS().schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*").as[Tick]
      // foreachBatch sink: supports checkpoint recovery (the memory sink
      // refuses to resume from a checkpoint, and run 2 MUST resume run
      // 1's state for the TTL to have anything to expire)
      val q = StatefulV2.suppressWithinTtl(stream, java.time.Duration.ofMillis(50))
        .writeStream
        .option("checkpointLocation", ckDir)
        .outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Seen], _: Long) =>
          val rows = batch.collect()
          emitted.synchronized { emitted ++= rows }
          ()
        }.start()
      try {
        val deadline = System.nanoTime() + 90L * 1000000000L
        var rows = Seq.empty[Seen]
        while (!ready(rows) && System.nanoTime() < deadline) {
          Thread.sleep(200)
          rows = emitted.synchronized(emitted.toSeq)
        }
        assert(ready(rows), s"$name did not produce the expected rows: ${rows.mkString(",")}")
        rows
      } finally q.stop()
    }
    try {
      val first = runOnce("ttl_run1", _.size >= 2)
      // within one batch: key 1 emitted once (first arrival wins), key 2 once
      assert(first.toSet == Set(Seen(1L, 10L), Seen(2L, 5L)), first.mkString(","))
      Thread.sleep(2000) // let the 50 ms TTL lapse in processing time
      Seq(Tick(1L, 77L)).toDS().coalesce(1).write.parquet(srcDir.resolve("b1").toString)
      val after = runOnce("ttl_run2",
        _.exists(s => s.userId == 1L && s.firstCents == 77L))
      assert(after.count(s => s.userId == 1L && s.firstCents == 77L) == 1,
        s"key 1 must re-emit after its TTL lapsed: ${after.mkString(",")}")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState event-time timers: sessions close when the watermark passes the gap") {
    import graft.streaming.StatefulV2
    import graft.streaming.StatefulV2.{SessTick, Session}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: two sessions split by a >30min gap; user 2: one session
    val real = Seq(
      SessTick(1L, t("2024-01-01 10:00:00"), 5L),
      SessTick(1L, t("2024-01-01 10:10:00"), 7L),
      SessTick(2L, t("2024-01-01 10:05:00"), 1L),
      SessTick(1L, t("2024-01-01 11:30:00"), 2L), // new session (80 min gap)
      SessTick(2L, t("2024-01-01 10:20:00"), 3L))
    val probe = Seq(SessTick(-1L, t("2024-01-02 10:00:00"), 0L)) // advances the watermark
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sess-src")
    real.take(3).toDS().coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    real.drop(3).toDS().coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(real.take(1).toDS().schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*").as[SessTick]
        .withWatermark("ts", "1 minute")
      val q = StatefulV2.sessionize(stream, gapMs = 30L * 60 * 1000)
        .writeStream.format("memory").queryName("tws_sessions")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // late probe batch pushes the watermark past every real session's
        // end + gap → the open sessions' timers fire
        probe.toDS().coalesce(1).write.parquet(srcDir.resolve("b2").toString)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("tws_sessions").as[Session].collect()
        .filter(_.userId != -1L)
        .map(s => (s.userId, s.start.toString, s.end.toString, s.n, s.cents)).toSet
      val want = Set(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2L, 12L),
        (1L, "2024-01-01 11:30:00.0", "2024-01-01 11:30:00.0", 1L, 2L),
        (2L, "2024-01-01 10:05:00.0", "2024-01-01 10:20:00.0", 2L, 4L))
      assert(got == want, s"$got")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming view maintenance: per-batch z-set deltas fold to the one-shot view") {
    // operators/Ivm as a stream consumer: each micro-batch of fact rows
    // is a +1-weighted delta against the accumulated old side and a
    // static dimension; the maintained join-agg state after the replay
    // must equal the one-shot view over everything. This is the
    // materialized-view-over-a-stream shape without any stateful
    // operator — the state lives in the maintained table, not in Spark.
    import graft.operators.Ivm
    val dim = Ivm.weighted(Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("k", "grp"))
    val noDimDelta = dim.limit(0)
    val facts = Seq((1L, 10L), (1L, 5L), (2L, 20L), (3L, 30L), (4L, 40L), (2L, 7L))
      .toDF("k", "cents")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ivm-src")
    facts.filter($"cents" <= 10).coalesce(1).write.parquet(srcDir.resolve("b0").toString)
    facts.filter($"cents" > 10 && $"cents" <= 30).coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    facts.filter($"cents" > 30).coalesce(1).write.parquet(srcDir.resolve("b2").toString)
    var aOld = Ivm.weighted(facts.limit(0)).localCheckpoint()
    var state = Ivm.aggState(
      Ivm.weighted(facts.limit(0).join(dim.drop(Ivm.W), Seq("k"))),
      Seq("grp"), "cents").localCheckpoint()
    val stream = spark.readStream.schema(facts.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString + "/*")
    val q = stream.writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val da = Ivm.weighted(batch)
        state = Ivm.maintainJoinAgg(state, aOld, da, dim, noDimDelta,
          Seq("k"), Seq("grp"), "cents").localCheckpoint()
        aOld = aOld.unionByName(da).localCheckpoint()
      }
      ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    val oneShot = Ivm.aggState(
      Ivm.weighted(facts.join(dim.drop(Ivm.W), Seq("k"))), Seq("grp"), "cents")
      .as[(String, Long, Long)].collect().toSet
    assert(state.as[(String, Long, Long)].collect().toSet == oneShot)
    assert(oneShot.nonEmpty)
  }

  test("snapshot-versioned streaming ingest: a replayed batch commits exactly once") {
    // foreachBatch + Snapshots.commitUpsertIfAbsent(version = batchId+1)
    // is the sink-side exactly-once contract: the manifest's atomic
    // version claim recognizes a replayed micro-batch and no-ops it, so
    // a restart that re-delivers the last batch cannot double-apply.
    import graft.sources.Snapshots
    val root = java.nio.file.Files.createTempDirectory("graft-snap-stream").toString
    def batchDf(rows: (String, Long, Double)*) =
      rows.toDF("ts0", "key", "value")
        .select(to_timestamp($"ts0").as("ts"), $"key", $"value")
    val b0 = batchDf(("2024-01-01 10:00:00", 1L, 1.0), ("2024-01-01 11:00:00", 2L, 2.0))
    val b1 = batchDf(("2024-01-01 10:00:00", 1L, 1.5), ("2024-01-02 09:00:00", 3L, 3.0))
    assert(Snapshots.commitUpsertIfAbsent(spark, root, b0, "ts", Seq("key"), version = 1))
    assert(Snapshots.commitUpsertIfAbsent(spark, root, b1, "ts", Seq("key"), version = 2))
    // crash-and-replay of batch 1 → recognized, no new version, state intact
    assert(!Snapshots.commitUpsertIfAbsent(spark, root, b1, "ts", Seq("key"), version = 2))
    assert(Snapshots.currentVersion(spark, root) == 2)
    val state = Snapshots.readAt(spark, root)
      .select($"key", $"value").as[(Long, Double)].collect().toSet
    assert(state == Set((1L, 1.5), (2L, 2.0), (3L, 3.0)))
    // a version that would leave a gap is refused loudly
    intercept[IllegalArgumentException] {
      Snapshots.commitUpsertIfAbsent(spark, root, b1, "ts", Seq("key"), version = 4)
    }
  }
}
