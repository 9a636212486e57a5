package perfbench

import java.io.File

import scala.collection.mutable

import graft.etl.Candles
import graft.sources.{Snapshots, Sources, Warehouse}
import graft.streaming.{StreamingCandles, StreamingDedup}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The exact table state the correction batches should produce, kept
  * beside the generated feeds: (key, ts micros) -> value. */
final class IngestModel {
  val rows = mutable.HashMap.empty[(Long, Long), Double]

  def day(tsMicros: Long): Long = Math.floorDiv(tsMicros, 86400000000L)

  /** Candles (`Candles.ohlcvDaily` columns) for the given days, as
    * (key, epoch day) -> (open, high, low, close, volume, turnover, mean). */
  def candles(days: Set[Long]): Map[(Long, Long), (Double, Double, Double, Double, Long, Double, Double)] =
    rows.toSeq.filter { case ((_, ts), _) => days.contains(day(ts)) }
      .groupBy { case ((k, ts), _) => (k, day(ts)) }
      .map { case (kd, xs) =>
        val s = xs.sortBy(_._1._2)
        val vs = s.map(_._2)
        val (o, h, l, c) = (vs.head, vs.max, vs.min, vs.last)
        kd -> ((o, h, l, c, vs.size.toLong, vs.map(v => math.round(v * 100)).sum.toDouble / 100,
          (o + h + l + c) / 4))
      }
}

/** The `ingest` workload: the write path and streaming state.
  *
  * Set-up generates, from the seed, a tick feed and a document feed as
  * time-ordered parquet files (strictly increasing modification times,
  * so the file source replays them in event-time order) plus a series
  * of day-scoped correction batches. Timed passes then run, one per
  * 10 s of `--seconds` and at least three; the first is cold, and the
  * medians below set it aside. Each step of
  * a pass is timed on its own:
  *  1. the candle loop: `fileStream` -> `compressStream` ->
  *     `dailyCandles` -> `warehouseSink`;
  *  2. the dedup loop: `exactDedupWithinWatermark`, every 4th document
  *     a replayed duplicate;
  *  3. the initial `Sources.writeDayPartitioned` and the initial
  *     `Snapshots.commitUpsert` of the ticks, then each correction batch
  *     through `Warehouse.upsertDayPartitioned` and
  *     `Snapshots.commitUpsert`;
  *  4. after each write, a `Candles.ohlcvDaily` read of the touched days.
  * The workload's operation is a correction round: one batch through
  * the upsert, its read, the commit and its read.
  * Every step's output is checked exactly, outside its timed region:
  * candles = keys x emitted days, survivors = n - n/4, and after each
  * write the table's row count and the read's candles equal the
  * last-writer-wins model.
  */
object IngestWorkload {
  private val nKeys = 100
  private val nDays = 8
  private val nTicks = 20000
  private val nDocs = 20000
  private val slices = 4
  private val nBatches = 3
  private val batchRows = 200
  private val t0Micros = java.time.Instant.parse("2024-03-01T00:00:00Z").getEpochSecond * 1000000L
  private val spanMicros = nDays * 86400000000L

  private def tsOf(i: Long, n: Long): Long = t0Micros + i * spanMicros / n

  /** Write `slices` parquet files, one per time slice, with strictly
    * increasing modification times. */
  private def writeTimeOrdered(spark: SparkSession, schema: StructType, out: String,
                               rows: Int => Seq[Row]): Unit = {
    var clock = System.currentTimeMillis()
    val seen = mutable.Set.empty[String]
    for (s <- 0 until slices) {
      spark.createDataFrame(java.util.Arrays.asList(rows(s): _*), schema)
        .coalesce(1).write.mode("append").parquet(out)
      new File(out).listFiles().filter(f => f.getName.endsWith(".parquet") && seen.add(f.getName))
        .foreach(f => java.nio.file.Files.setLastModifiedTime(f.toPath,
          java.nio.file.attribute.FileTime.fromMillis(clock)))
      clock += 2000
    }
  }

  private val tickSchema = StructType(Seq(StructField("key", LongType),
    StructField("tsMicros", LongType), StructField("value", DoubleType)))
  private val docSchema = StructType(Seq(StructField("id", LongType),
    StructField("ts", TimestampType), StructField("text", StringType)))
  private val tableSchema = StructType(Seq(StructField("key", LongType),
    StructField("ts", TimestampType), StructField("value", DoubleType)))

  private def micros(us: Long) = java.sql.Timestamp.from(
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  private def cents(x: Double) = math.round(x * 100) / 100.0

  /** Feeds and correction batches for `seed`, as parquet files under `dir`. */
  def inputs(seed: Long)(spark: SparkSession, dir: String): Unit = {
    val rnd = new scala.util.Random(seed)
    val base = Array.fill(nKeys)(20 + 180 * rnd.nextDouble())
    val values = Array.tabulate(nTicks)(i => cents(base(i % nKeys) * (1 + (rnd.nextDouble() - 0.5) * 0.04)))
    writeTimeOrdered(spark, tickSchema, s"$dir/ticks", s =>
      (s * nTicks / slices until (s + 1) * nTicks / slices).map(i =>
        Row((i % nKeys).toLong, tsOf(i, nTicks), values(i))))
    val tokens = Array.fill(nDocs)(rnd.nextInt(1000000))
    writeTimeOrdered(spark, docSchema, s"$dir/docs", s =>
      (s * nDocs / slices until (s + 1) * nDocs / slices).map { i =>
        val src = if (i % 4 == 3) i - 1 else i
        Row(i.toLong, micros(tsOf(i, nDocs)), s"doc-$src body ${tokens(src)}")
      })
    // correction batches: 1, 2, 1, ... whole days each, so that every
    // seed rewrites the same number of days; 3 of 4 rows correct an
    // existing tick, the rest insert a tick at a new timestamp
    val model = initialModel(values)
    (0 until nBatches).foreach { b =>
      val days = rnd.shuffle((0 until nDays).toList).take(1 + b % 2).map(_.toLong)
      val existing = model.rows.keys.filter(k => days.contains(model.day(k._2) - t0Micros / 86400000000L))
        .toVector.sorted
      val picked = rnd.shuffle(existing).take(batchRows * 3 / 4)
      val inserts = Iterator.continually {
        val d = days(rnd.nextInt(days.size))
        ((rnd.nextInt(nKeys)).toLong, t0Micros + d * 86400000000L + rnd.nextLong(86400000000L))
      }.filterNot(model.rows.contains).distinct.take(batchRows - picked.size).toVector
      val rows = (picked ++ inserts).map { case (k, ts) =>
        Row(k, micros(ts), cents(base(k.toInt) * (1 + (rnd.nextDouble() - 0.5) * 0.1)))
      }
      rows.foreach(r => model.rows((r.getLong(0), tsMicrosOf(r.getTimestamp(1)))) = r.getDouble(2))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), tableSchema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/corrections/b$b")
    }
  }

  private def tsMicrosOf(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  private def initialModel(values: Array[Double]): IngestModel = {
    val m = new IngestModel
    (0 until nTicks).foreach(i => m.rows(((i % nKeys).toLong, tsOf(i, nTicks))) = values(i))
    m
  }

  /** Data files under a table root (hidden and underscore names skipped),
    * path -> bytes. */
  private def files(root: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    Option(new File(root).listFiles()).toSeq.flatten.flatMap(walk)
      .map(f => f.getPath -> f.length).toMap
  }

  def run(o: Opts): Result = {
    val (spark, dir, setupS) = Main.setUp(o, 3)(inputs(o.seed))
    val c = new Client(o, spark, dir)
    val (metrics, detail) =
      if (!o.trace) {
        Main.phase("timed")
        var k = 0
        val passes = Main.timedPasses(o.seconds, 10.0) { k += 1; c.pass(k, None) }(_.steps.map(_._2).sum)
        val walls = passes.map(_.steps.map(_._2).sum)
        val rounds = passes.flatMap(_.rounds)
        (Seq(("setup_s", setupS, "s"), ("pass_s", Stats.passEstimate(passes.map(_.steps)), "s"),
          ("op_p50_s", Stats.hdQuantile(Stats.opMedians(passes.map(_.rounds.map("round" -> _))), 0.5), "s")),
          s""""passes":${walls.map(w => f"$w%.4f").mkString("[", ",", "]")},"samples":${rounds.size},""" +
            s""""op_p90_s":${Stats.quantile(rounds, 0.9)},""" +
            s""""steps":${passes.last.steps.map { case (n, s) => f"""["$n",$s%.6f]""" }.mkString("[", ",", "]")}""")
      } else {
        // a cold pass, then untraced passes on both sides of the traced
        // one, so JVM warm-up does not read as negative overhead
        Main.phase("warm-up")
        c.pass(0, None)
        Main.phase("traced")
        val before = c.pass(1, None).steps.map(_._2).sum
        val tr = new Tracer(spark)
        val p = c.pass(2, Some(tr))
        tr.drain()
        tr.close()
        val untraced = (before + c.pass(3, None).steps.map(_._2).sum) / 2
        val traced = p.steps.map(_._2).sum
        val layers = Layers.of(tr, p.spans, Session.cores)
        val reads = p.spans.filter(_.name == "read")
        val readLayers = Layers.of(tr, reads, Session.cores)
        tr.dump(s"${o.out}/ingest-seed${o.seed}-spans.json")
        val m = PerLayer.complete(layers ++ p.extra ++ Layers.streaming(tr, p.streams) ++ Map(
          "read_mb" -> readLayers("input_mb"),
          "trace_overhead_s" -> (traced - untraced), "traced_pass_s" -> traced))
        (m, s""""untraced_pass_s":$untraced,"traced_pass_s":$traced,""" +
          s""""steps":${p.steps.map { case (n, s) => f"""["$n",$s%.6f]""" }.mkString("[", ",", "]")}""")
      }
    Main.phase("end")
    spark.stop()
    Result(c.attempted, c.failed, metrics, detail)
  }

  /** One pass's timed steps, the latency of each correction round, and
    * in a traced pass its step spans, streaming query ids and the
    * sources-layer numbers. */
  final case class Pass(steps: Seq[(String, Double)], rounds: Seq[Double], spans: Seq[Span],
                        streams: Set[String], extra: Map[String, Double])

  private final class Client(o: Opts, spark: SparkSession, dir: String) {
    import spark.implicits._
    var attempted = 0L
    var failed = 0L

    def pass(k: Int, tr: Option[Tracer]): Pass = {
      val work = s"${o.work}/pass$k"
      val model = {
        val ticks = spark.read.parquet(s"$dir/ticks").as[(Long, Long, Double)].collect()
        val m = new IngestModel
        ticks.foreach { case (key, ts, v) => m.rows((key, ts)) = v }
        m
      }
      val steps = mutable.ArrayBuffer.empty[(String, Double)]
      val spans = mutable.ArrayBuffer.empty[Span]
      val streams = mutable.Set.empty[String]
      var written = (0.0, 0L, 0L) // bytes, files, days rewritten
      var filesRead = 0L
      var updateBytes = 0L
      var keepRatio = 0.0

      /** Time `body` as one step; then run `check` untimed. */
      def step[T](name: String)(body: => T)(check: T => Unit): Unit = {
        attempted += 1
        try {
          val t0 = System.nanoTime()
          val out = tr match {
            case Some(t) => t.span("step", name) { spans += t.current; body }
            case None => body
          }
          steps += name -> (System.nanoTime() - t0) / 1e9
          check(out)
        } catch {
          case e: Throwable =>
            failed += 1
            System.err.println(s"[perfbench] ingest step $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        }
      }
      def need(cond: Boolean, what: => String): Unit =
        if (!cond) throw new IllegalStateException(what)

      // 1. candle loop
      val ticksDf = spark.read.parquet(s"$dir/ticks")
      step("candle_loop") {
        val ticks = StreamingCandles.fileStream(spark, s"$dir/ticks", ticksDf, maxFilesPerTrigger = 2)
          .as[StreamingCandles.TickEvent]
        val compressed = StreamingCandles.compressStream(ticks)
          .select(col("key"), timestamp_micros(col("tsMicros")).as("ts"), col("value"))
        val q = StreamingCandles.warehouseSink(
          StreamingCandles.dailyCandles(compressed, "key", "ts", "value"),
          s"$work/candles", s"$work/candles_ckpt")
        try q.processAllAvailable() finally q.stop()
        q.id.toString
      } { id =>
        streams += id
        tr.foreach(_.awaitTerminated(id))
        val out = spark.read.parquet(s"$work/candles")
        val (n, kept) = out.agg(count(lit(1)), sum(col("volume"))).as[(Long, Long)].head()
        val emitted = nDays - 2
        need(n == nKeys.toLong * emitted, s"candles written $n != ${nKeys.toLong * emitted}")
        if (tr.isDefined) keepRatio = kept.toDouble / (nTicks.toLong * emitted / nDays)
      }

      // 2. dedup loop
      val survivors = new java.util.concurrent.atomic.AtomicLong(0)
      step("dedup_loop") {
        val docs = StreamingCandles.fileStream(spark, s"$dir/docs", spark.read.parquet(s"$dir/docs"),
          maxFilesPerTrigger = 2)
        val q = StreamingDedup.exactDedupWithinWatermark(docs, "ts", "10 minutes").writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$work/dedup_ckpt")
          .foreachBatch { (b: DataFrame, _: Long) => survivors.addAndGet(b.count()); () }
          .start()
        try q.processAllAvailable() finally q.stop()
        q.id.toString
      } { id =>
        streams += id
        tr.foreach(_.awaitTerminated(id))
        need(survivors.get == nDocs - nDocs / 4, s"dedup survivors ${survivors.get} != ${nDocs - nDocs / 4}")
      }

      // 3-4. initial write, corrections, and a read after each write
      val wh = s"$work/warehouse"
      val snap = s"$work/snapshots"
      val table = ticksDf.select(col("key"), timestamp_micros(col("tsMicros")).as("ts"), col("value"))
      val allDays = (0 until nDays).map(d => t0Micros / 86400000000L + d).toSet

      def readCheck(root: String, days: Set[Long], snapshot: Boolean): Unit = {
        val dayLits = days.toSeq.sorted.map(d => java.time.LocalDate.ofEpochDay(d).toString)
        if (tr.isDefined) filesRead += files(if (snapshot) s"$root/data" else root).keys
          .count(p => dayLits.exists(d => p.contains(s"day=$d")))
        step("read") {
          val src = if (snapshot) Snapshots.readAt(spark, root) else spark.read.parquet(root)
          Candles.ohlcvDaily(src.filter(col("day").isin(dayLits: _*)), "key", "ts", "value")
            .select("key", "day", "open", "high", "low", "close", "volume", "turnover", "mean")
            .collect()
        } { rows =>
          val got = rows.map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay) ->
            ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6),
              r.getDouble(7), r.getDouble(8)))).toMap
          val want = model.candles(days)
          need(got == want, s"candles of ${days.size} days differ from the model " +
            s"(${got.size} vs ${want.size} groups)")
          val n = (if (snapshot) Snapshots.readAt(spark, root) else spark.read.parquet(root)).count()
          need(n == model.rows.size, s"table rows $n != ${model.rows.size}")
        }
      }

      def write(name: String, root: String, days: Int)(body: => Unit): Unit = {
        val before = if (tr.isDefined) files(root) else Map.empty[String, Long]
        step(name)(body) { _ =>
          if (tr.isDefined) {
            val fresh = files(root).filter { case (p, _) => !before.contains(p) }
            written = (written._1 + fresh.values.sum, written._2 + fresh.size, written._3 + days)
          }
        }
      }

      write("write_initial", wh, nDays)(Sources.writeDayPartitioned(table, "ts", "key", wh))
      readCheck(wh, allDays, snapshot = false)
      write("commit_initial", snap, nDays)(Snapshots.commitUpsert(spark, snap, table, "ts", Seq("key", "ts")))
      readCheck(snap, allDays, snapshot = true)
      val initialWritten = written._1
      val rounds = (0 until nBatches).map { b =>
        val first = steps.size
        val path = s"$dir/corrections/b$b"
        val updates = spark.read.parquet(path)
        if (tr.isDefined) updateBytes += files(path).values.sum
        val rows = updates.as[(Long, java.sql.Timestamp, Double)].collect()
        rows.foreach { case (key, ts, v) => model.rows((key, tsMicrosOf(ts))) = v }
        val days = rows.map(r => model.day(tsMicrosOf(r._2))).toSet
        write("upsert", wh, days.size)(
          Warehouse.upsertDayPartitioned(spark, wh, updates, "ts", Seq("key", "ts")))
        readCheck(wh, days, snapshot = false)
        write("commit", snap, days.size)(
          Snapshots.commitUpsert(spark, snap, updates, "ts", Seq("key", "ts")))
        readCheck(snap, days, snapshot = true)
        steps.drop(first).map(_._2).sum
      }

      def med(n: String) = Stats.median(steps.filter(_._1 == n).map(_._2).toSeq)
      val extra =
        if (tr.isEmpty) Map.empty[String, Double]
        else Map(
          "keep_ratio" -> keepRatio,
          "ingest_rows_per_s" -> nTicks / med("candle_loop"),
          "dedup_rows_per_s" -> nDocs / med("dedup_loop"),
          "upsert_s" -> med("upsert"), "commit_s" -> med("commit"), "read_s" -> med("read"),
          "write_amp" -> (written._1 - initialWritten) / (2.0 * updateBytes),
          "bytes_written_mb" -> written._1 / (1024.0 * 1024.0),
          "files_written" -> written._2.toDouble, "days_rewritten" -> written._3.toDouble,
          "files_read" -> filesRead.toDouble)
      Pass(steps.toSeq, rounds, spans.toSeq, streams.toSet, extra)
    }
  }
}
