package graft

import graft.etl.Compress
import graft.operators.Skew
import graft.streaming.StreamingCandles
import graft.streaming.StreamingCandles.TickEvent
import org.apache.spark.sql.functions._

/** Scale-path operators: salted aggregation equivalence and streaming
  * compression vs the batch operator.
  */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("salted two-phase aggregation equals direct groupBy (exact int sums)") {
    val df = Tables.events(spark, sf)
      .withColumn("cents", round($"value" * 100).cast("long"))
    val direct = df.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"cents").as("total"))
    val salted = Skew.saltedCountSum(df, "user_id", "cents", "event_id", nSalts = 16)
    assert(direct.count() == salted.count())
    assert(direct.join(salted, Seq("user_id", "n", "total"), "left_anti").count() == 0)
  }

  test("AQE splits the skewed partition of a shuffle join at runtime") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // SCALE.md's division of labor: Skew.saltedCountSum covers skewed
    // AGGREGATION; skewed JOINS are AQE's job. This pins that claim: a
    // join where half the left side shares one key must plan skew-split
    // sort-merge-join stages, not stall one reducer on the hot key
    val prev = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1" // force a shuffle join
    ).map { case (k, v) =>
      val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old
    }
    try {
      // 90% of the left side shares k=0 — one reducer would carry ~25 MB
      // while its siblings carry < 1 MB
      val left = spark.range(2000000L).select(
        when($"id" % 10 > 0, 0L).otherwise($"id").as("k"), $"id".as("v"))
      val right = spark.range(200000L).select($"id".as("k"), ($"id" * 2).as("w"))
      // sum(v) keeps the payload column in the shuffle — without it the
      // join's column pruning ships only `k`, whose constant hot key
      // compresses below any realistic skew threshold
      val q = left.join(right, "k")
        .groupBy().agg(count(lit(1)).as("n"), sum($"w").as("s"), sum($"v").as("sv"))
      // 1.8M left rows share k=0 (one right match) + the 20k multiples
      // of 10 below 200k match one-to-one
      assert(q.collect()(0).getLong(0) == 1800000L + 20000L)
      def smjs(p: SparkPlan): Seq[SortMergeJoinExec] = p.collect {
        case s: SortMergeJoinExec => Seq(s)
        case st: QueryStageExec => smjs(st.plan)
        case a: AdaptiveSparkPlanExec => smjs(a.executedPlan)
      }.flatten
      val joins = smjs(q.queryExecution.executedPlan)
      assert(joins.nonEmpty, "expected a sort-merge join in the executed plan")
      assert(joins.exists(_.isSkewJoin),
        "AQE did not mark the join skew-split — the hot key ran on one reducer")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the probe side of a selective non-partition join") {
    // the row-group analog of the DPP warehouse test: when the join key
    // is NOT a partition column, Spark can still cut the big side's scan
    // by injecting a bloom filter built from the selective dim side
    // (InjectRuntimeFilter). This pins that the engine-level machinery
    // our manual decontamination prefilter mirrors also fires on plain
    // joins — and documents the conf that gates it (the application-side
    // scan threshold defaults to 10 GB, far above any test fixture)
    val prev = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      // the rule targets shuffle joins (a broadcast probe is already
      // cheap to filter at the join itself) — force the shuffle plan
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    ).map { case (k, v) =>
      val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-rbf")
    try {
      spark.range(2000000L).select(
        ($"id" % 1000000L).as("k"), ($"id" * 3).as("payload"))
        .write.parquet(dir.resolve("fact").toString)
      spark.range(10000L).select(
        $"id".as("k"), when($"id" % 100 === 0, 1).otherwise(0).as("flag"))
        .write.parquet(dir.resolve("dim").toString)
      val fact = spark.read.parquet(dir.resolve("fact").toString)
      val dim = spark.read.parquet(dir.resolve("dim").toString).filter($"flag" === 1)
      val q = fact.join(dim, "k").groupBy().agg(count(lit(1)).as("n"))
      assert(q.collect()(0).getLong(0) == 200L) // 100 dim keys x 2 fact rows
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        "no runtime bloom filter on the probe side:\n" +
          plan.linesIterator.take(30).mkString("\n"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("distributed prefix sum is partitioning-invariant and equals the global window") {
    import graft.operators.PrefixSum
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, sf)
      .select($"doc_id", size(split(lower(trim($"text")), "\\s+")).cast("long").as("n"))
    val viaWindow = toks
      .withColumn("start_off",
        coalesce(sum($"n").over(
          Window.orderBy($"doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    for (parts <- Seq(1, 7, 32)) {
      val dist = PrefixSum.exclusivePrefixSum(toks, "doc_id", "n", nParts = parts)
      assert(dist.count() == viaWindow.count())
      assert(dist.join(viaWindow, Seq("doc_id", "n", "start_off"), "left_anti").count() == 0,
        s"mismatch at nParts=$parts")
    }
    // default width follows spark.sql.shuffle.partitions, result unchanged
    val auto = PrefixSum.exclusivePrefixSum(toks, "doc_id", "n")
    assert(auto.rdd.getNumPartitions == spark.sessionState.conf.numShufflePartitions)
    assert(auto.join(viaWindow, Seq("doc_id", "n", "start_off"), "left_anti").count() == 0)
  }

  test("streaming compression matches batch except each key's open final day") {
    val ticks = Tables.events(spark, sf).select("user_id", "ts", "value")
    val ds = ticks.select(
      $"user_id".as("key"),
      unix_micros($"ts").as("tsMicros"),
      $"value").as[TickEvent]
    val streamed = StreamingCandles.compressStream(ds)
      .toDF("user_id", "ts_us", "value")
    val batch = Compress.tickCompression(ticks, "user_id", "ts", "value")
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"value")

    // everything the streaming operator emits, batch also keeps
    assert(streamed.join(batch, Seq("user_id", "ts_us", "value"), "left_anti").count() == 0)

    // batch-only rows are exactly final-day closers the stream hasn't
    // emitted yet (day still open at end of input)
    val batchOnly = batch.join(streamed, Seq("user_id", "ts_us", "value"), "left_anti")
    val lastPerKeyDay = ticks
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(max(unix_micros($"ts")).as("ts_us"))
    assert(batchOnly.join(lastPerKeyDay, Seq("user_id", "ts_us"), "left_anti").count() == 0)
  }

  // ---- blocked fuzzy join ----

  test("fuzzy join: probes match their source, blocking prunes dissimilar pairs") {
    import graft.operators.FuzzyJoin
    val canon = Seq((1L, "acme-corp"), (2L, "zenith-labs"), (3L, "nadir-ltd"))
      .toDF("c_key", "c_name")
    val dirty = Seq((10L, "acme-crp"), (20L, "zenith-lbs"), (30L, "qqqqqq"))
      .toDF("d_key", "d_name")
    val out = FuzzyJoin.bestMatch(dirty, "d_key", "d_name", canon, "c_key", "c_name",
        maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    // typo'd probes resolve to their sources at distance 1; the far
    // probe is absent (inner semantics)
    assert(out == Set((10L, 1L, 1L), (20L, 2L, 1L)))
  }

  test("fuzzy join: a shared boilerplate suffix still resolves the exact match") {
    import graft.operators.FuzzyJoin
    // every canonical shares the boilerplate suffix ' llc' and differs
    // from the probe by at least one edit outside it; only the exact
    // source is within distance 0, and it must win the (dist, key) order
    val canon = (1L to 20L).map(i => (i, f"name$i%02d llc")).toDF("c_key", "c_name")
    val dirty = Seq((100L, "name07 llc")).toDF("d_key", "d_name")
    val out = FuzzyJoin.bestMatch(dirty, "d_key", "d_name", canon, "c_key", "c_name",
        maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((100L, 7L, 0L)))
  }

  test("fuzzy join finds short-string matches via length keys (the sub-q*(d+1) band)") {
    import graft.operators.FuzzyJoin
    // 'IBM' ~ 'IBN' at distance 1 are below the segment threshold
    // q*(d+1) = 6. The length-key fallback must block them anyway
    // (round-7 ADVICE finding)
    val canon = Seq((1L, "IBN"), (2L, "SAP"), (3L, "ab"), (4L, "x")).toDF("c_key", "c_name")
    val dirty = Seq((10L, "IBM"), (20L, "SAPX"), (30L, "a"), (40L, "zz")).toDF("d_key", "d_name")
    val out = FuzzyJoin.bestMatch(dirty, "d_key", "d_name", canon, "c_key", "c_name",
        maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    // 'a' ties at dist 1 against 'ab' and 'x' → (dist, rightKey) break
    // picks c_key 3; 'zz' is dist 2 from everything → absent
    assert(out == Set((10L, 1L, 1L), (20L, 2L, 1L), (30L, 3L, 1L)))
  }

  test("fuzzy join blocking is complete: equals brute force for arbitrary edits (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.operators.FuzzyJoin
    // no length floor: segment keys cover max(len) >= q*(d+1); below
    // it the length keys must make blocking complete
    // (FuzzyJoinRewrite.sideKeys), so the generator spans 1..14 chars
    val alpha = Gen.oneOf('a', 'b', 'c')
    val genCanon = Gen.choose(1, 14).flatMap(n => Gen.listOfN(n, alpha).map(_.mkString))
    def edit(s: String, seed: Long): String = {
      val r = new scala.util.Random(seed)
      val ops = r.nextInt(3) // 0..2 edits, within maxDist
      (1 to ops).foldLeft(s) { (cur, _) =>
        if (cur.length < 2) cur
        else r.nextInt(3) match {
          case 0 => val p = r.nextInt(cur.length); cur.take(p) + cur.drop(p + 1) // delete
          case 1 => val p = r.nextInt(cur.length); cur.take(p) + ('a' + r.nextInt(3)).toChar + cur.drop(p) // insert
          case _ => val p = r.nextInt(cur.length); cur.take(p) + ('a' + r.nextInt(3)).toChar + cur.drop(p + 1) // substitute
        }
      }
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val gen = for {
      canon <- Gen.listOfN(6, genCanon).map(_.distinct)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (canon, seed)
    val prop = Prop.forAll(gen) { case (canonNames, seed) =>
      val canon = canonNames.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val probes = canon.map { case (i, s) => (100L + i, edit(s, seed + i)) }
      val out = FuzzyJoin.bestMatch(
          probes.toDF("d_key", "d_name"), "d_key", "d_name",
          canon.toDF("c_key", "c_name"), "c_key", "c_name",
          maxDist = 2)
        .as[(Long, Long, Long)].collect().toSet
      val brute = probes.flatMap { case (dk, dn) =>
        val scored = canon.map { case (ck, cn) => (ck, lev(dn, cn)) }.filter(_._2 <= 2)
        if (scored.isEmpty) None
        else { val (ck, d) = scored.minBy { case (ck, d) => (d, ck) }; Some((dk, ck, d.toLong)) }
      }.toSet
      out == brute
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10).withWorkers(1), prop)
    assert(result.passed, result.status.toString)
  }

  // ---- Misra-Gries frequent items ----

  // skewed synthetic stream: "hot" 30%, "warm" 15%, tail of 200 singles
  private def mgStream: (Seq[String], Long) = {
    val items = Seq.fill(300)("hot") ++ Seq.fill(150)("warm") ++
      (1 to 550).map(i => s"cold_${i % 200}")
    (new scala.util.Random(42).shuffle(items), items.size.toLong)
  }

  test("misra-gries guarantee: heavy items present, estimates never overcount") {
    import graft.operators.FreqItems
    val (items, n) = mgStream
    val df = items.toDF("w")
    val k = 9
    val sk = FreqItems.sketch(df, "w", k)
    assert(sk.size <= k)
    val truth = items.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    // every item above n/(k+1) must be present
    truth.filter(_._2 > n / (k + 1)).keys.foreach(w => assert(sk.contains(w), w))
    // estimates: true - n/(k+1) <= est <= true
    sk.foreach { case (w, est) =>
      val t = truth.getOrElse(w, 0L)
      assert(est <= t, s"$w overcounted: $est > $t")
      assert(est >= t - n / (k + 1), s"$w undercounted past the bound")
    }
  }

  test("misra-gries summaries merge across micro-batches (streaming ingest shape)") {
    import graft.operators.{FreqItems, FreqItemsAggregator}
    val (items, n) = mgStream
    val k = 9
    // the streaming fold: one sketch per arriving batch, merged into the
    // running store summary — the PODS'12 merge must preserve the bounds
    // the one-shot sketch has
    val agg = new FreqItemsAggregator(k)
    val merged = items.grouped(97).map(b => FreqItems.sketch(b.toDF("w"), "w", k))
      .foldLeft(agg.zero)(agg.merge)
    assert(merged.size <= k)
    val truth = items.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    truth.filter(_._2 > n / (k + 1)).keys.foreach(w =>
      assert(merged.contains(w), s"heavy item $w lost in a batch merge"))
    merged.foreach { case (w, est) =>
      assert(est <= truth.getOrElse(w, 0L), s"$w overcounted after merges")
    }
  }

  test("heavy hitters are exact and partitioning-invariant (sketch only gates candidates)") {
    import graft.operators.FreqItems
    val (items, n) = mgStream
    val df = items.toDF("w")
    val k = 9
    val exact = df.groupBy($"w").count().filter($"count" * (k + 1) > n)
      .select($"w".as("item"), $"count".as("cnt"))
      .as[(String, Long)].collect().toSet
    val hh1 = FreqItems.heavyHitters(df.repartition(1), "w", k)
      .as[(String, Long)].collect().toSet
    val hh17 = FreqItems.heavyHitters(df.repartition(17), "w", k)
      .as[(String, Long)].collect().toSet
    assert(hh1 == exact && hh17 == exact)
  }
}
