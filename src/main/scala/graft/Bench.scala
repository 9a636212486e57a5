package graft

/** Per-round benchmark: runs every catalog query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract). Session is warmed with a
  * trivial job first so JVM/codegen startup isn't attributed to whichever
  * query happens to run first.
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 5) and reports
  * the MEDIAN — n=1 could not distinguish JIT/suite-order noise from a
  * real regression (round-2 finding: four queries drifted 0.5–1.2 s and
  * the signal was unreadable). Runs interleave whole passes over the
  * catalog (pass 1 all queries, pass 2 all queries, …) rather than
  * back-to-back repeats, so a query's repeats don't ride their own
  * just-warmed caches and the median stays an honest steady-state number.
  *
  * The bench ACTION is a `noop`-format write, not `count()`: count() lets
  * Catalyst prune the final projection and drop result sorts, so queries
  * whose tail is computed columns (the per-row-function entries like
  * `string_functions_doc`, `char_entropy`) were under-measured — exactly
  * the codegen'd-expression work those entries exist to exercise
  * (round-8 judge finding). The noop sink materializes every output
  * column through the full plan and discards rows executor-side, which is
  * also how a real cluster pays for a query: results leave the plan, they
  * are not collapsed into a cardinality. SCALE.md records the one-time
  * count-vs-noop step change so r9's totals are attributable.
  *
  * The driver keeps only the LAST 2000 bytes of stdout (round-1 finding:
  * the full-precision 63-query line was 3 KB and got truncated →
  * `"parsed": null`). So: seconds rounded to 2 decimals, the JSON line is
  * the final stdout line, and if the line would still exceed 1900 bytes
  * the queries map is trimmed to the slowest entries. Full precision for
  * every query goes to /tmp/graft_bench_detail.json.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shuffle partitions default to the thread count (right for sf0.1),
    // but scale audits at 10-100x the data must override them to FIT
    // MEMORY, not to core count — the same knob a real cluster turns
    // (SCALE.md sf10 audit: 59M-edge graph rounds at 32 partitions put
    // ~2M edges per task and OOMed a 24g heap; 128 partitions fit)
    val sizing = GraftSession.resolve(sys.env)
    val spark = GraftSession.start("graft-bench", sizing)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warm JVM + codegen
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    // dev-only escape hatch to reproduce the pre-r9 count() action for
    // step-change attribution (see SCALE.md "Bench action fidelity")
    val useCount = sys.env.get("SPARK_GRAFT_BENCH_ACTION").contains("count")
    // dev-only filter (mirrors Verify's third arg): comma-separated query
    // names for fast single-query iteration; the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // correctness-only entries (oracle-dictated configs whose production
    // twin is benched instead — SparkEntry.correctnessOnly) stay out of
    // the headline unless explicitly requested via the ONLY filter; the
    // JSON line declares the exclusion so the omission is auditable
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.map(_.contains(n))
          .getOrElse(!SparkEntry.correctnessOnly.contains(n)) }
    // A failed query reports -1, NEVER its elapsed time: time-to-exception
    // shrinks as failures fast-fail, so a crash would otherwise read as a
    // speedup (round-4 finding: a broken query's 7.2 s → 0.4 s "win" was
    // three swallowed exceptions).
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val samples = (1 to nRuns).map { _ =>
      catalog.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try {
          val df = fn(spark, sfDir)
          if (useCount) df.count()
          else df.write.format("noop").mode("overwrite").save()
          true
        } catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            false
        }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }.toMap
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // any failed run poisons the query: -1, not a median mixing times and -1s
    val results = catalog.map { case (name, _) =>
      name -> (if (failed(name)) -1.0 else median(samples.map(_(name))))
    }
    // total covers succeeding queries only — failed ones are listed, not summed
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")

    // cap the inline list so a mass failure can't blow the driver's
    // 2000-byte stdout tail and take the whole JSON line down with it;
    // n_failed always carries the true count (full names in the detail file)
    val failedJson =
      if (failed.isEmpty) ""
      else s""","n_failed":${failed.size}""" +
        failed.take(15).map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    val excluded = SparkEntry.correctnessOnly.toSeq.sorted
      .filter(n => only.forall(_.contains(n)) && !catalog.exists(_._1 == n))
    val excludedJson =
      if (excluded.isEmpty) ""
      else excluded.map("\"" + _ + "\"").mkString(""","correctness_only":[""", ",", "]")
    def line(rs: Seq[(String, Double)], driftJson: String): String = {
      val qs = rs.map { case (k, v) => "\"" + k + f"\":$v%.2f" }.mkString("{", ",", "}")
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$qs,"sf":$sfNum$failedJson$excludedJson$driftJson}"""
    }
    // trim the per-query map (slowest first) until the line fits the
    // driver's 2000-byte stdout tail with margin
    def fitLine(driftJson: String): String = {
      var kept = results.sortBy(-_._2)
      while (line(kept.sortBy(_._1), driftJson).length > 1900 && kept.nonEmpty) kept = kept.dropRight(8)
      line(kept.sortBy(_._1), driftJson)
    }
    val detail = results.map { case (k, v) =>
      val runs = samples.map(_(k)).mkString("[", ",", "]")
      "\"" + k + s"""":{"median":$v,"runs":$runs}"""
    }.mkString("{", ",", "}")
    // overridable so side-by-side runs (the SCALE.md sf1 audit) don't
    // clobber the driver's sf0.1 detail file
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "/tmp/graft_bench_detail.json")
    val detailBytes = {
      val failedFull =
        if (failed.isEmpty) ""
        else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
      // metric_line: the exact stdout object this run will print, minus
      // the drift block — persisted BEFORE the drift control runs so a
      // run killed inside the control still leaves a parseable record of
      // what the catalog scored (r15: BENCH_r15.json was rc=124 with no
      // metric line because the control overran the driver's timeout)
      s"""{"total":$total,"sf":"$sfDir","n_runs":$nRuns,"metric_line":${fitLine("")},"queries":$detail$failedFull$excludedJson}""".getBytes("UTF-8")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath), detailBytes)
    // full-catalog runs ALSO land the detail at a stable committed path —
    // the NEXT round's drift control reads it from the previous tree's
    // worktree as "what these queries scored when recorded" (BenchDrift)
    if (only.isEmpty && new java.io.File("tools").isDirectory)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("tools/bench_detail_latest.json"), detailBytes)
    System.err.println(s"[bench] full per-query detail: $detailPath")
    spark.stop()

    // same-day drift control (BenchDrift Scaladoc): full-catalog runs
    // only — dev ONLY-filtered runs and the control's own child probes
    // (which set SPARK_GRAFT_BENCH_DRIFT=off) skip it. The control is
    // budget-bounded and prefers reusing the round ritual's committed
    // same-pair measurement over re-probing a just-hammered host.
    val driftJson =
      if (only.isEmpty && !sys.env.get("SPARK_GRAFT_BENCH_DRIFT").contains("off"))
        BenchDrift.control(sfDir, sizing.cpus.toString,
          sizing.shufflePartitions.toString)
      else ""

    println(fitLine(driftJson)) // final stdout line — nothing may follow it
  }
}
