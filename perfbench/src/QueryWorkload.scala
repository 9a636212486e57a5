package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `queries` workload: catalog entries issued one at a time by one
  * closed-loop client over the generated tables.
  *
  * A pass runs a fixed sample of the dashboard catalogs (candles,
  * windows, time series, ad-hoc SQL, joins, profiles: fixed per-query
  * planning and scheduling cost) and of the curation catalogs (text,
  * corpus, similarity, graph: loops, near-duplicate pipelines and
  * per-row kernels, and most DataFrame-construction jobs), in an order
  * the seed picks for each pass.
  *
  * A run sets up, then makes one untimed pass that checks every entry's
  * output against `reference.tsv` (it also warms the JVM and the codegen
  * cache), then makes one timed pass per 7 s of `--seconds`, and at
  * least three. A query is timed from the call that builds its DataFrame
  * until its `noop` write ends, the region `graft.Bench` times. An entry
  * that throws or fails its check counts as failed and is not timed.
  */
object QueryWorkload {
  /** Every twelfth entry of each catalog object, in declaration order and
    * starting with its first: a fixed stride sample sized so that a run
    * (three set-ups, a checking pass and four timed passes)
    * fits the benchmark's per-run budget on a 4-core host. */
  private val Stride = 12

  private def sample(qs: Seq[graft.QueryDef]): Seq[String] =
    qs.map(_.name).filterNot(SparkEntry.correctnessOnly).zipWithIndex
      .collect { case (n, i) if i % Stride == 0 => n }

  val dashboard: Seq[String] =
    Seq(graft.queries.CandleQueries.entries, graft.queries.WindowQueries.entries,
      graft.queries.TimeSeriesQueries.entries, graft.queries.SqlQueries.entries,
      graft.queries.PipelineQueries.entries, graft.queries.AggQueries.entries,
      graft.queries.JoinQueries.entries, graft.queries.FunctionQueries.entries,
      graft.queries.ProfileQueries.entries, graft.queries.MultimodalQueries.entries)
      .flatMap(sample)

  val curation: Seq[String] =
    Seq(graft.queries.TextQueries.entries, graft.queries.CorpusQueries.entries,
      graft.queries.SimilarityQueries.entries, graft.queries.GraphQueries.entries)
      .flatMap(sample)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(o: Opts): Result = {
    val (spark, dir, setupS) = Main.setUp(o, 3)(Gen.tables)
    val c = new Client(o, spark, dir)
    Main.phase("check")
    c.check()
    val (metrics, detail) =
      if (o.trace) c.traced()
      else { Main.phase("timed"); c.measured(setupS) }
    Main.phase("end")
    spark.stop()
    Result(c.attempted, c.failed.size.toLong, metrics, detail)
  }

  private final class Client(o: Opts, spark: SparkSession, dir: String) {
    private val fns = SparkEntry.queries
    private val entries = dashboard ++ curation
    private val rnd = new scala.util.Random(o.seed)
    var attempted = 0L
    val failed = mutable.LinkedHashSet.empty[String]

    private def attempt[T](name: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[perfbench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }

    /** The untimed checking pass (or, with `--record`, the recording one). */
    def check(): Unit = {
      val reference = if (o.record.isDefined) Map.empty[String, (Long, String)] else Check.loadReference(o.reference)
      val recorded = mutable.ArrayBuffer.empty[(String, Long, String)]
      rnd.shuffle(entries).foreach { name =>
        attempt(name) {
          val rows = fns(name)(spark, dir).collect()
          val got = (rows.length.toLong, Check.fingerprint(rows))
          recorded += ((name, got._1, got._2))
          if (o.record.isEmpty && !reference.get(name).contains(got))
            throw new IllegalStateException(s"output $got != reference ${reference.get(name)}")
        }
      }
      o.record.foreach(p => Check.writeReference(p, recorded.toSeq))
    }

    private def timed: Seq[String] = entries.filterNot(failed)

    def pass(): (Double, Seq[(String, Double)]) = {
      val p0 = System.nanoTime()
      val samples = rnd.shuffle(timed).flatMap { name =>
        val t0 = System.nanoTime()
        attempt(name)(noop(fns(name)(spark, dir))).map(_ => name -> (System.nanoTime() - t0) / 1e9)
      }
      ((System.nanoTime() - p0) / 1e9, samples)
    }

    def measured(setupS: Double): (Seq[(String, Double, String)], String) = {
      val passes = Main.timedPasses(o.seconds, 7.0)(pass())(_._1)
      val timedPasses = passes.map(_._2.filterNot(s => failed(s._1)))
      val lat = timedPasses.flatten.map(_._2)
      val perEntry = timedPasses.flatten.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (n, xs) => n -> Stats.median(xs.map(_._2)) }
      (Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", Stats.passEstimate(timedPasses), "s"),
        ("op_p50_s", Stats.hdQuantile(perEntry.map(_._2), 0.5), "s")),
        s""""passes":${passes.map(p => f"${p._1}%.4f").mkString("[", ",", "]")},""" +
          s""""samples":${lat.size},"op_p90_s":${Stats.quantile(lat, 0.9)},""" +
          s""""entry_median_s":${perEntry.map { case (n, t) => f""""$n":$t%.6f""" }.mkString("{", ",", "}")}""")
    }

    /** A traced pass between two passes with listeners off; the
      * per-layer numbers come from the traced pass only, the tracing
      * overhead is its wall minus the mean of the other two. */
    def traced(): (Seq[(String, Double, String)], String) = {
      val before = pass()._1
      val tr = new Tracer(spark)
      val p0 = System.nanoTime()
      val ops = rnd.shuffle(timed).map { name =>
        tr.span("query", name) {
          attempt(name) {
            val df = tr.span("construct", name)(fns(name)(spark, dir))
            tr.span("action", name)(noop(df))
          }
          tr.current
        }
      }
      val tracedWall = (System.nanoTime() - p0) / 1e9
      tr.drain()
      tr.close()
      val untracedWall = (before + pass()._1) / 2
      val layers = Layers.of(tr, ops, Session.cores)
      val curationOps = ops.filter(op => curation.contains(op.name))
      val curationLayers = Layers.of(tr, curationOps, Session.cores)
      val perEntry = ops.map { op =>
        val l = Layers.of(tr, Seq(op), Session.cores)
        val gap = op.dur / 1000 - l("construct_s") - l("exec_s")
        (op.name, op.dur / 1000, l("construct_s"), l("construct_jobs"), l("exec_s"), gap)
      }
      tr.dump(s"${o.out}/${o.workload}-seed${o.seed}-spans.json")
      val m = PerLayer.complete(layers ++ Map(
        "construct_share" -> layers("construct_s") / tracedWall,
        "curation_construct_s" -> curationLayers("construct_s"),
        "curation_construct_jobs" -> curationLayers("construct_jobs"),
        "dashboard_s" -> ops.filterNot(curationOps.contains).map(_.dur).sum / 1000,
        "curation_s" -> curationOps.map(_.dur).sum / 1000,
        "driver_gap_s" -> perEntry.map(_._6).maxOption.getOrElse(0.0),
        "trace_overhead_s" -> (tracedWall - untracedWall),
        "traced_pass_s" -> tracedWall))
      val entryJson = perEntry.map { case (n, w, c, cj, e, g) =>
        f""""$n":{"wall_s":$w%.6f,"construct_s":$c%.6f,"construct_jobs":${cj.toInt},"exec_s":$e%.6f,"gap_s":$g%.6f}"""
      }
      (m, s""""untraced_pass_s":$untracedWall,"traced_pass_s":$tracedWall,""" +
        s""""entries":${entryJson.mkString("{", ",", "}")}""")
    }
  }
}
