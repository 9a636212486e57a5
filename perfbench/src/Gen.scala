package perfbench

import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generators for every input the benchmark feeds the engine.
  *
  * `tables` writes the ten catalog tables (the star schema plus events,
  * documents and embeddings) in the shape of the engine's sf0.001 test
  * corpus: same column names and types, value ranges, vocabularies, one
  * parquet file per table, and the planted " dup" near-duplicate
  * documents. It always uses the fixed [[DataSeed]], so the per-entry
  * output reference in `reference.tsv` holds for every run; the run's
  * own seed only orders the queries.
  *
  * The ingest feeds (`ticks`, `docs`, `corrections`) are drawn from the
  * run's seed and delivered as files; [[IngestModel]] keeps the exact
  * expected state next to them.
  */
object Gen {
  val DataSeed = 42L

  private val words = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val adjectives = Vector("blue", "hot", "small", "old", "cold", "red", "new", "large")
  private val nouns = Vector("bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo")
  private val segments = Vector("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val partTypes = Vector("PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Vector("view", "click", "purchase", "signup", "error")
  private val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private def day(rnd: scala.util.Random, from: LocalDate, to: LocalDate): LocalDateTime =
    from.plusDays(rnd.nextInt((to.toEpochDay - from.toEpochDay).toInt + 1)).atStartOfDay()
  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  private def write(spark: SparkSession, dir: String, name: String,
                    schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def field(name: String, t: DataType) = StructField(name, t)

  /** The ten catalog tables at the sf0.001 shape, under `dir`. */
  def tables(spark: SparkSession, dir: String): Unit = {
    val rnd = new scala.util.Random(DataSeed)
    val nCustomer = 150; val nSupplier = 10; val nPart = 200
    val nOrders = 1500; val nLineitem = 6000; val nEvents = 1000
    val nDocs = 500; val nVecs = 500; val nUsers = 15

    write(spark, dir, "region",
      StructType(Seq(field("r_regionkey", IntegerType), field("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    write(spark, dir, "nation",
      StructType(Seq(field("n_nationkey", IntegerType), field("n_name", StringType),
        field("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write(spark, dir, "customer",
      StructType(Seq(field("c_custkey", LongType), field("c_name", StringType),
        field("c_nationkey", IntegerType), field("c_acctbal", DoubleType),
        field("c_mktsegment", StringType))),
      (0 until nCustomer).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        cents(-999.99 + rnd.nextDouble() * 10999.98), segments(rnd.nextInt(segments.size)))))
    write(spark, dir, "supplier",
      StructType(Seq(field("s_suppkey", LongType), field("s_name", StringType),
        field("s_nationkey", IntegerType), field("s_acctbal", DoubleType))),
      (0 until nSupplier).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        cents(-999.99 + rnd.nextDouble() * 10999.98))))
    write(spark, dir, "part",
      StructType(Seq(field("p_partkey", LongType), field("p_name", StringType),
        field("p_brand", StringType), field("p_type", StringType),
        field("p_size", IntegerType), field("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adjectives(rnd.nextInt(adjectives.size))} ${nouns(rnd.nextInt(nouns.size))}",
        s"Brand#${1 + rnd.nextInt(25)}", partTypes(rnd.nextInt(partTypes.size)),
        1 + rnd.nextInt(50), cents(900.0 + (i % 1000) * 0.1))))
    write(spark, dir, "orders",
      StructType(Seq(field("o_orderkey", LongType), field("o_custkey", LongType),
        field("o_orderstatus", StringType), field("o_totalprice", DoubleType),
        field("o_orderdate", TimestampNTZType), field("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCustomer).toLong,
        Vector("F", "O", "P")(rnd.nextInt(3)), cents(1000 + rnd.nextDouble() * 499000),
        day(rnd, LocalDate.of(1995, 1, 1), LocalDate.of(2001, 8, 1)),
        priorities(rnd.nextInt(priorities.size)))))
    write(spark, dir, "lineitem",
      StructType(Seq(field("l_orderkey", LongType), field("l_partkey", LongType),
        field("l_suppkey", LongType), field("l_linenumber", IntegerType),
        field("l_quantity", DoubleType), field("l_extendedprice", DoubleType),
        field("l_discount", DoubleType), field("l_tax", DoubleType),
        field("l_returnflag", StringType), field("l_linestatus", StringType),
        field("l_shipdate", TimestampNTZType))),
      (0 until nLineitem).map(_ => Row(rnd.nextInt(nOrders).toLong, rnd.nextInt(nPart).toLong,
        rnd.nextInt(nSupplier).toLong, 1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble,
        cents(900 + rnd.nextDouble() * 104100), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        Vector("A", "N", "R")(rnd.nextInt(3)), Vector("O", "F")(rnd.nextInt(2)),
        day(rnd, LocalDate.of(1995, 1, 2), LocalDate.of(2001, 11, 4)))))

    // events: globally unique timestamps over 30 days of January 2024,
    // event_id in time order, exponential values on the cent grid
    val start = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 86400 * 1000000
    val tsMicros = Iterator.continually((rnd.nextDouble() * spanMicros).toLong)
      .distinct.take(nEvents).toVector.sorted
    write(spark, dir, "events",
      StructType(Seq(field("event_id", LongType), field("ts", TimestampNTZType),
        field("user_id", LongType), field("event_type", StringType),
        field("value", DoubleType), field("props", StringType))),
      tsMicros.zipWithIndex.map { case (us, i) =>
        Row(i.toLong, start.plusNanos(us * 1000), rnd.nextInt(nUsers).toLong,
          eventTypes(rnd.nextInt(eventTypes.size)),
          math.max(0.01, cents(-50 * math.log(1 - rnd.nextDouble()))),
          s"""{"k": ${rnd.nextInt(100)}}""")
      })

    // documents: bag-of-words texts; every 20th document is a planted
    // near-duplicate (another document's text plus " dup")
    val base = Vector.fill(nDocs)(Vector.fill(5 + rnd.nextInt(86))(words(rnd.nextInt(words.size)))
      .mkString(" "))
    val texts = base.indices.map { i =>
      if (i % 20 == 0) base((i + 1 + rnd.nextInt(nDocs - 1)) % nDocs) + " dup" else base(i)
    }
    val langs = Vector("en", "en", "en", "fr", "zh", "de", "es")
    write(spark, dir, "documents",
      StructType(Seq(field("doc_id", LongType), field("text", StringType),
        field("lang", StringType), field("source", StringType), field("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(rnd.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
      })

    // embeddings: unit-norm 64-d gaussian vectors with a 10-class label
    write(spark, dir, "embeddings",
      StructType(Seq(field("vec_id", LongType),
        field("embedding", ArrayType(FloatType, containsNull = true)),
        field("label", IntegerType))),
      (0 until nVecs).map { i =>
        val v = Array.fill(64)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
      })
  }
}
