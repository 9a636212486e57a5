package graft

import graft.functions.JaroWinkler
import org.apache.spark.sql.functions._

class JaroWinklerSpec extends SparkSpec {
  import spark.implicits._

  // values cross-checked against DuckDB's jaro_winkler_similarity (the
  // oracle engine) — including its two textbook divergences: floored
  // half-transpositions and both-empty → 0.0
  private val duckDbReference = Seq(
    ("martha", "marhta", 0.9611111111111111),
    ("dixon", "dicksonx", 0.8133333333333332),
    ("dwayne", "duane", 0.8400000000000001),
    ("abcde", "abcde", 1.0),
    ("ab", "ba", 0.0), // window 0 at len 2 → no matches at all
    ("aaapppp", "a", 0.7428571428571429),
    ("", "", 0.0),
    ("a", "", 0.0),
    ("", "xyz", 0.0))

  test("static scorer reproduces DuckDB reference values exactly") {
    for ((a, b, want) <- duckDbReference) {
      val got = JaroWinkler.similarity(a, b)
      assert(got == want, s"similarity($a, $b) = $got, want $want")
      assert(JaroWinkler.similarity(b, a) == got, s"not symmetric on ($a, $b)")
    }
  }

  test("SQL expression (codegen path) equals the static scorer") {
    val pairs = duckDbReference.map { case (a, b, _) => (a, b) } ++ {
      val rnd = new scala.util.Random(42)
      val alpha = "abcdefghij#0123456789"
      def s() = (0 until rnd.nextInt(13)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      (1 to 300).map(_ => (s(), s()))
    }
    val got = pairs.toDF("a", "b")
      .repartition(7) // exercise the generated code across partitions
      .selectExpr("a", "b", "graft_jaro_winkler(a, b) AS jw")
      .as[(String, String, Double)].collect()
    for ((a, b, jw) <- got)
      assert(jw == JaroWinkler.similarity(a, b), s"codegen mismatch on ($a, $b)")
  }

  test("null inputs yield null, not a crash") {
    val df = Seq((Some("abc"), None: Option[String]), (None, Some("x")), (Some("abc"), Some("abd")))
      .toDF("a", "b")
      .selectExpr("graft_jaro_winkler(a, b) AS jw")
    val rows = df.collect()
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0) && !rows(2).isNullAt(0))
  }
}
