package graft

import graft.functions.RollingWinnow
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class RollingWinnowSpec extends SparkSpec {
  import spark.implicits._

  private val K = 5
  private val W = 4
  private val B = graft.textops.TextAnalysis.WinnowBase
  private val M = graft.textops.TextAnalysis.WinnowMod

  /** Naive reference: recompute every gram hash from scratch with the
    * oracle's per-position Horner, take each window's min with a plain
    * scan — O(n·k·w), no rolling recurrence, no deque.
    */
  private def naive(s: String, k: Int = K, w: Int = W): Seq[Long] = {
    val cps = s.codePoints().toArray
    val grams = (0 to cps.length - k).map { i =>
      cps.slice(i, i + k).foldLeft(0L)((h, c) => (h * B + c) % M)
    }
    (0 to grams.length - w).map(i => grams.slice(i, i + w).min)
  }

  test("kernel equals the naive per-gram Horner reference on random strings") {
    val alpha = "ab c01xyzé中" // incl. multibyte codepoints
    val genStr = for {
      n <- Gen.choose(0, 60)
      cs <- Gen.listOfN(n, Gen.oneOf(alpha.toSeq))
    } yield cs.mkString
    val prop = Prop.forAll(genStr) { s =>
      val got = RollingWinnow.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), K, W, B, M)
      got.toLongArray().toSeq == naive(s)
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200).withWorkers(1), prop)
    assert(result.passed, result.status.toString)
  }

  test("shared substring of length >= k+w-1 shares a fingerprint (paper guarantee)") {
    val core = "the quick brown fox jumps"
    val a = "XXXX " + core + " YYQQ"
    val b = "zz1 " + core + " 77a"
    val fa = naive(a).toSet
    val fb = naive(b).toSet
    assert(fa.intersect(fb).nonEmpty)
  }

  test("codegen path (DataFrame) equals interpreted compute, incl. short/empty strings") {
    val rnd = new scala.util.Random(7)
    val alpha = "abcde f012"
    val strs = Seq("", "a", "abcdefg", "abcdefgh") ++ // below/at the 1-window edge
      (1 to 200).map(_ => (0 until rnd.nextInt(40)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    val got = strs.toDF("t")
      .repartition(5)
      .selectExpr("t", s"graft_winnow(t, $K, $W, $B, $M) AS fps")
      .as[(String, Seq[Long])].collect()
    for ((t, fps) <- got)
      assert(fps == naive(t), s"codegen mismatch on '$t'")
  }

  test("null text yields null; n_windows matches the md5-hash formulation's count") {
    val rows = Seq(Option("abcdefghij"), None).toDF("t")
      .selectExpr(s"graft_winnow(t, $K, $W, $B, $M) AS fps").collect()
    assert(!rows(0).isNullAt(0) && rows(1).isNullAt(0))
    // window COUNT is hash-independent: the rolling entry must agree with
    // winnow_fingerprints' (explode + window filter) count on real docs
    val md5Counts = SparkEntry.queries("winnow_fingerprints")(spark, sf)
      .select("doc_id", "n_windows").as[(Long, Long)].collect().toMap
    val rollCounts = SparkEntry.queries("winnow_rolling")(spark, sf)
      .select("doc_id", "n_windows").as[(Long, Long)].collect().toMap
    assert(rollCounts == md5Counts)
  }

  test("non-string input is rejected at ANALYSIS time, not with a runtime CCE") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(42L).toDF("x").selectExpr(s"graft_winnow(x, $K, $W, $B, $M)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("type"), e.getMessage)
  }

  test("a base large enough to overflow the Long intermediate is a clean error") {
    // (mod-1)*base + maxCodepoint must fit in Long; a huge user-supplied
    // base via the SQL surface must error, never silently wrap
    val bad = intercept[IllegalArgumentException] {
      RollingWinnow(org.apache.spark.sql.catalyst.expressions.Literal.create("abc"),
        K, W, base = Long.MaxValue / 4, mod = M)
    }
    assert(bad.getMessage.contains("fit in a signed 64-bit Long"))
    // and the max legal base still computes fine
    val okBase = Long.MaxValue / (M + 0x110000L)
    val got = RollingWinnow.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("abcdefghij"), K, W, okBase, M)
    assert(got.numElements() == naive("abcdefghij").length)
  }
}
