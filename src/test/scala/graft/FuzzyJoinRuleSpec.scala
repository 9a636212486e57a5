package graft

import org.apache.spark.sql.functions._

/** FuzzyJoinRewrite: the naive `levenshtein(a, b) <= d` inner join must
  * produce identical PAIR MULTISETS through the segment-blocked rewrite,
  * with no cartesian/nested-loop in the plan — across long strings
  * (gram guarantee), short strings (length-key path), duplicates
  * (multiplicity), and nulls/empties.
  */
class FuzzyJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select($"l_id", $"r_id").as[(Long, Long)].collect().toSeq.sorted

  private def localLev(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  // mixed corpus: long names (gram path), short codes (length-key path),
  // a duplicate right row (pair multiplicity), an empty and a null
  private val leftRows = Seq(
    (1L, "acme-corporation"), (2L, "zenith-labs-inc"), (3L, "ab"),
    (4L, "abc"), (5L, ""), (6L, null.asInstanceOf[String]), (7L, "acme-corporatXon"))
  private val rightRows = Seq(
    (10L, "acme-corporation"), (11L, "zenith-labs-ink"), (12L, "ax"),
    (13L, "abd"), (14L, "a"), (15L, "acme-corporation"), (16L, "zz-unrelated-name"))

  private def bruteForce(d: Int): Seq[(Long, Long)] =
    (for {
      (li, ls) <- leftRows if ls != null
      (ri, rs) <- rightRows if rs != null
      if localLev(ls, rs) <= d
    } yield (li, ri)).sorted

  test("rewritten fuzzy join equals brute force (pairs AND multiplicity), no cartesian") {
    val l = leftRows.toDF("l_id", "l_name")
    val r = rightRows.toDF("r_id", "r_name")
    val joined = l.join(r, levenshtein($"l_name", $"r_name") <= 2)
    assert(pairs(joined) == bruteForce(2))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.linesIterator.take(25).mkString("\n"))
    assert(plan.contains("_graft_gk_l"), "rewrite did not fire")
  }

  test("kill switch restores the naive plan") {
    spark.conf.set("spark.graft.fuzzyJoin.enabled", "false")
    try {
      val l = leftRows.toDF("l_id", "l_name")
      val r = rightRows.toDF("r_id", "r_name")
      val joined = l.join(r, levenshtein($"l_name", $"r_name") <= 2)
      assert(pairs(joined) == bruteForce(2)) // same rows, naive plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"))
    } finally spark.conf.set("spark.graft.fuzzyJoin.enabled", "true")
  }

  test("joins with an existing equi-conjunct are left alone") {
    val l = leftRows.toDF("l_id", "l_name").withColumn("k", $"l_id" % 3)
    val r = rightRows.toDF("r_id", "r_name").withColumn("k", $"r_id" % 3)
    val joined = l.join(r, l("k") === r("k") && levenshtein($"l_name", $"r_name") <= 2)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("_graft_gk_l"), "rule should not fire over an equi join")
    joined.count() // and it still executes
  }

  test("outer/anti fuzzy joins are skipped (explosion would break the preserved side)") {
    val l = leftRows.toDF("l_id", "l_name")
    val r = rightRows.toDF("r_id", "r_name")
    val outer = l.join(r, levenshtein($"l_name", $"r_name") <= 2, "left_outer")
    assert(!outer.queryExecution.executedPlan.toString.contains("_graft_gk_l"))
    // left-outer semantics intact: every left row appears; null rows pad
    assert(outer.count() >= leftRows.size - 1)
    val anti = l.join(r, levenshtein($"l_name", $"r_name") <= 2, "left_anti")
    assert(!anti.queryExecution.executedPlan.toString.contains("_graft_gk_l"))
    // anti keeps exactly the unmatched left instances (null/empty rows
    // have a null/false condition against every right row → kept)
    val gotAnti = anti.select($"l_id").as[Long].collect().toSeq.sorted
    val matched = bruteForce(2).map(_._1).toSet
    assert(gotAnti == leftRows.map(_._1).filterNot(matched).sorted)
  }

  test("left-semi rewrites through collapse-match-expand, preserving instance multiplicity") {
    // duplicate a matching left INSTANCE: semi must return it twice
    val lRows = leftRows ++ Seq((1L, "acme-corporation"))
    val l = lRows.toDF("l_id", "l_name")
    val r = rightRows.toDF("r_id", "r_name")
    val joined = l.join(r, levenshtein($"l_name", $"r_name") <= 2, "left_semi")
    val got = joined.select($"l_id").as[Long].collect().toSeq.sorted
    val want = (for {
      (li, ls) <- lRows if ls != null
      if rightRows.exists { case (_, rs) => rs != null && localLev(ls, rs) <= 2 }
    } yield li).sorted
    assert(got == want)
    assert(got.count(_ == 1L) == 2, "duplicate left instance must survive the semi twice")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.linesIterator.take(25).mkString("\n"))
    assert(plan.contains("_graft_gk_l"), "semi rewrite did not fire")
  }

  test("strict and flipped orientations rewrite too") {
    val l = leftRows.toDF("l_id", "l_name")
    val r = rightRows.toDF("r_id", "r_name")
    val strict = l.join(r, levenshtein($"l_name", $"r_name") < 3)
    assert(pairs(strict) == bruteForce(2))
    assert(strict.queryExecution.executedPlan.toString.contains("_graft_gk_l"))
    val flipped = l.join(r, lit(2) >= levenshtein($"l_name", $"r_name"))
    assert(pairs(flipped) == bruteForce(2))
    assert(flipped.queryExecution.executedPlan.toString.contains("_graft_gk_l"))
  }

  test("property: rewrite equals brute force for random mixed-length corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val alpha = Gen.oneOf('a', 'b', 'c')
    val genStr = Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, alpha).map(_.mkString))
    val gen = for {
      ls <- Gen.listOfN(8, genStr)
      rs <- Gen.listOfN(8, genStr)
      d <- Gen.choose(0, 3)
    } yield (ls, rs, d)
    val prop = Prop.forAll(gen) { case (ls, rs, d) =>
      val l = ls.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("l_id", "l_name")
      val r = rs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("r_id", "r_name")
      val got = pairs(l.join(r, levenshtein($"l_name", $"r_name") <= d))
      val want = (for {
        (a, li) <- ls.zipWithIndex; (b, ri) <- rs.zipWithIndex
        if localLev(a, b) <= d
      } yield (li.toLong, ri.toLong)).sorted
      val gotSemi = l.join(r, levenshtein($"l_name", $"r_name") <= d, "left_semi")
        .select($"l_id").as[Long].collect().toSeq.sorted
      val wantSemi = want.map(_._1).distinct.sorted
      got == want && gotSemi == wantSemi
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10).withWorkers(1), prop)
    assert(result.passed, result.status.toString)
  }

  test("bounded levenshtein: only `>= 0` is read; `<= d` keeps every pair") {
    // levenshtein(a, b, t) returns -1 above t, so `<= 2` holds for EVERY
    // non-null pair and is no distance bound; `>= 0` is one
    val l = Seq((1L, "acme"), (2L, "zenith"), (3L, "ab")).toDF("l_id", "l_name")
    val r = Seq((10L, "acme"), (11L, "qqqqqqqqqq"), (12L, "b")).toDF("r_id", "r_name")
    def both(f: => org.apache.spark.sql.DataFrame): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
      val on = pairs(f)
      spark.conf.set("spark.graft.fuzzyJoin.enabled", "false")
      try (on, pairs(f)) finally spark.conf.set("spark.graft.fuzzyJoin.enabled", "true")
    }
    val (onAll, offAll) = both(l.join(r, levenshtein($"l_name", $"r_name", 2) <= 2))
    assert(onAll == offAll && onAll.size == 9, onAll)
    val (onNear, offNear) = both(l.join(r, levenshtein($"l_name", $"r_name", 2) >= 0))
    assert(onNear == offNear && onNear == Seq((1L, 10L), (3L, 12L)), onNear)
    assert(l.join(r, levenshtein($"l_name", $"r_name", 2) >= 0)
      .queryExecution.executedPlan.toString.contains("_graft_gk_l"), "bounded >= 0 not rewritten")
  }

  test("a malformed enabled flag fails naming the key") {
    spark.conf.set("spark.graft.fuzzyJoin.enabled", "yes")
    try {
      val l = leftRows.toDF("l_id", "l_name")
      val r = rightRows.toDF("r_id", "r_name")
      val e = intercept[IllegalArgumentException] {
        l.join(r, levenshtein($"l_name", $"r_name") <= 2).queryExecution.optimizedPlan
      }
      assert(e.getMessage.contains("spark.graft.fuzzyJoin.enabled") && e.getMessage.contains("yes"),
        e.getMessage)
    } finally spark.conf.set("spark.graft.fuzzyJoin.enabled", "true")
  }

  test("property: scoredCandidates equals brute-force all pairs with lev <= d") {
    // the operator states the bounded predicate and the rule blocks it;
    // a deliberately TINY alphabet (the saturated regime segment keys
    // were chosen for) and lengths across the short/long boundary
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.operators.FuzzyJoin
    val alpha = Gen.oneOf('a', 'b', 'c')
    val genStr = Gen.choose(0, 16).flatMap(n => Gen.listOfN(n, alpha).map(_.mkString))
    val gen = for {
      ls <- Gen.listOfN(10, genStr)
      rs <- Gen.listOfN(10, genStr)
      d <- Gen.choose(0, 3)
    } yield (ls, rs, d)
    val prop = Prop.forAll(gen) { case (ls, rs, d) =>
      val l = ls.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("l_id", "l_name")
      val r = rs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("r_id", "r_name")
      val got = FuzzyJoin
        .scoredCandidates(l, "l_id", "l_name", r, "r_id", "r_name", maxDist = d)
        .select($"l_id", $"r_id", $"dist").as[(Long, Long, Int)]
        .collect().toSeq.sorted
      val want = (for {
        (a, li) <- ls.zipWithIndex; (b, ri) <- rs.zipWithIndex
        dist = localLev(a, b) if dist <= d
      } yield (li.toLong, ri.toLong, dist)).sorted
      got == want
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10).withWorkers(1), prop)
    assert(result.passed, result.status.toString)
  }
}
