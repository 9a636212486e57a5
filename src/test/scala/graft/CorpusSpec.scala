package graft

import graft.textops.Decontaminate
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  // 10-token docs; doc 100 is "benchmark", doc 2 embeds its first 8 tokens
  private lazy val docs = Seq(
    (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // bench
    (1L, "one two three four five six seven eight nine ten"), // clean
    (2L, "alpha beta gamma delta epsilon zeta eta theta xx yy"), // contaminated
    (3L, "short doc under eight tokens only") // 6 tokens → no spans
  ).toDF("doc_id", "text")

  test("decontaminate flags only docs sharing an 8-gram with the bench shard") {
    val out = Decontaminate.contaminated(docs, isBench = $"doc_id" === 100L, n = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((2L, 1L, 1L))) // one shared 8-gram, one bench doc
  }

  test("bloom-prefiltered decontaminate is exact: equals the plain join, plants found") {
    val out = Decontaminate.contaminatedBloom(docs, isBench = $"doc_id" === 100L, n = 8)
      .as[(Long, Long, Long)].collect().toSet
    // identical to `contaminated` — the planted positive survives the
    // prefilter (no false negatives) and the clean docs are dropped
    assert(out == Set((2L, 1L, 1L)))
    // and the prefilter is actually in the plan (not optimized away)
    val plan = Decontaminate.contaminatedBloom(docs, $"doc_id" === 100L, n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"))
  }

  test("bloom prefilter sits structurally below every shuffle (not just present)") {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = graft.textops.Decontaminate
      .contaminatedBloom(docs, $"doc_id" === 100L, n = 8)
      .queryExecution.executedPlan
    // plan.collect stops at the AQE wrapper — descend into it explicitly
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: flatten(a.executedPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    def hasExchange(p: SparkPlan): Boolean =
      flatten(p).exists(_.isInstanceOf[Exchange])
    val bloomFilters = flatten(plan).collect {
      case f: FilterExec if f.condition.toString.contains("might_contain") => f
    }
    assert(bloomFilters.nonEmpty, "no might_contain filter in the executed plan")
    // the prefilter's subtree must be shuffle-free: it drops rows AT THE
    // SCAN, before any exchange — the whole point of the operator
    bloomFilters.foreach(f =>
      assert(!hasExchange(f.child),
        s"might_contain filter has a shuffle below it:\n${f.child.treeString.take(800)}"))
  }

  test("bloom decontaminate correctness is fpp-independent (sloppy sketch, same rows)") {
    // a 30% false-positive sketch lets junk through the prefilter; the
    // exact confirm join must remove all of it — fpp trades shuffle
    // volume, never correctness
    val sloppy = graft.textops.Decontaminate
      .contaminatedBloom(docs, $"doc_id" === 100L, n = 8, fpp = 0.3)
      .as[(Long, Long, Long)].collect().toSet
    assert(sloppy == Set((2L, 1L, 1L)))
  }

  test("bloom-prefiltered decontaminate equals plain decontaminate on the sf0.001 corpus") {
    val documents = Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Decontaminate.contaminated(documents, $"doc_id" % 10 === 0, n = 8)
    val bloom = Decontaminate.contaminatedBloom(documents, $"doc_id" % 10 === 0, n = 8)
    assert(exact.exceptAll(bloom).count() == 0 && bloom.exceptAll(exact).count() == 0)
  }

  test("persisted bench bloom: round-trip prefilter is exact, grain mismatch rejected") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    try {
      Decontaminate.writeBenchBloom(docs, $"doc_id" === 100L, tmp, n = 8)
      val pre = Decontaminate.readBenchBloomFilter(
        spark, tmp, col("shingle"), n = 8)
      // prefilter + exact confirm reproduces the plain result
      val bench = graft.textops.Dedup.shingles(docs.filter($"doc_id" === 100L), 8)
        .select($"doc_id".as("bench_id"), $"shingle")
      val train = graft.textops.Dedup.shingles(docs.filter($"doc_id" =!= 100L), 8)
        .filter(pre)
      val out = train.join(bench, Seq("shingle"))
        .groupBy($"doc_id")
        .agg(countDistinct($"shingle").as("n_shared"),
          countDistinct($"bench_id").as("n_bench_docs"))
        .as[(Long, Long, Long)].collect().toSet
      assert(out == Set((2L, 1L, 1L)))
      // a sketch built at a different shingle grain must be rejected
      val err = intercept[IllegalArgumentException] {
        Decontaminate.readBenchBloomFilter(spark, tmp, col("shingle"), n = 5)
      }
      assert(err.getMessage.contains("mismatch"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("decontaminate maxDocFreq drops boilerplate n-grams") {
    // shingle shared with BOTH bench docs → df=2 > cap=1 → dropped
    val d2 = Seq(
      (100L, "a b c d e f g h x1 y1"),
      (101L, "a b c d e f g h x2 y2"),
      (1L, "a b c d e f g h z1 z2")
    ).toDF("doc_id", "text")
    val capped = Decontaminate.contaminated(d2, $"doc_id" >= 100L, n = 8, maxDocFreq = 1L)
    assert(capped.count() == 0)
    val uncapped = Decontaminate.contaminated(d2, $"doc_id" >= 100L, n = 8)
    assert(uncapped.count() == 1)
  }

  test("dup-span stats: positional fractions; short docs have no spans") {
    val out = Decontaminate.dupSpanStats(docs, n = 8)
      .select("doc_id", "n_spans", "n_dup_spans", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().toMap2
    assert(!out.contains(3L)) // 6 tokens < 8 → absent
    assert(out(1L) == (3L, 0L, 0.0)) // 10 tokens → 3 spans, none shared
    assert(out(100L)._1 == 3L && out(100L)._2 == 1L) // pos-1 8-gram shared with doc 2
    assert(out(2L) == (3L, 1L, 0.3333))
  }

  test("positional shingles: sequence(1,0) trap — short docs yield zero rows") {
    val one = Seq((1L, "a b c d e f g")).toDF("doc_id", "text") // 7 tokens
    assert(Decontaminate.positionalShingles(one, 8).count() == 0)
    val exact = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text") // 8 tokens
    assert(Decontaminate.positionalShingles(exact, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      == Seq((1L, 1, "a b c d e f g h")))
  }

  test("graft_nfc composes decomposed sequences and passes NFC text through") {
    val out = Seq(("é", "café"), ("ascii", "plain"))
      .toDF("a", "b")
      .select(expr("graft_nfc(a)").as("na"), length(expr("graft_nfc(a)")).as("la"),
        expr("graft_nfc(b)").as("nb"))
      .as[(String, Int, String)].collect().toSet
    assert(out == Set(("é", 1, "café"), ("ascii", 5, "plain")))
  }

  test("char entropy formulation: aabb → 1 bit, abcd → 2 bits") {
    val d = Seq((1L, "aabb"), (2L, "abcd")).toDF("doc_id", "text")
    val got = d
      .select($"doc_id", explode(split($"text", "")).as("c"))
      .filter($"c" =!= "")
      .groupBy($"doc_id", $"c").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n"), sum($"cnt" * log2($"cnt")).as("s"))
      .select($"doc_id", round(log2($"n") - $"s" / $"n", 4).as("h"))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 1.0, 2L -> 2.0))
  }

  test("split('') in Spark yields a trailing empty — the filter is required") {
    val arr = Seq("ab").toDF("t").select(split($"t", "").as("a")).as[Seq[String]].head()
    // pin the engine behavior the char_entropy query compensates for;
    // if a Spark upgrade changes this, the query's filter stays correct
    assert(arr.count(_ == "") <= 1 && arr.filter(_.nonEmpty) == Seq("a", "b"))
  }

  test("span scrubbing: first occurrence survives, copies scrub, partials lose only the span") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // original
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact copy → empty
      (3L, "intro words alpha beta gamma delta epsilon zeta eta theta trailer bits follow here") // embeds the span
    ).toDF("doc_id", "text")
    val out = Decontaminate.scrubDupSpans(d, n = 8)
      .select("doc_id", "n_tokens", "n_kept").as[(Long, Long, Long)].collect().toMap2b
    assert(out(1L) == (10L, 10L)) // canonical intact
    assert(out(2L) == (10L, 0L)) // exact copy fully scrubbed
    // doc 3: 14 tokens; dup 8-grams start at pos 3 (alpha..theta) — kept
    // tokens are those not covered by a dup span start within 7 back
    val kept3 = out(3L)._2
    assert(kept3 > 0 && kept3 < 14) // intro/trailer survive, the span does not
  }

  test("incremental dedup reports only new-vs-store pairs, never new-new") {
    val store = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of store 1
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of 10 AND store 1
      (12L, "totally different words with no overlap at all here now")
    ).toDF("doc_id", "text")
    val pairs = graft.textops.Dedup.incrementalLshPairs(fresh, store, n = 5, minJaccard = 0.7)
      .select("doc_new", "doc_store").as[(Long, Long)].collect().toSet
    // both new dups hit store doc 1; the new-new pair (10, 11) is absent
    assert(pairs == Set((10L, 1L), (11L, 1L)))
  }

  test("persisted-signature incremental dedup: parquet round-trip identical, store text untouched") {
    import graft.textops.Dedup
    val store = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (12L, "totally different words with no overlap at all here now")
    ).toDF("doc_id", "text")
    val sigPath = java.nio.file.Files.createTempDirectory("graft-sigs").toString
    Dedup.writeSignatureTable(store, sigPath)
    // the production path: store side = the persisted table read back
    val persisted = Dedup.incrementalSigPairs(fresh, spark.read.parquet(sigPath))
      .select("doc_new", "doc_store", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // identical to the inline-signature run (the table IS minhashSignatures output)
    val inline = Dedup.incrementalSigPairs(fresh, Dedup.minhashSignatures(store))
      .select("doc_new", "doc_store", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(persisted == inline)
    assert(persisted.map(p => (p._1, p._2)) == Set((10L, 1L)))
    // the exact dup agrees on every component
    assert(persisted.forall(_._3 == 1.0))
    // a store built at another shingle grain would band-join sporadically
    // but estimate ≈ 0 for true dups — the sig_spec tag must make the
    // mismatch a loud error, not silent recall collapse
    val store8 = Dedup.minhashSignatures(store, n = 8)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalSigPairs(fresh, store8, n = 5)
    }
    assert(e.getMessage.contains("mismatch"))
    intercept[IllegalArgumentException] {
      Dedup.incrementalSigPairs(fresh, store8.drop("sig_spec"), n = 8)
    }
  }

  test("curate pipeline invariants: no bench docs, no contaminated, no exact dups") {
    val docs = Tables.documents(spark, sf)
    val isBench = $"doc_id" % 10 === 0
    val out = graft.textops.Curate.curate(docs, isBench, qualityMin = 0.535, n = 8).cache()
    assert(out.count() > 0)
    assert(out.filter($"doc_id" % 10 === 0).count() == 0) // eval shard excluded
    val contaminated = Decontaminate.contaminated(docs, isBench, n = 8).select("doc_id")
    assert(out.join(contaminated, Seq("doc_id")).count() == 0)
    // one survivor per exact-duplicate group among surviving docs
    val withHash = out.join(docs.select($"doc_id", md5(lower(trim($"text"))).as("th")), Seq("doc_id"))
    assert(withHash.groupBy("th").count().filter($"count" > 1).count() == 0)
    assert(out.filter(!$"split".isin("train", "validation", "test")).count() == 0)
    out.unpersist()
  }

  test("curate_neardup: labels materialized once give output identical to per-stage recompute") {
    val full = Tables.documents(spark, sf)
    val isBench = $"doc_id" % 10 === 0
    // the expensive stage, computed ONCE and shared…
    val shared = graft.textops.Dedup.nearDupClusters(full, n = 5, minJaccard = 0.8)
      .localCheckpoint(true)
    val viaShared = graft.textops.Curate.curateNearDup(full, shared, isBench)
    // …must be indistinguishable from recomputing labels at the call site
    val naive = graft.textops.Curate.curateNearDup(
      full, graft.textops.Dedup.nearDupClusters(full, n = 5, minJaccard = 0.8), isBench)
    assert(viaShared.exceptAll(naive).isEmpty && naive.exceptAll(viaShared).isEmpty)
    // and the same shared labels feed keep-best: every curated doc is its
    // cluster's keep-best pick among surviving members (bench/quality cuts
    // applied before the argmax), so kept docs are unique per cluster
    assert(viaShared.groupBy("canonical_id").count().filter($"count" > 1).count() == 0)
    val kb = graft.textops.Dedup.keepBestPerCluster(full, shared)
    assert(kb.count() > 0)
    assert(kb.groupBy("canonical_id").count().filter($"count" > 1).count() == 0)
  }

  test("token budget sample: per-language cumulative tokens never exceed the budget") {
    val out = graft.queries.CorpusQueries.entries.find(_.name == "token_budget_sample").get
      .run(spark, sf)
    val maxCum = out.groupBy("lang").agg(max("cum_tokens").as("m"))
      .select("m").as[Long].collect()
    assert(maxCum.nonEmpty && maxCum.forall(_ <= 3000L))
  }

  test("weighted sample skews toward heavier documents") {
    val out = graft.queries.CorpusQueries.entries.find(_.name == "weighted_sample").get
      .run(spark, "/root/testdata/sf0.01")
    val sampleMean = out.agg(avg($"w")).head.getDouble(0)
    val corpusMean = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(size(expr(graft.textops.TextAnalysis.tokensExpr)).cast("long").as("w"))
      .filter($"w" > 0).agg(avg($"w")).head.getDouble(0)
    // deterministic data + deterministic hash-uniforms → a fixed margin
    // (measured 61.1 vs 54.3); token-proportional draws MUST be heavier
    assert(sampleMean > corpusMean * 1.05,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("persisted vocab round-trips and rejects tokenizer-grain mismatches") {
    val train = Seq((1L, "low low lower lowest")).toDF("doc_id", "text")
    val (merges, seg) = graft.textops.Vocab.bpeTrain(train, nMerges = 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_vocab").toString
    try {
      graft.textops.Vocab.writeVocab(tmp, merges, seg, nMerges = 4)
      val (m2, seg2) = graft.textops.Vocab.readVocab(spark, tmp, nMerges = 4)
      assert(m2.count() == merges.size)
      // encode with the read-back seg ≡ encode with the in-memory seg
      val docs = Seq((9L, "lower low unseen")).toDF("doc_id", "text")
      val a = graft.textops.Vocab.encode(docs, seg).collect().toSeq
      val b = graft.textops.Vocab.encode(docs, seg2.select("w", "sym")).collect().toSeq
      assert(a == b)
      // a different tokenizer grain must be rejected loudly
      val err = intercept[IllegalArgumentException] {
        graft.textops.Vocab.readVocab(spark, tmp, nMerges = 8)
      }
      assert(err.getMessage.contains("mismatch"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
  }

  // ---- BPE vocabulary induction ----

  /** independent local reference trainer (greedy left-to-right merge,
    * (cnt desc, pair asc) tiebreak — the distributed trainer's contract) */
  private def localBpe(docs: Seq[String], nMerges: Int): Seq[(Int, String, String, Long)] = {
    val words = docs.flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.nonEmpty)
    val freq = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    var seg: Map[String, Vector[String]] = freq.keys.map(w => w -> w.map(_.toString).toVector).toMap
    def mergeOne(sym: Vector[String], a: String, b: String): Vector[String] = {
      val buf = Vector.newBuilder[String]; var i = 0
      while (i < sym.length) {
        if (i < sym.length - 1 && sym(i) == a && sym(i + 1) == b) { buf += (a + b); i += 2 }
        else { buf += sym(i); i += 1 }
      }
      buf.result()
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var stop = false
    while (rank <= nMerges && !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, sym) <- seg; i <- 0 until sym.length - 1)
        counts((sym(i), sym(i + 1))) = counts.getOrElse((sym(i), sym(i + 1)), 0L) + freq(w)
      if (counts.isEmpty) stop = true
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, s"$x $y") }
        out += ((rank, a, b, c))
        seg = seg.map { case (w, sym) => w -> mergeOne(sym, a, b) }
        rank += 1
      }
    }
    out.toSeq
  }

  test("bpe trainer matches the local reference on the classic corpus") {
    val corpus = Seq(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest")
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (merges, seg) = graft.textops.Vocab.bpeTrain(df, nMerges = 10)
    assert(merges == localBpe(corpus, 10))
    // classic result: 'est' and 'low' emerge as units within 10 merges
    val units = seg.select(explode($"sym")).as[String].collect().toSet
    assert(units.contains("est") || units.contains("newest"))
  }

  test("bpe merge is greedy left-to-right: aaa under (a,a) -> [aa, a]") {
    val df = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val (merges, seg) = graft.textops.Vocab.bpeTrain(df, nMerges = 1)
    assert(merges.head._2 == "a" && merges.head._3 == "a")
    // weight: 2 occurrences of 'aaa', each with TWO overlapping (a,a)
    // positions counted pre-merge → cnt = 4
    assert(merges.head._4 == 4L)
    val sym = seg.select($"sym").as[Seq[String]].collect().head
    assert(sym == Seq("aa", "a"))
  }

  test("bpe trainer matches the local reference on mixed real-ish text") {
    val corpus = Seq(
      "the cat sat on the mat",
      "the dog sat on the log",
      "a cat and a dog and a rat",
      "rats and cats and dogs sat")
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (merges, _) = graft.textops.Vocab.bpeTrain(df, nMerges = 12)
    assert(merges == localBpe(corpus, 12))
  }

  test("bpe encode: segmentations reconstruct words; OOV falls back to chars") {
    val train = Seq((1L, "lower lower lowest low low low")).toDF("doc_id", "text")
    val (_, seg) = graft.textops.Vocab.bpeTrain(train, nMerges = 6)
    // invariant of any merge sequence: concatenating a word's subwords
    // yields the word
    val broken = seg.filter(concat_ws("", $"sym") =!= $"w").count()
    assert(broken == 0)
    // encode a doc with one in-vocab word and one OOV word
    val docs = Seq((7L, "lower zzzq")).toDF("doc_id", "text")
    val out = graft.textops.Vocab.encode(docs, seg)
      .select("doc_id", "n_words", "n_subwords")
      .as[(Long, Long, Long)].collect().head
    assert(out._2 == 2L)
    val lowerSubs = seg.filter($"w" === "lower").select(size($"sym")).as[Int].collect().head
    assert(out._3 == lowerSubs + 4L) // OOV 'zzzq' → 4 single chars
  }

  test("bpe fixedSeg: greedy repeat-adjacent merges and subword_fp content") {
    // 'eeee' under merge (e,e) must segment [ee, ee]; 'eee' → [ee, e]
    // (the single-pass greedy semantics the oracle's boundary-wrapped
    // replace reproduces); (t,h) then (th,e) tests hierarchical merges
    val docs = Seq((1L, "the eeee eee thth")).toDF("doc_id", "text")
    val merges = Seq("t" -> "h", "th" -> "e", "e" -> "e")
    val seg = graft.textops.Vocab.fixedSeg(docs, merges)
    val bySym = seg.select($"w", $"sym").as[(String, Seq[String])].collect().toMap
    assert(bySym("the") == Seq("the"))
    assert(bySym("eeee") == Seq("ee", "ee"))
    assert(bySym("eee") == Seq("ee", "e"))
    assert(bySym("thth") == Seq("th", "th"))
    // fp = md5 of the position-ordered space-joined subword stream
    val out = graft.textops.Vocab.encode(docs, seg)
      .select("n_words", "n_subwords", "subword_fp")
      .as[(Long, Long, String)].collect().head
    assert(out._1 == 4L && out._2 == 7L)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("the ee ee ee e th th".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out._3 == expected)
  }

  implicit private class MapOps(rows: Array[(Long, Long, Long, Double)]) {
    def toMap2: Map[Long, (Long, Long, Double)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }
  implicit private class MapOpsB(rows: Array[(Long, Long, Long)]) {
    def toMap2b: Map[Long, (Long, Long)] =
      rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}
