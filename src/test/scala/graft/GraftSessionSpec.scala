package graft

/** GraftSession's sizing rule as a pure function of an environment map,
  * plus one live check that the factory's session carries the engine's
  * functions and rules without any per-query registration.
  */
class GraftSessionSpec extends SparkSpec {
  private def resolve(env: (String, String)*) =
    GraftSession.resolve(env.toMap, processors = 7)

  test("unset: N = available processors, partitions = N, UTC, UI off") {
    val s = resolve()
    assert(s.master == "local[7]" && s.cpus == 7 && s.shufflePartitions == 7)
    assert(s.conf("spark.master") == "local[7]")
    assert(s.conf("spark.sql.shuffle.partitions") == "7")
    assert(s.conf("spark.sql.session.timeZone") == "UTC")
    assert(s.conf("spark.ui.enabled") == "false")
    assert(!s.conf.contains("spark.executor.memory"))
    assert(!s.conf.contains("spark.sql.adaptive.enabled"), "AQE stays at Spark's default")
    assert(GraftSession.resolve(Map.empty).cpus == Runtime.getRuntime.availableProcessors)
  }

  test("SPARK_GRAFT_CPUS alone sizes both the master and the partitions") {
    val s = resolve("SPARK_GRAFT_CPUS" -> "3")
    assert(s.master == "local[3]" && s.shufflePartitions == 3)
  }

  test("SPARK_GRAFT_SHUFFLE_PARTITIONS alone leaves the master at N") {
    val s = resolve("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "128")
    assert(s.master == "local[7]" && s.shufflePartitions == 128)
    assert(s.conf("spark.sql.shuffle.partitions") == "128")
  }

  test("SPARK_GRAFT_MASTER alone replaces local[N]; partitions stay N") {
    val s = resolve("SPARK_GRAFT_MASTER" -> "local[2]")
    assert(s.master == "local[2]" && s.shufflePartitions == 7)
  }

  test("a local-cluster master adds the executor classpath and memory") {
    val s = resolve("SPARK_GRAFT_MASTER" -> "local-cluster[2,8,4096]")
    assert(s.conf("spark.executor.extraClassPath") == sys.props("java.class.path"))
    assert(s.conf("spark.executor.memory") == "3g")
    val m = resolve("SPARK_GRAFT_MASTER" -> "local-cluster[2,8,4096]",
      "SPARK_GRAFT_EXECUTOR_MEM" -> "5g")
    assert(m.conf("spark.executor.memory") == "5g")
  }

  test("explicit values are pinned: the environment cannot override them") {
    val s = GraftSession.resolve(
      Map("SPARK_GRAFT_MASTER" -> "local[2]", "SPARK_GRAFT_CPUS" -> "3",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "64"),
      master = Some("local[4, 2]"), shufflePartitions = Some(4), processors = 7)
    assert(s.master == "local[4, 2]" && s.shufflePartitions == 4)
  }

  test("0 and 'four' are rejected, naming the variable and the value") {
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS");
         bad <- Seq("0", "four")) {
      val e = intercept[IllegalArgumentException](resolve(name -> bad))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }

  test("the factory's session resolves every graft_* function with no registration call") {
    Seq("graft_dot", "graft_lsh_keys", "graft_nfc", "graft_might_contain",
      "graft_jaro_winkler", "graft_winnow", "graft_lsh_sig",
      "graft_lsh_first_agree", "graft_barrier").foreach { f =>
      assert(spark.catalog.functionExists(f), s"$f is not registered")
    }
    assert(spark.sql("SELECT graft_dot(array(1L, 2L), array(3L, 4L))").head().getLong(0) == 11L)
  }
}
