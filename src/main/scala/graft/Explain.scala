package graft

/** Plan-audit tool: prints formatted physical plans for representative
  * queries so scan pruning (ReadSchema/PushedFilters), join strategies
  * (BroadcastHashJoin), and WholeStageCodegen spans can be inspected.
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
    else Seq("etl_pipeline", "join_agg_revenue", "time_range_topk",
      "ann_lsh_topk", "dedup_minhash_lsh", "bollinger")
    val spark = GraftSession("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n=================== $n ===================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
