package graft

/** Plan-audit tool: prints the formatted physical plan of selected queries
  * so scale posture (PushedFilters, BroadcastHashJoin, WholeStageCodegen
  * spans, shuffle count) can be reviewed per round.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
    else Seq("ticker_series_raw", "pair_scan", "dedup_near_lsh", "ann_topk")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = sources.Tables.session(s"local[$cpus]", cpus)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
