package graft

object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = sources.Tables.session(s"local[$cpus]", cpus)
    try graft.sources.Snapshots.store(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    names.foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"TIME $n ${(System.nanoTime()-t0)/1e9}%.2f s")
    }
    spark.stop()
  }
}
