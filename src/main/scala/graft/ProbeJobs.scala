package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round probe: runs one registered query (twice — the
  * second run is the measured one) and prints every Spark JOB's wall
  * time, so a query built from eager constituents (localCheckpoints,
  * staged stores, fixpoints) can be broken down job by job instead of
  * guessed at. Usage: runMain graft.ProbeJobs <sfDir> <query> [query...]
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = sources.Tables.session(s"local[$cpus]", cpus)
    try graft.sources.Snapshots.store(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    @volatile var capture = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (capture) starts.put(js.jobId, (System.nanoTime(),
          Option(js.properties)
            .map(_.getProperty("spark.job.description", "")).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null)
          println(f"JOB ${je.jobId}%4d ${(System.nanoTime() - s._1) / 1e9}%7.2f s  ${s._2.take(90)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(s"===== $n (measured run) =====")
      capture = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"TOTAL $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      capture = false
    }
    spark.stop()
  }
}
