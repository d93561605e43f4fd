package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query probes on one session, for scale diagnosis:
  *  - `time`: wall time of a `noop` write (`TIME <query> <s> s`);
  *  - `count`: result cardinality — is a slow query compute-bound or
  *    output-bound? (`COUNT <query> <rows>`);
  *  - `jobs`: runs the query twice and prints each Spark job's wall time on
  *    the second, measured run (`JOB` lines, then `TOTAL`), so a query
  *    built from eager constituents (localCheckpoints, staged stores,
  *    fixpoints) is broken down job by job;
  *  - `explain`: the formatted physical plan under a `=====` banner
  *    (PushedFilters, BroadcastHashJoin, WholeStageCodegen spans, shuffles).
  *
  * Usage: runMain graft.Probe <time|count|jobs|explain> <sfDir> <query...>
  *
  * The session has `SPARK_GRAFT_CPUS` local cores (default 32), and the
  * shared snapshot store is staged once before the first query. Timings
  * of a query's first run include JVM warm-up: name it twice and read the
  * second line.
  */
object Probe {
  private val usage = "usage: Probe <time|count|jobs|explain> <sfDir> <query...>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val (mode, sfDir, names) = (args(0), args(1), args.drop(2).toSeq)
    require(Set("time", "count", "jobs", "explain")(mode), usage)
    SparkEntry.requireRegistered(names)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = sources.Tables.session(s"local[$cpus]", cpus)
    try {
      try noop(sources.Snapshots.store(spark, sfDir))
      catch { case _: Throwable => () }
      val queries = SparkEntry.queries
      val build = (n: String) => queries(n)(spark, sfDir)
      mode match {
        case "time" => names.foreach { n =>
          val t0 = System.nanoTime()
          noop(build(n))
          println(f"TIME $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        case "count" =>
          names.foreach(n => println(s"COUNT $n ${build(n).count()}"))
        case "jobs" => jobs(spark, names, build)
        case "explain" => names.foreach { n =>
          println(s"\n========== $n ==========")
          build(n).explain("formatted")
        }
      }
    } finally spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def jobs(spark: SparkSession, names: Seq[String],
                   build: String => DataFrame): Unit = {
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    @volatile var capture = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (capture) starts.put(js.jobId, (System.nanoTime(),
          Option(js.properties)
            .map(_.getProperty("spark.job.description", "")).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null)
          println(f"JOB ${je.jobId}%4d ${(System.nanoTime() - s._1) / 1e9}%7.2f s  ${s._2.take(90)}")
      }
    })
    names.foreach { n =>
      noop(build(n))
      println(s"===== $n (measured run) =====")
      capture = true
      val t0 = System.nanoTime()
      noop(build(n))
      println(f"TOTAL $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      capture = false
    }
  }
}
