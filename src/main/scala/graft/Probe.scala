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
  *    (PushedFilters, BroadcastHashJoin, WholeStageCodegen spans, shuffles);
  *  - `compiles`: runs the queries (`all`: every registered query, in name
  *    order) in three laps and counts the classes Spark's code generator
  *    compiles per query and lap (`COMPILES <query> <lap1> <lap2> <lap3>`),
  *    then prints each lap's total and wall time, and heap and Metaspace in
  *    use after the laps. A warm lap that compiles is a lap whose classes
  *    did not stay in the generated-code cache, or a plan whose source
  *    differs from run to run.
  *
  * Usage: runMain graft.Probe <time|count|jobs|explain|compiles> <sfDir> <query...>
  *
  * The session has `SPARK_GRAFT_CPUS` local cores (default 32), and the
  * shared snapshot store is staged once before the first query. Timings
  * of a query's first run include JVM warm-up: name it twice and read the
  * second line.
  */
object Probe {
  private val usage =
    "usage: Probe <time|count|jobs|explain|compiles> <sfDir> <query...>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val (mode, sfDir) = (args(0), args(1))
    require(Set("time", "count", "jobs", "explain", "compiles")(mode), usage)
    val names =
      if (mode == "compiles" && args.drop(2).toSeq == Seq("all"))
        SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
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
        case "compiles" => compiles(spark, names, build)
      }
    } finally spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def compiles(spark: SparkSession, names: Seq[String],
                       build: String => DataFrame): Unit = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import scala.jdk.CollectionConverters._
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    val laps = 3
    println(s"CACHE ${spark.conf.get("spark.sql.codegen.cache.maxEntries")} entries")
    val counts = names.map(n => n -> new Array[Long](laps)).toMap
    val walls = (0 until laps).map { lap =>
      val t0 = System.nanoTime()
      names.foreach { n =>
        val c0 = compiled.getCount
        try noop(build(n))
        catch { case e: Throwable => println(s"FAILED $n lap ${lap + 1}: $e") }
        counts(n)(lap) = compiled.getCount - c0
      }
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach(n => println(s"COMPILES $n ${counts(n).mkString(" ")}"))
    walls.zipWithIndex.foreach { case (w, lap) =>
      println(f"LAP ${lap + 1} ${counts.values.map(_(lap)).sum} classes $w%.1f s")
    }
    println(s"STILL_COMPILING ${names.count(n => counts(n)(laps - 1) > 0)} queries on lap $laps")
    System.gc()
    import java.lang.management.ManagementFactory
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val metaspace = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").map(_.getUsage.getUsed).getOrElse(0L)
    println(f"HEAP ${heap / 1048576.0}%.1f MB METASPACE ${metaspace / 1048576.0}%.1f MB")
  }

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
