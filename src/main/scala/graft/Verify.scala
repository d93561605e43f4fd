package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional name filter (args 2..): verify only those queries — the
    // per-change local loop; the driver always calls with two args. A
    // name that matches no query fails here, before any session exists,
    // rather than verifying nothing
    val only = args.drop(2).toSet
    SparkEntry.requireRegistered(only)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Tables.session sets UTC, AQE, and (for older Spark builds) the
    // nanosAsLong read path for the TIMESTAMP(NANOS) events fixture —
    // same conf as tests/Bench.
    val spark = graft.sources.Tables.session(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    // stage the shared snapshot store once before fanning out
    try graft.sources.Snapshots.store(spark, sfDir)
    catch { case _: Throwable => () }
    // run queries on a small thread pool: each result is an independent
    // Spark job and a single small output file, so concurrency just keeps
    // the 32 local cores busy across job boundaries
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val runs = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(runs), Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
