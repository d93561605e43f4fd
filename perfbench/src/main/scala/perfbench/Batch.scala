package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft._

/** The closed-loop batch workloads: one client runs registered queries one
  * after another, each forced through a `noop` sink as `graft.Bench` does. */
object Batch {
  type Q = (SparkSession, String) => DataFrame

  /** Every query module, by the registries it owns. */
  def modules: Seq[(String, Map[String, Q])] = Seq(
    "analytics" -> (analytics.AnalyticsQueries.queries ++
      analytics.WindowStats.queries ++ analytics.EventAnalytics.queries),
    "relational" -> relational.RelationalQueries.queries,
    "scanner" -> scanner.PairScan.queries,
    "ledger" -> ledger.Ledger.queries,
    "operators" -> operators.TemporalJoins.queries,
    "plans" -> plans.PlanQueries.queries,
    "sinks" -> sinks.SinkQueries.queries,
    "schema" -> schema.SchemaQueries.queries,
    "text" -> (text.Vocab.queries ++ text.LmStore.queries ++ text.TextOps.queries ++
      text.BpeMerges.queries ++ text.TokenIdStore.queries ++ text.NearDup.queries ++
      text.Curation.queries ++ text.Boilerplate.queries ++ text.SpanDedup.queries),
    "ann" -> ann.Similarity.queries,
    "multimodal" -> multimodal.Multimodal.queries)

  /** The measured set, a stratified sample of the 221 registered queries:
    * module M with n queries gives k = max(1, round(0.03 n)) of them, at
    * the evenly spaced ranks (i + 0.5) n / k of its queries sorted by warm
    * time (graft.Bench on 4 cores, market modules at sf 0.01 and corpus
    * modules at sf 0.1, the scales of [[Main]]). Each module's sample thus
    * spans its spread of query costs; perfbench/README.md gives each
    * sample's share of its module's lap. */
  val Measured: Seq[(String, String)] = Seq(
    "analytics" -> "retention_window",
    "relational" -> "recent_analysis",
    "scanner" -> "pair_scan",
    "ledger" -> "fill_avg",
    "operators" -> "range_join_bucketed",
    "plans" -> "salted_join",
    "sinks" -> "merge_view_asof",
    "schema" -> "ticket_rollup",
    "text" -> "dedup_exact",
    "text" -> "pack_efficiency",
    "text" -> "lsh_recall",
    "ann" -> "ann_recall",
    "multimodal" -> "media_retro")

  /** Resolves [[Measured]] through the registries; a missing name fails. */
  def measured: Seq[(String, String, Q)] = {
    val byModule = modules.toMap
    Measured.map { case (m, n) =>
      (m, n, byModule(m).getOrElse(n,
        throw new NoSuchElementException(s"query $n is not registered in module $m")))
    }
  }

  /** Order-insensitive result checksum: row count and the exact sum of each
    * row's xxhash64 over all columns (maps hashed as sorted entry arrays,
    * which `xxhash64` cannot take directly). */
  def checksum(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  case class Op(module: String, name: String, lap: Int, latS: Double, ok: Boolean)

  /** Runs one query through the noop sink; returns its latency, s. The
    * build span covers any Spark jobs the query runs while it is built. */
  def timed(spark: SparkSession, dir: String, module: String, name: String, fn: Q,
            trace: Option[Trace]): Double = {
    val t0 = System.nanoTime()
    val df = Trace.span(trace, name, module, "build")(fn(spark, dir))
    Trace.span(trace, name, module, "exec")(
      df.write.format("noop").mode("overwrite").save())
    (System.nanoTime() - t0) / 1e9
  }

  /** `n` measured laps over `qs` in the given order. A query that throws
    * counts as a failed operation and keeps its place in later laps. */
  def laps(spark: SparkSession, dir: String, qs: Seq[(String, String, Q)], n: Int,
           trace: Option[Trace]): Seq[Op] =
    for (lap <- 0 until n; (module, name, fn) <- qs) yield
      try Op(module, name, lap, timed(spark, dir, module, name, fn, trace), ok = true)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          Op(module, name, lap, 0.0, ok = false)
      }
}
