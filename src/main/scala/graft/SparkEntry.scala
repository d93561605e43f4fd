package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7).
  *
  * Each functional module lists one [[QuerySpec]] per query; this object
  * names each module once and is the single aggregation point the driver
  * introspects.
  */
object SparkEntry {
  /** Flagship query on the sf0.001 fixture; callers smoke-check rows > 0.
    *
    * It sets the read confs it needs on the caller's session, but not the
    * filesystem: a session built without `Tables.session` keeps Hadoop's
    * own `file:` filesystem, which without libhadoop starts a
    * `chmod`/`readlink` process per local file it creates or renames.
    * Setting the fork-free one here would do nothing once anything has
    * touched `file:`, because Hadoop's `FileSystem` cache keeps the
    * instance it made first. Build the session with `Tables.session` to
    * get the fork-free filesystem. */
  def entry(spark: SparkSession): DataFrame = {
    // the driver may hand us a session built without Tables.session's
    // confs. events.parquet is TIMESTAMP(NANOS): older Spark 4.x builds
    // need nanosAsLong to read it at all (inert where the conf was
    // dropped), and the current NTZ read path needs a pinned UTC session
    // for a deterministic epoch derivation (Tables.events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    analytics.AnalyticsQueries.queries("ticker_series_raw")(
      spark, "/root/testdata/sf0.001")
  }

  /** Every module that registers queries, each listed once; [[queries]]
    * and [[oracleSql]] are views of their specs. */
  private[graft] def modules: Seq[QueryModule] = Seq(
    analytics.AnalyticsQueries, analytics.WindowStats,
    analytics.EventAnalytics, text.Vocab, text.LmStore,
    relational.RelationalQueries, scanner.PairScan, ledger.Ledger,
    text.TextOps, text.BpeMerges, text.TokenIdStore, text.NearDup,
    text.Curation, text.Boilerplate, text.SpanDedup,
    operators.TemporalJoins, plans.PlanQueries, ann.Similarity,
    multimodal.Multimodal, sinks.SinkQueries, schema.SchemaQueries)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.specs.map(s => s.name -> s.oracle)).toMap

  /** Fails, listing them, if any of `names` is not a registered query. */
  private[graft] def requireRegistered(names: Iterable[String]): Unit = {
    val registered = queries.keySet
    val unknown = names.filterNot(registered).toSeq.distinct.sorted
    require(unknown.isEmpty,
      s"not registered queries: ${unknown.mkString(", ")}")
  }
}
