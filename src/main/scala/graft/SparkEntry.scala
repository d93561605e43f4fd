package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each functional module contributes a (queries, oracle) registry pair;
  * this object is the single aggregation point the driver introspects.
  */
object SparkEntry {
  private[graft] type Query = (SparkSession, String) => DataFrame

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

  /** Each functional module's (queries, oracle) registry pair, listed
    * once; [[queries]] and [[oracleSql]] are their unions. */
  private[graft] def modules: Seq[(Map[String, Query], Map[String, String])] =
    Seq(
      analytics.AnalyticsQueries.queries -> analytics.AnalyticsQueries.oracle,
      analytics.WindowStats.queries -> analytics.WindowStats.oracle,
      analytics.EventAnalytics.queries -> analytics.EventAnalytics.oracle,
      text.Vocab.queries -> text.Vocab.oracle,
      text.LmStore.queries -> text.LmStore.oracle,
      relational.RelationalQueries.queries -> relational.RelationalQueries.oracle,
      scanner.PairScan.queries -> scanner.PairScan.oracle,
      ledger.Ledger.queries -> ledger.Ledger.oracle,
      text.TextOps.queries -> text.TextOps.oracle,
      text.BpeMerges.queries -> text.BpeMerges.oracle,
      text.TokenIdStore.queries -> text.TokenIdStore.oracle,
      text.NearDup.queries -> text.NearDup.oracle,
      text.Curation.queries -> text.Curation.oracle,
      text.Boilerplate.queries -> text.Boilerplate.oracle,
      text.SpanDedup.queries -> text.SpanDedup.oracle,
      operators.TemporalJoins.queries -> operators.TemporalJoins.oracle,
      plans.PlanQueries.queries -> plans.PlanQueries.oracle,
      ann.Similarity.queries -> ann.Similarity.oracle,
      multimodal.Multimodal.queries -> multimodal.Multimodal.oracle,
      sinks.SinkQueries.queries -> sinks.SinkQueries.oracle,
      schema.SchemaQueries.queries -> schema.SchemaQueries.oracle)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.map(_._2).reduce(_ ++ _)
}
