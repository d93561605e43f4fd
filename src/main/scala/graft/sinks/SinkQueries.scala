package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.{Staging, Tables}

/** Oracle-checkable batch twins of the sink/streaming operators (S7, ST8,
  * F18) — the write-side semantics exercised end-to-end and read back as
  * ordinary queries, so the DuckDB oracle can verify them from the same
  * fixture.
  *
  * `merge_view` is the read-side of UPDATE (last-write-wins over an append
  * log, ref `database/influx/client.py:397-467` last() semantics);
  * `sink_roundtrip` drives the full append → append → compact cycle of
  * `RelationalSink` (ref UPDATE `database/postgres/client.py:409-458`)
  * against a staged store and reads the compacted state back;
  * `ingest_stamps` is F18's stage-boundary timing enrichment
  * (`virginia/coordinator.py:271,311-315`) with a pinned batch clock.
  */
object SinkQueries extends QueryModule {
  /** Deterministic ticket append-log derived from events: one v1 "pending"
    * row per sampled event, one v2 "filled" update for every second one. */
  private def baseLog(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_id") % 20 === 0)
      .select(col("event_id").as("trade_id"),
        lit("pending").as("status"),
        col("value").as("price"),
        lit(1L).as("version"))

  private def updateLog(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_id") % 40 === 0)
      .select(col("event_id").as("trade_id"),
        lit("filled").as("status"),
        (col("value") + 1).as("price"),
        lit(2L).as("version"))

  /** ST8: LWW merge view over the in-memory union of the two log slices —
    * exercises `RelationalSink.mergeView` (one max_by hash aggregate). */
  def mergeViewQuery(spark: SparkSession, dir: String): DataFrame =
    RelationalSink.mergeView(
      baseLog(spark, dir).unionByName(updateLog(spark, dir)),
      keyCols = Seq("trade_id"), versionCol = "version")
      .orderBy("trade_id")

  /** S7: the physical round-trip — append v1, append v2, compact to the
    * merged state, read back. Staged once per fixture (same concurrency
    * posture as the snapshot store). */
  def sinkRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val path = Staging.stage(s"sink_roundtrip_$dir",
      new java.io.File(dir, "events.parquet")) { tmp =>
      RelationalSink.append(baseLog(spark, dir), tmp)
      RelationalSink.append(updateLog(spark, dir), tmp)
      RelationalSink.compact(spark, tmp, Seq("trade_id"), "version")
    }
    spark.read.parquet(path).orderBy("trade_id")
  }

  /** F18: ingest stamps with the batch boundary's clock pinned — a ns
    * epoch AFTER the fixture's 2024 window, so the lag stays positive
    * (Spark DIV truncates toward zero, DuckDB `//` floors: they only
    * agree on non-negative operands). */
  private val ReceivedNs = 1710000000000000000L

  def ingestStamps(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingLanes.withIngestStamps(
      Tables.events(spark, dir)
        .filter(col("event_id") % 100 === 0)
        .select(col("event_id"), expr("ts_ns DIV 1000").as("ts_us")),
      receivedNs = ReceivedNs)
      .withColumn("ingest_lag_us",
        expr(s"($ReceivedNs - ts_us * 1000) DIV 1000"))
      .orderBy("event_id")

  /** Time-travel read of the versioned store: the LWW state AS OF a
    * version horizon — filter the append log to `version <= asOf`, then
    * the same one-aggregate merge. At `asOf = 1` every v2 update
    * disappears and the original pending state is reconstructed; the
    * append-only posture makes every historical state recomputable. */
  def mergeViewAsOf(spark: SparkSession, dir: String,
                    asOf: Long): DataFrame =
    RelationalSink.mergeView(
      baseLog(spark, dir).unionByName(updateLog(spark, dir))
        .filter(col("version") <= asOf),
      keyCols = Seq("trade_id"), versionCol = "version")
      .orderBy("trade_id")

  private val mergedSql =
    """SELECT event_id AS trade_id,
      |CASE WHEN event_id % 40 = 0 THEN 'filled' ELSE 'pending' END AS status,
      |CASE WHEN event_id % 40 = 0 THEN value + 1 ELSE value END AS price,
      |CAST(CASE WHEN event_id % 40 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version
      |FROM events WHERE event_id % 20 = 0
      |ORDER BY trade_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("merge_view", mergeViewQuery, mergedSql),
    QuerySpec("merge_view_asof", (s, d) => mergeViewAsOf(s, d, asOf = 1L),
      // as-of version 1: the v2 updates vanish, originals reconstruct
      """SELECT event_id AS trade_id, 'pending' AS status,
        |value AS price, CAST(1 AS BIGINT) AS version
        |FROM events WHERE event_id % 20 = 0
        |ORDER BY trade_id""".stripMargin),
    QuerySpec("sink_roundtrip", sinkRoundTrip, mergedSql),
    QuerySpec("ingest_stamps", ingestStamps,
      s"""SELECT event_id, epoch_us(ts) AS ts_us,
         |CAST($ReceivedNs AS BIGINT) AS virginia_received_ns,
         |CAST($ReceivedNs AS BIGINT) AS virginia_enriched_ns,
         |CAST(($ReceivedNs - epoch_us(ts) * 1000) // 1000 AS BIGINT)
         |  AS ingest_lag_us
         |FROM events WHERE event_id % 100 = 0
         |ORDER BY event_id""".stripMargin))
}
