package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.Tables

/** Temporal join operators the reference's point-in-time analytics imply
  * but Spark lacks as builtins: as-of join (nearest prior observation,
  * ref `virginia/logic/opportunity_scanner.py`'s freshest-snapshot-per-leg
  * pairing generalized to arbitrary key/time frames) and a bounded-window
  * range join.
  *
  * Both are written for the 100 TB shape, not the small one:
  *
  *  - `asofJoin` never builds a range join. The naive formulation
  *    (`l JOIN r ON key AND r.ts <= l.ts` + argmax) is a
  *    BroadcastNestedLoopJoin in Spark — O(|L|·|R|) per key. Instead the
  *    two sides are tagged and UNIONed, shuffled ONCE on the key, and a
  *    single running `last(right_payload, ignoreNulls)` window pass per
  *    key resolves every left row's match in O(n log n) sort time. This
  *    is the merge-join formulation every columnar store (DuckDB ASOF,
  *    kdb aj) uses internally — expressed declaratively so Catalyst sees
  *    one Exchange + one Sort + one Window.
  *  - the right payload rides in ONE nullable struct, so a legitimately
  *    NULL right-side value can't make `last(..., ignoreNulls)` skip to
  *    an older right row: match resolution is atomic per right row.
  *  - `rangeJoinBucketed` quantizes time into buckets of the range width
  *    so each range covers <= 2 buckets; the join is then a plain
  *    shuffled equi-join on (key, bucket) + residual filter — never a
  *    nested-loop inequality join. Each point belongs to exactly one
  *    bucket, so no post-join dedup is needed.
  */
object TemporalJoins extends QueryModule {
  /** For each left row, attach the payload of the latest right row with
    * the same `keys` and `right.tsCol <= left.tsCol` (inclusive, like
    * DuckDB `ASOF JOIN ... ON l.ts >= r.ts`). Unmatched left rows keep
    * NULL payload columns (left-join semantics).
    *
    * `right` must be unique per (keys, tsCol) — pre-aggregate it
    * otherwise, or ties resolve nondeterministically.
    *
    * NULL preconditions (matching DuckDB ASOF would require filtering,
    * which this operator deliberately leaves to the caller): `keys` and
    * `tsCol` should be non-null on both sides. NULL keys co-group under
    * SQL grouping semantics — null-key left rows CAN match null-key
    * right rows, where DuckDB ASOF's equality predicate would reject
    * them; a NULL left ts sorts first in its partition and never
    * matches. Filter nulls out beforehand if ANSI join-key semantics
    * are required. Input columns named `__r`/`__side`/`__m` are
    * reserved and rejected loudly.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, payloadPrefix: String = "matched_",
      toleranceUs: Option[Long] = None): DataFrame = {
    val reserved = Set("__r", "__side", "__m")
    val clash = (left.columns ++ right.columns).filter(reserved)
    require(clash.isEmpty,
      s"asofJoin: input columns ${clash.mkString(", ")} collide with " +
        "reserved internal names __r/__side/__m — rename them first")
    val leftOnly = left.columns.filterNot(c => keys.contains(c) || c == tsCol)
    val rightPayload = right.columns.filterNot(c => keys.contains(c) || c == tsCol)
    // one struct carrying (ts, payload...) — atomic per right row
    val rStruct = struct(
      (col(tsCol).as(tsCol) +: rightPayload.map(col)): _*)
    val l2 = left.select(
      (keys :+ tsCol).map(col) ++ leftOnly.map(col) :+
        lit(null).cast(right.select(rStruct).schema.head.dataType).as("__r") :+
        lit(1).as("__side"): _*)
    val r2 = right.select(
      (keys :+ tsCol).map(col) ++
        leftOnly.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        rStruct.as("__r") :+ lit(0).as("__side"): _*)
    // right rows sort BEFORE left rows at equal ts => inclusive match
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outCols: Seq[Column] =
      (keys :+ tsCol).map(col) ++ leftOnly.map(col) ++
        (tsCol +: rightPayload.toSeq)
          .map(c => col(s"__m.$c").as(s"$payloadPrefix$c"))
    // staleness gate (the reference's 60 s pair-freshness cutoff,
    // `virginia/logic/opportunity_scanner.py` pair_complete): a match
    // older than the tolerance is discarded ATOMICALLY (the whole
    // struct nulled, never a partial payload), applied to the already-
    // materialized window result so the window evaluates once
    val gate = toleranceUs match {
      case Some(tol) =>
        when(col(tsCol) - col(s"__m.$tsCol") <= lit(tol), col("__m"))
      case None => col("__m")
    }
    l2.unionByName(r2)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .withColumn("__m", gate)
      .select(outCols: _*)
  }

  /** Count points falling inside (start, start+widthUs] per range row,
    * keyed; zero-match ranges are kept with count 0. Bucket width ==
    * range width, so every range spans at most two buckets and every
    * point matches a range through exactly one bucket.
    *
    * Preconditions: `startCol` must be non-null (a NULL start produces
    * an empty bucket sequence and the range row vanishes rather than
    * counting 0) and range rows must be unique (full-row duplicates
    * collapse in the rollup). The point side is pruned to (keys, ts)
    * before the join — the operator counts, so point payload columns
    * are dead weight in the shuffle AND a groupBy-ambiguity hazard when
    * they share a name with a range column; pruning removes both.
    */
  def rangeJoinBucketed(points: DataFrame, ranges: DataFrame,
      keys: Seq[String], pointTs: String, startCol: String,
      widthUs: Long): DataFrame = {
    val rb = ranges.withColumn("__bucket",
      explode(sequence(
        expr(s"$startCol DIV $widthUs"),
        expr(s"($startCol + $widthUs) DIV $widthUs"))))
    val pb = points
      .select(keys.map(col) :+ col(pointTs).as("__pt"): _*)
      .withColumn("__bucket", expr(s"__pt DIV $widthUs"))
    val hit = col("__pt").isNotNull &&
      col("__pt") > col(startCol) &&
      col("__pt") <= col(startCol) + lit(widthUs)
    rb.join(pb, keys :+ "__bucket", "left")
      .groupBy((ranges.columns.filterNot(_ == "__bucket")).map(col): _*)
      .agg(sum(when(hit, 1L).otherwise(0L)).as("n_in_range"))
  }

  // --- registered queries --------------------------------------------------

  /** `asof_join` / `asof_join_fresh`: each purchase event picks up the
    * latest prior (or simultaneous) view by the same user —
    * value-at-decision attribution, the reference's
    * snapshot-at-execution pattern over the events table; the fresh
    * variant discards matches older than the tolerance. */
  private def asofQuery(events: DataFrame,
      toleranceUs: Option[Long] = None): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        expr("ts_ns DIV 1000").as("ts_us"),
        col("value").as("purchase_value"))
    // unique per (user_id, ts_us): keep the highest-event_id view
    val views = events.filter(col("event_type") === "view")
      .groupBy(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"))
      .agg(max_by(col("value"), col("event_id")).as("view_value"))
    asofJoin(purchases, views, Seq("user_id"), "ts_us", "view_",
      toleranceUs)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("purchase_value"), col("view_ts_us"), col("view_view_value")
          .as("view_value"))
      .orderBy("event_id")
  }

  /** `range_join_bucketed`: per error event, how many events the same
    * user produced in the 5 minutes after it — error-aftermath attribution
    * as a bounded range join. */
  private def rangeQuery(events: DataFrame): DataFrame = {
    val widthUs = 300000000L // 5 min
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        expr("ts_ns DIV 1000").as("start_us"))
    val pts = events.select(col("user_id"),
      expr("ts_ns DIV 1000").as("pt_us"))
    rangeJoinBucketed(pts, errors, Seq("user_id"), "pt_us",
      "start_us", widthUs)
      .orderBy("event_id")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("asof_join", (s, d) => asofQuery(Tables.events(s, d)),
      // DuckDB's native ASOF JOIN is a genuinely independent implementation
      // of the same semantics (merge-join inside the engine).
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |         value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         arg_max(value, event_id) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts_us, p.purchase_value,
        |       v.ts_us AS view_ts_us, v.view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
        |ORDER BY p.event_id""".stripMargin),

    QuerySpec("asof_join_fresh", (s, d) =>
      asofQuery(Tables.events(s, d), toleranceUs = Some(60000000L)),
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |         value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         arg_max(value, event_id) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts_us, p.purchase_value,
        |  CASE WHEN p.ts_us - v.ts_us <= 60000000
        |    THEN v.ts_us END AS view_ts_us,
        |  CASE WHEN p.ts_us - v.ts_us <= 60000000
        |    THEN v.view_value END AS view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
        |ORDER BY p.event_id""".stripMargin),

    QuerySpec("range_join_bucketed", (s, d) => rangeQuery(Tables.events(s, d)),
      """WITH r AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS start_us
        |  FROM events WHERE event_type = 'error'),
        |e AS (SELECT user_id, epoch_us(ts) AS pt_us FROM events)
        |SELECT r.event_id, r.user_id, r.start_us,
        |       count(e.pt_us) AS n_in_range
        |FROM r LEFT JOIN e
        |  ON e.user_id = r.user_id
        |  AND e.pt_us > r.start_us AND e.pt_us <= r.start_us + 300000000
        |GROUP BY 1, 2, 3
        |ORDER BY r.event_id""".stripMargin))
}
