package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.Tables

/** Behavioral analytics over the `events` stream table — sessionization
  * and funnel conversion, the canonical large-scale clickstream shapes.
  *
  * Sessionization is one window pass per user (lag → gap flag → running
  * sum); at scale it shuffles once on `user_id` and each user's history
  * sorts within a partition — no global sort. The funnel is conditional
  * `min` aggregates, one shuffle, map-side partial.
  */
object EventAnalytics extends QueryModule {
  /** Split each user's event stream into sessions at `gapMinutes` idle
    * gaps; emit per-event session indices. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > gapUs).cast("int"))
      .withColumn("session_idx",
        sum(col("new_session")).over(byUser).cast("int"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("session_idx"))
      // NO trailing global sort (r18, the market_scan posture): the sort
      // was presentation-only — the driver's compare sorts rows itself —
      // and at scale it range-exchanges + fully sorts the per-event
      // output a second time after the per-user window already ran
  }

  /** Per-user funnel: first time each stage was reached, and whether the
    * stages happened in order (view → click → purchase). */
  def funnel(events: DataFrame): DataFrame =
    events
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts_us")))
          .as("first_view_us"),
        min(when(col("event_type") === "click", col("ts_us")))
          .as("first_click_us"),
        min(when(col("event_type") === "purchase", col("ts_us")))
          .as("first_purchase_us"))
      .withColumn("converted",
        col("first_view_us").isNotNull &&
          col("first_click_us").isNotNull &&
          col("first_purchase_us").isNotNull &&
          col("first_view_us") < col("first_click_us") &&
          col("first_click_us") < col("first_purchase_us"))
      .orderBy("user_id")

  /** Cohort retention: users grouped by first-seen date, retention =
    * share of the cohort active again `offset` days later (offsets
    * 0..max). Plan shape (audited): activity shuffles ONCE on
    * (user, day) for the distinct; the first-seen dimension is one row
    * per user, so it broadcasts under AQE (co-shuffles on user_id at
    * scale); then the two-phase count-distinct on (cohort, offset) and
    * a cohort window for the base size. Every exchange carries at most
    * one row per user-day. */
  def retentionCohorts(events: DataFrame, maxOffset: Int = 7): DataFrame = {
    val a = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val f = a.groupBy("user_id").agg(min(col("day")).as("cohort"))
    val g = a.join(f, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort")))
      .filter(col("day_offset").between(0, maxOffset))
      .groupBy(col("cohort"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    g.withColumn("base",
      max(when(col("day_offset") === 0, col("n_users")))
        .over(Window.partitionBy(col("cohort"))))
      .select(col("cohort"), col("day_offset"), col("n_users"),
        (col("n_users").cast("double") / col("base").cast("double"))
          .as("retention"))
      .orderBy("cohort", "day_offset")
  }

  /** Per-user-cohort event-type crosstab via pivot (fixed column set so
    * the plan is a single aggregate, no distinct-values pre-pass). */
  def typePivot(events: DataFrame): DataFrame =
    events
      .withColumn("cohort", col("user_id") % 10)
      .groupBy("cohort")
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .count()
      .na.fill(0L)
      .orderBy("cohort")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sessionize", (s, d) => sessionize(Tables.events(s, d)),
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |CAST(sum(CASE WHEN prev_us IS NULL
        |  OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER)
        |  AS session_idx
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    QuerySpec("funnel", (s, d) => funnel(Tables.events(s, d)),
      """SELECT user_id,
        |min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |  AS first_view_us,
        |min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |  AS first_click_us,
        |min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |  AS first_purchase_us,
        |coalesce(
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |    < min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |  AND min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |    < min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END),
        |  false) AS converted
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    QuerySpec("event_type_pivot", (s, d) => typePivot(Tables.events(s, d)),
      """SELECT user_id % 10 AS cohort,
        |count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin),

    // the streaming session-window lane's batch twin: identical plan
    // fragment (graft.streaming.StreamingLanes.sessionWindows), oracled
    // against DuckDB's lag/gap-sum formulation of the same semantics
    QuerySpec("session_windows", (s, d) =>
      graft.streaming.StreamingLanes.sessionWindows(Tables.events(s, d))
        .orderBy("user_id", "session_start_us"),
      // session_window(ts, 30m): events merge while the gap to the previous
      // event is <= 30 min INCLUSIVE (probed empirically: two events exactly
      // gap apart merge — touching windows coalesce); window end = last
      // event + 30 min. The lag/gap-sum restatement below is an independent
      // formulation of that semantics; PropertySpec pins the boundary.
      """WITH l AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS u, value,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, u, value,
        |    sum(CASE WHEN prev IS NULL OR u - prev > 1800000000
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY u, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM l)
        |SELECT user_id, min(u) AS session_start_us,
        |  max(u) + 1800000000 AS session_end_us,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin),

    QuerySpec("retention_cohorts", (s, d) =>
      retentionCohorts(Tables.events(s, d)),
      """WITH a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort FROM a GROUP BY user_id),
        |g AS (
        |  SELECT f.cohort,
        |    CAST(a.day - f.cohort AS INTEGER) AS day_offset,
        |    count(DISTINCT a.user_id) AS n_users
        |  FROM a JOIN f USING (user_id)
        |  WHERE a.day - f.cohort BETWEEN 0 AND 7
        |  GROUP BY 1, 2)
        |SELECT cohort, day_offset, n_users,
        |  CAST(n_users AS DOUBLE) /
        |    CAST(max(CASE WHEN day_offset = 0 THEN n_users END)
        |      OVER (PARTITION BY cohort) AS DOUBLE) AS retention
        |FROM g ORDER BY cohort, day_offset""".stripMargin))
}
