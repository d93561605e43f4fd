package graft.relational

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryModule, QuerySpec}
import graft.sources.{Snapshots, Tables}

/** Relational/reporting queries — the PostgreSQL-side surface of the
  * reference (`database/postgres/writer.py`, `virginia/database/read_from.py`)
  * restated over the driver's TPC-H-ish fixtures.
  *
  * Determinism posture (oracle hash-matching): every SUM over money
  * columns goes through DECIMAL(18,2) so the aggregate is exact and
  * order-independent (double summation order varies across partitions);
  * the final cast back to DOUBLE is a single deterministic conversion.
  * "NOW()"-relative windows (P6/F12) are anchored to max(date) in the
  * data — a broadcast one-row scalar, not wall-clock — so engine and
  * oracle see the same cutoff.
  */
object RelationalQueries extends QueryModule {
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  val specs: Seq[QuerySpec] = Seq(
    // A4 + P6 + F12 + F20: trade summary report over the last 30 days of
    // activity (ref `database/postgres/writer.py:551-589`). Status mapping:
    // 'F' = filled, 'P' = cancelled-analog, 'O' = open.
    QuerySpec("trade_summary", (s, d) => {
      val orders = Tables(s, d, "orders")
      val mx = orders.agg(max("o_orderdate").as("mx"))
      orders.crossJoin(broadcast(mx))
        .filter(col("o_orderdate") >= col("mx") - expr("INTERVAL 30 DAYS"))
        .agg(
          count(lit(1)).as("total_trades"),
          count(when(col("o_orderstatus") === "F", 1)).as("filled_trades"),
          count(when(col("o_orderstatus") === "P", 1)).as("cancelled_trades"),
          sum(when(col("o_orderstatus") === "F",
            dec(coalesce(col("o_totalprice"), lit(0))))
            .otherwise(dec(lit(0)))).cast("double").as("total_volume"),
          (sum(dec(coalesce(col("o_totalprice"), lit(0)))).cast("double") /
            count(lit(1))).as("avg_price"))
    },
      """SELECT count(*) AS total_trades,
        |count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS filled_trades,
        |count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS cancelled_trades,
        |CAST(sum(CASE WHEN o_orderstatus = 'F'
        |  THEN CAST(coalesce(o_totalprice, 0) AS DECIMAL(18,2))
        |  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total_volume,
        |CAST(sum(CAST(coalesce(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE)
        |  / count(*) AS avg_price
        |FROM orders
        |WHERE o_orderdate >= (SELECT max(o_orderdate) FROM orders)
        |  - INTERVAL 30 DAY""".stripMargin),

    // A8: status-breakdown count (ref `virginia/api/connection.py:294-299`).
    QuerySpec("status_breakdown", (s, d) =>
      Tables(s, d, "orders").groupBy("o_orderstatus").count()
        .orderBy("o_orderstatus"),
      "SELECT o_orderstatus, count(*) AS count FROM orders GROUP BY 1 ORDER BY 1"),

    // W3: ORDER BY + LIMIT top-k (ref `database/postgres/client.py:489-494`).
    // Tie-broken by key so the result set is unique.
    QuerySpec("top_orders", (s, d) =>
      Tables(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(100),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // P3: active-pair predicate (ref `virginia/database/read_from.py:134-141`).
    QuerySpec("active_pairs", (s, _) =>
      Snapshots.pairs(s)
        .filter(col("is_active") &&
          col("expiration_date") > lit(java.sql.Date.valueOf("2024-02-20")))
        .orderBy("id"),
      s"""SELECT * FROM ${Snapshots.pairsSql} p
         |WHERE is_active AND expiration_date > DATE '2024-02-20'
         |ORDER BY id""".stripMargin),

    // P4: expiring-soon predicate (ref `virginia/database/read_from.py:260-268`).
    QuerySpec("expiring_pairs", (s, _) =>
      Snapshots.pairs(s)
        .filter(col("expiration_date") <=
          date_add(lit(java.sql.Date.valueOf("2024-02-20")), 14))
        .orderBy("id"),
      s"""SELECT * FROM ${Snapshots.pairsSql} p
         |WHERE expiration_date <= DATE '2024-02-20' + 14
         |ORDER BY id""".stripMargin),

    // P1 + P2 + P6 + P7: tag/field filters, projection, recency window,
    // isin membership — the Flux-filter surface (ref `etl/query.py:160-169`,
    // `virginia/database/read_from.py:319-335`).
    QuerySpec("recent_lineitems", (s, d) => {
      val li = Tables(s, d, "lineitem")
      val mx = li.agg(max("l_shipdate").as("mx"))
      li.crossJoin(broadcast(mx))
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_shipdate") >= col("mx") - expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate",
          "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_shipdate, l_quantity
        |FROM lineitem
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_shipdate >= (SELECT max(l_shipdate) FROM lineitem)
        |    - INTERVAL 90 DAY
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // SET1: key-set algebra — intersect (ref subscription diff
    // `virginia/api/data_feed.py:185-198`).
    QuerySpec("custkeys_with_orders", (s, d) =>
      Tables(s, d, "customer").select(col("c_custkey").as("custkey"))
        .intersect(Tables(s, d, "orders").select(col("o_custkey").as("custkey")))
        .orderBy("custkey"),
      """SELECT c_custkey AS custkey FROM customer
        |INTERSECT SELECT o_custkey FROM orders ORDER BY custkey""".stripMargin),

    // SET1: except side (`removed = old − new`).
    QuerySpec("custkeys_without_orders", (s, d) =>
      Tables(s, d, "customer").select(col("c_custkey").as("custkey"))
        .except(Tables(s, d, "orders").select(col("o_custkey").as("custkey")))
        .orderBy("custkey"),
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT SELECT o_custkey FROM orders ORDER BY custkey""".stripMargin),

    // F13 + F9 + F14: deterministic id generation (md5-based stand-in for
    // the reference's `trade_{uuid[:12]}`, ref
    // `database/models/postgres.py:58-59`), ISO-8601 formatting, interval
    // offsets (ref `etl/query.py:109-133`).
    QuerySpec("order_ids", (s, d) =>
      Tables(s, d, "orders").select(
        col("o_orderkey"),
        concat(lit("trade_"),
          substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 12))
          .as("trade_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("order_iso"),
        (col("o_orderdate") + expr("INTERVAL 3 HOURS")).as("order_plus_3h")),
      """SELECT o_orderkey,
        |'trade_' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12) AS trade_id,
        |strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS order_iso,
        |o_orderdate + INTERVAL 3 HOUR AS order_plus_3h
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // ^ no trailing sort (r18, the market_scan posture): the range
    // exchange carried the derived ~40 B of id/ISO strings per row
    // across the whole orders table just for presentation order
    // P6+W3 combined: recent analysis records — last-24h window anchored
    // to the data's max timestamp, newest-first, limit 100 (ref
    // `database/postgres/writer.py:525-543`).
    QuerySpec("recent_analysis", (s, d) => {
      // µs-level times throughout: the oracle's reader truncates nanos to
      // micros, so ordering/filtering on raw ns could disagree at edges
      val ev = Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
      val mx = ev.agg(max("ts_us").as("mx"))
      ev.crossJoin(broadcast(mx))
        .filter(col("ts_us") >= col("mx") - lit(86400L * 1000000L))
        .orderBy(desc("ts_us"), desc("event_id"))
        .limit(100)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
    },
      """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |FROM events
        |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 24 HOUR
        |ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin),

    // S9: point lookup — filter → orderBy desc → limit 1 (ref
    // `get_snapshot_by_id`, `database/influx/client.py:370-395`). Spark
    // plans this as TakeOrderedAndProject: no global sort, one reduce.
    // Ordering is on µs-truncated time + event_id: the oracle's reader
    // only sees µs, so ordering on raw ns could pick a different row
    // whenever two same-key events share a µs (same posture as
    // recent_analysis).
    QuerySpec("point_lookup", (s, d) =>
      Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
        .filter(col("user_id") === 42)
        .orderBy(desc("ts_us"), desc("event_id"))
        .limit(1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us")),
      """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |FROM events WHERE user_id = 42
        |ORDER BY ts DESC, event_id DESC LIMIT 1""".stripMargin),

    // S2: bulk market scan — the reference's ~35-field per-market
    // projection (ref `virginia/api/connection.py:247-289`: prices, title,
    // volume/OI/liquidity, open/close/expiration times, strike/settlement
    // metadata) derived deterministically from the orders fixture, plus
    // the status filter, F15 prefix truncation, and F20 numeric defaults.
    // The quote ladder follows the snapshot convention (best_price):
    // p = key%95+2 cents; yes p/p+1, no mirrored at 98-p/99-p.
    QuerySpec("market_scan", (s, d) => {
      val p = (col("o_orderkey") % 95 + 2).cast("long")
      val key = col("o_orderkey").cast("string")
      val iso = (c: Column) => date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")
      val vol = coalesce(col("o_totalprice"), lit(0.0))
      Tables(s, d, "orders")
        .filter(col("o_orderstatus").isin("O", "F"))
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          vol.as("total_price"),
          col("o_orderdate"), col("o_orderpriority"),
          concat(substring(col("o_orderpriority"), 1, 3), lit("..."))
            .as("priority_display"),
          year(col("o_orderdate")).as("order_year"),
          quarter(col("o_orderdate")).as("order_quarter"),
          concat(lit("MKT-"), key).as("ticker"),
          concat(lit("Market "), key, lit(" ["), col("o_orderpriority"),
            lit("]")).as("title"),
          p.cast("double").as("yes_bid"),
          (p + 1).cast("double").as("yes_ask"),
          (lit(98L) - p).cast("double").as("no_bid"),
          (lit(99L) - p).cast("double").as("no_ask"),
          ((p * 2 + 1).cast("double") / 2.0).as("last_price"),
          vol.as("volume"),
          (vol / 30.0).as("volume_24h"),
          iso(col("o_orderdate")).as("open_time"),
          iso(col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("close_time"),
          iso(col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("expiration_time"),
          iso(col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("expected_expiration_time"),
          iso(col("o_orderdate") + expr("INTERVAL 120 DAYS"))
            .as("latest_expiration_time"),
          (col("o_orderkey") % 2 === 0).as("can_close_early"),
          concat(lit("EV-"), (col("o_custkey") % 100).cast("string"))
            .as("event_ticker"),
          lit("binary").as("market_type"),
          col("o_orderpriority").as("subtitle"),
          lit("Yes").as("yes_sub_title"),
          lit("No").as("no_sub_title"),
          ((col("o_orderkey") % 24) * 3600).cast("int")
            .as("settlement_timer_seconds"),
          lit("usd_cent").as("response_price_units"),
          lit(100).as("notional_value"),
          lit(1).as("tick_size"),
          (p - 1).cast("double").as("previous_yes_bid"),
          p.cast("double").as("previous_yes_ask"),
          ((p * 2 - 1).cast("double") / 2.0).as("previous_price"),
          (col("o_custkey") * 10).as("liquidity"),
          ((col("o_orderkey") % 1000) * 5).as("open_interest"),
          when(col("o_orderstatus") === "F", lit("yes")).otherwise(lit(""))
            .as("result"),
          lit("").as("expiration_value"),
          concat(lit("Pri-"), substring(col("o_orderpriority"), 1, 1))
            .as("category"),
          lit(2500000L).as("risk_limit_cents"),
          lit("structured").as("strike_type"),
          concat(lit("Resolves YES if market "), key,
            lit(" settles by expiration")).as("rules_primary"),
          lit("").as("rules_secondary"))
      // NO global sort, on purpose: the reference's bulk scan returns
      // unordered pages, the driver's compare sorts rows itself, and at
      // 100 TB a global range-exchange of the 45-column projection was
      // the single largest avoidable cost in this query (the 10x probe
      // measured the sort at ~half its wall time; SCALING.md "market_scan")
    },
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |coalesce(o_totalprice, 0.0) AS total_price,
        |o_orderdate, o_orderpriority,
        |substr(o_orderpriority, 1, 3) || '...' AS priority_display,
        |CAST(year(o_orderdate) AS INTEGER) AS order_year,
        |CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
        |'MKT-' || CAST(o_orderkey AS VARCHAR) AS ticker,
        |'Market ' || CAST(o_orderkey AS VARCHAR) || ' [' || o_orderpriority
        |  || ']' AS title,
        |CAST(o_orderkey % 95 + 2 AS DOUBLE) AS yes_bid,
        |CAST(o_orderkey % 95 + 3 AS DOUBLE) AS yes_ask,
        |CAST(96 - o_orderkey % 95 AS DOUBLE) AS no_bid,
        |CAST(97 - o_orderkey % 95 AS DOUBLE) AS no_ask,
        |CAST((o_orderkey % 95 + 2) * 2 + 1 AS DOUBLE) / 2.0 AS last_price,
        |coalesce(o_totalprice, 0.0) AS volume,
        |coalesce(o_totalprice, 0.0) / 30.0 AS volume_24h,
        |strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS open_time,
        |strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%dT%H:%M:%SZ')
        |  AS close_time,
        |strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%dT%H:%M:%SZ')
        |  AS expiration_time,
        |strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%dT%H:%M:%SZ')
        |  AS expected_expiration_time,
        |strftime(o_orderdate + INTERVAL 120 DAY, '%Y-%m-%dT%H:%M:%SZ')
        |  AS latest_expiration_time,
        |o_orderkey % 2 = 0 AS can_close_early,
        |'EV-' || CAST(o_custkey % 100 AS VARCHAR) AS event_ticker,
        |'binary' AS market_type,
        |o_orderpriority AS subtitle,
        |'Yes' AS yes_sub_title,
        |'No' AS no_sub_title,
        |CAST((o_orderkey % 24) * 3600 AS INTEGER) AS settlement_timer_seconds,
        |'usd_cent' AS response_price_units,
        |CAST(100 AS INTEGER) AS notional_value,
        |CAST(1 AS INTEGER) AS tick_size,
        |CAST(o_orderkey % 95 + 1 AS DOUBLE) AS previous_yes_bid,
        |CAST(o_orderkey % 95 + 2 AS DOUBLE) AS previous_yes_ask,
        |CAST((o_orderkey % 95 + 2) * 2 - 1 AS DOUBLE) / 2.0 AS previous_price,
        |CAST(o_custkey * 10 AS BIGINT) AS liquidity,
        |CAST((o_orderkey % 1000) * 5 AS BIGINT) AS open_interest,
        |CASE WHEN o_orderstatus = 'F' THEN 'yes' ELSE '' END AS result,
        |'' AS expiration_value,
        |'Pri-' || substr(o_orderpriority, 1, 1) AS category,
        |CAST(2500000 AS BIGINT) AS risk_limit_cents,
        |'structured' AS strike_type,
        |'Resolves YES if market ' || CAST(o_orderkey AS VARCHAR)
        |  || ' settles by expiration' AS rules_primary,
        |'' AS rules_secondary
        |FROM orders WHERE o_orderstatus IN ('O', 'F')
        |ORDER BY o_orderkey""".stripMargin),

    // F17: deterministic outcome heuristic — the reference hashes the
    // token id and takes parity (`ireland/coordinator.py:285-293`); md5
    // nibble parity is the engine-portable equivalent.
    QuerySpec("outcome_heuristic", (s, d) =>
      Tables(s, d, "customer")
        .select(col("c_custkey"),
          when(substring(md5(col("c_custkey").cast("string").cast("binary")),
            1, 1).isInCollection(Seq("1", "3", "5", "7", "9", "b", "d", "f")),
            lit("YES")).otherwise(lit("NO")).as("outcome"))
        .orderBy("c_custkey"),
      """SELECT c_custkey,
        |CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1)
        |  IN ('1','3','5','7','9','b','d','f') THEN 'YES' ELSE 'NO' END
        |  AS outcome
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // Pearson correlation of quantity vs unit price across fills, built
    // from exact DECIMAL power sums (built-in corr() accumulates doubles
    // order-dependently and cannot hash-match an independent engine; the
    // five exact sums + one closed-form evaluation can).
    QuerySpec("price_qty_corr", (s, d) => {
      val li = Tables(s, d, "lineitem")
      val sums = li.agg(
        count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sx"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sy"),
        sum(dec(col("l_quantity")) * dec(col("l_quantity")))
          .cast("double").as("sxx"),
        sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice")))
          .cast("double").as("syy"),
        sum(dec(col("l_quantity")) * dec(col("l_extendedprice")))
          .cast("double").as("sxy"))
      // power sums above 2^53 round in the decimal→double cast, and that
      // conversion is engine-dependent in the last ulp — round the final
      // scalar to 12 decimals (same posture as the tfidf ln rounding)
      sums.select(
        col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 12)
          .as("corr_qty_price"))
    },
      """WITH s AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem)
        |SELECT n,
        |  round((n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12)
        |  AS corr_qty_price
        |FROM s""".stripMargin),

    // W1: latest-per-key over the events stream table (ref LIFO freshest-
    // first caches, `virginia/logic/opportunity_scanner.py:78-84`).
    // One hash aggregate (max_by of a struct) — no window sort, the
    // 100 TB-safe latest-value pattern. max_by keys on µs-truncated time
    // (+ event_id tiebreak): the oracle only sees µs precision, so a raw-ns
    // key could disagree when two same-key events share a µs.
    QuerySpec("events_latest_per_key", (s, d) =>
      Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns DIV 1000"))
        .groupBy("user_id")
        .agg(max_by(
          struct(col("event_id"), col("event_type"), col("value"),
            col("ts_us")),
          struct(col("ts_us"), col("event_id"))).as("last"))
        .select(
          col("user_id"),
          col("last.event_id").as("last_event_id"),
          col("last.event_type").as("last_event_type"),
          col("last.value").as("last_value"),
          col("last.ts_us").as("last_ts_us"))
        .orderBy("user_id"),
      """SELECT user_id, event_id AS last_event_id,
        |event_type AS last_event_type, value AS last_value,
        |epoch_us(ts) AS last_ts_us
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin))
}
