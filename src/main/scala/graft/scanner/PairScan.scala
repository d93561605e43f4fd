package graft.scanner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.functions.Books
import graft.sources.Snapshots
import graft.sources.Snapshots.{sql => S}

/** Batch restatement of the cross-venue opportunity scanner — the
  * reference's core join (J1 + J2 + J3 + W1 + A9 + F5 + P5, ref
  * `virginia/logic/opportunity_scanner.py:376-500`).
  *
  * Shape: latest-per-key per venue leg (one hash aggregate each, no window
  * sort) → inner join with the broadcast pairs dimension on the venue-native
  * keys → pair-freshness gate (legs within `maxStalenessSec` of each other,
  * the batch analog of the scanner's 60 s `pair_complete` check) → yes/no
  * side margins → threshold → per-pair best side.
  *
  * At scale: the two latest-per-key aggregates shuffle once each on their
  * series key (map-side partial max_by), the dimension is broadcast (no
  * shuffle), and everything downstream is per-row arithmetic in one
  * codegen stage. No driver-side loops, no cartesian products.
  */
object PairScan extends QueryModule {

  /** Opportunity frame: one row per active pair whose best side clears
    * `minProfitThreshold` (ref default 0.02,
    * `virginia/utils/config.py:269-274`). */
  def scan(spark: SparkSession, dir: String,
           maxStalenessSec: Long = 60,
           minProfitThreshold: Double = 0.02): DataFrame =
    scanFrames(Snapshots.store(spark, dir),
      Snapshots.pairs(spark).filter(col("is_active")),
      maxStalenessSec, minProfitThreshold)

  /** Frame-based core, testable on in-memory snapshots/pairs.
    * `snapshots` needs (ticker, source, ts_us, snapshot_id, full_orderbook);
    * `activePairs` needs (id, kalshi_ticker, polymarket_condition_id). */
  def scanFrames(snaps: DataFrame, activePairs: DataFrame,
                 maxStalenessSec: Long,
                 minProfitThreshold: Double): DataFrame = {

    // Latest kalshi snapshot per ticker (W1): deterministic argmax by
    // (ts_us, snapshot_id).
    val k = snaps.filter(col("source") === "kalshi")
      .groupBy(col("ticker"))
      .agg(max_by(struct(col("ts_us"), col("full_orderbook")),
        struct(col("ts_us"), col("snapshot_id"))).as("s"))
      .select(col("ticker"), col("s.ts_us").as("k_ts_us"),
        Books.parseKalshi(col("s.full_orderbook")).as("book"))
      .select(col("ticker"), col("k_ts_us"),
        Books.centsToDollars(Books.kalshiBestBidCents(col("book.yes")))
          .as("k_yes_bid"),
        Books.centsToDollars(Books.kalshiBestBidCents(col("book.no")))
          .as("k_no_bid"))

    // Latest polymarket snapshot per condition_id, priced from the
    // enriched yes/no fields (ref field remap F19,
    // `virginia/broker/receiver.py:270-291`).
    val p = snaps.filter(col("source") === "polymarket")
      .groupBy(col("ticker"))
      .agg(max_by(struct(col("ts_us"), col("full_orderbook")),
        struct(col("ts_us"), col("snapshot_id"))).as("s"))
      .select(col("ticker").as("condition_id"), col("s.ts_us").as("p_ts_us"),
        Books.parsePoly(col("s.full_orderbook")).as("pb"))
      .select(col("condition_id"), col("p_ts_us"),
        col("pb.yes_price").as("p_yes"), col("pb.no_price").as("p_no"))

    val pairs = activePairs

    val joined = broadcast(pairs)
      .join(k, pairs("kalshi_ticker") === k("ticker"))
      .join(p, pairs("polymarket_condition_id") === p("condition_id"))
      // P5 freshness gate: both legs fresh relative to each other.
      .filter(abs(col("k_ts_us") - col("p_ts_us")) <=
        lit(maxStalenessSec * 1000000L))

    // F5: margin = (sell_bid − buy_price) / buy_price, both directions
    // (ref `_detect_simple_arbitrage`, opportunity_scanner.py:431-500).
    val withMargins = joined
      .withColumn("m_yes", (col("k_yes_bid") - col("p_yes")) / col("p_yes"))
      .withColumn("m_no", (col("k_no_bid") - col("p_no")) / col("p_no"))

    // A9: per-pair best side; F6: bps conversion.
    withMargins
      .withColumn("direction",
        when(col("m_yes") >= col("m_no"), lit("yes")).otherwise(lit("no")))
      .withColumn("buy_price",
        when(col("m_yes") >= col("m_no"), col("p_yes")).otherwise(col("p_no")))
      .withColumn("sell_price",
        when(col("m_yes") >= col("m_no"), col("k_yes_bid"))
          .otherwise(col("k_no_bid")))
      .withColumn("profit_margin", greatest(col("m_yes"), col("m_no")))
      .filter(col("profit_margin") >= lit(minProfitThreshold))
      .select(col("id"), col("kalshi_ticker"), col("condition_id"),
        col("k_ts_us"), col("p_ts_us"), col("direction"),
        col("buy_price"), col("sell_price"), col("profit_margin"),
        Books.toBps(col("profit_margin")).as("margin_bps"))
      .orderBy("id")
  }

  // Fixture staleness: the events fixture has ~minutes between snapshots
  // per series, so the query uses a 1-day window (the 60 s production value
  // is a parameter, semantics identical).
  private val fixtureStalenessSec = 86400L

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("pair_scan", (s, d) => scan(s, d, fixtureStalenessSec),
      s"""WITH k AS (
         |  SELECT ${S.market} AS ticker, epoch_us(ts) AS k_ts_us,
         |    CAST(${S.p} AS DOUBLE)/100 AS k_yes_bid,
         |    CAST(99 - ${S.p} AS DOUBLE)/100 AS k_no_bid
         |  FROM events WHERE ${S.isKalshi}
         |  QUALIFY row_number() OVER (PARTITION BY user_id % 8
         |    ORDER BY ts DESC, event_id DESC) = 1
         |), p AS (
         |  SELECT ${S.conditionId} AS condition_id, epoch_us(ts) AS p_ts_us,
         |    CAST(${S.p} AS DOUBLE)/100 AS p_yes,
         |    1.0 - CAST(${S.p} AS DOUBLE)/100 AS p_no
         |  FROM events WHERE NOT ${S.isKalshi}
         |  QUALIFY row_number() OVER (PARTITION BY user_id % 8
         |    ORDER BY ts DESC, event_id DESC) = 1
         |), j AS (
         |  SELECT pr.id, pr.kalshi_ticker, p.condition_id,
         |    k.k_ts_us, p.p_ts_us, k.k_yes_bid, k.k_no_bid, p.p_yes, p.p_no,
         |    (k.k_yes_bid - p.p_yes) / p.p_yes AS m_yes,
         |    (k.k_no_bid - p.p_no) / p.p_no AS m_no
         |  FROM ${Snapshots.pairsSql} pr
         |  JOIN k ON pr.kalshi_ticker = k.ticker
         |  JOIN p ON pr.polymarket_condition_id = p.condition_id
         |  WHERE pr.is_active
         |    AND abs(k.k_ts_us - p.p_ts_us) <= ${fixtureStalenessSec * 1000000L}
         |)
         |SELECT id, kalshi_ticker, condition_id, k_ts_us, p_ts_us,
         |  CASE WHEN m_yes >= m_no THEN 'yes' ELSE 'no' END AS direction,
         |  CASE WHEN m_yes >= m_no THEN p_yes ELSE p_no END AS buy_price,
         |  CASE WHEN m_yes >= m_no THEN k_yes_bid ELSE k_no_bid END AS sell_price,
         |  greatest(m_yes, m_no) AS profit_margin,
         |  greatest(m_yes, m_no) * 10000.0 AS margin_bps
         |FROM j WHERE greatest(m_yes, m_no) >= 0.02
         |ORDER BY id""".stripMargin))
}
