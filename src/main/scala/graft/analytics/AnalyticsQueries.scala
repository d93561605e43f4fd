package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.functions.Books
import graft.sources.Snapshots
import graft.sources.Snapshots.{sql => S}

/** Registry: analytics-slice queries (§3.3 of SURVEY) + DuckDB oracle SQL.
  *
  * The oracle recomputes each result arithmetically from `events` — a
  * fully independent path from the engine's JSON-roundtrip + HOF pipeline,
  * so a hash match actually validates the book semantics, not just the
  * plumbing. All float math is written as the same IEEE ops in the same
  * order on both sides (bit-identical results, no rounding fudge).
  */
object AnalyticsQueries extends QueryModule {
  private def snaps(spark: SparkSession, dir: String): DataFrame =
    Snapshots.store(spark, dir)

  /** Kalshi best-bid tick series — the shared derivation of the market
    * stats family (OHLC, jumps, volatility, venue correlation): filter
    * the venue, parse the book, extract the best yes bid in cents. */
  // best yes bid via the native scan kernel — the market-stats family
  // reads ONE extreme per row, so materializing the whole parsed book
  // (from_json is CodegenFallback) was pure overhead
  private def kalshiTicks(spark: SparkSession, dir: String): DataFrame =
    snaps(spark, dir).filter(col("source") === "kalshi")
      .withColumn("p",
        call_function("kalshi_max_cents", col("full_orderbook"), lit("yes")))

  /** Per-source redundancy of a snapshot frame: rows whose
    * `full_orderbook` is byte-identical to the same (source, ticker)
    * series' previous row, as a share. See `snapshot_redundancy`. */
  def bookRedundancy(frames: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"), col("ticker"))
      .orderBy(col("ts_us"), col("snapshot_id"))
    frames
      .withColumn("prev_book", lag(col("full_orderbook"), 1).over(w))
      .withColumn("changed", col("prev_book").isNull ||
        col("full_orderbook") =!= col("prev_book"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_snapshots"),
        sum(when(col("changed"), 1L).otherwise(0L)).as("n_changed"))
      .withColumn("redundancy_ratio",
        lit(1.0) - col("n_changed").cast("double") /
          col("n_snapshots").cast("double"))
      .orderBy("source")
  }

  // Polymarket condition_id of market Tk — the venue-native series key.
  private[graft] def condId(market: String): String =
    "0x" + java.security.MessageDigest.getInstance("MD5")
      .digest(market.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val t3Cond = "'0x' || md5('T3')"

  // --- oracle SQL, then the registered queries ----------------------------

  private val kYes = s"(CAST(${S.p} AS DOUBLE) / 100)"
  private val pBid = s"(CAST(${S.p} - 1 AS DOUBLE) / 100)"
  private val pAsk = s"(CAST(${S.p} + 1 AS DOUBLE) / 100)"
  private val pMid = s"(($pBid + $pAsk) / 2.0)"

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("available_tickers", (s, d) =>
      TickerSeries.availableTickers(snaps(s, d)).orderBy("ticker", "source"),
      s"SELECT DISTINCT ${S.ticker} AS ticker, ${S.source} AS source FROM events ORDER BY ticker, source"),

    QuerySpec("ticker_series_raw", (s, d) =>
      TickerSeries.raw(snaps(s, d), "T3", "kalshi"),
      s"""SELECT ${S.tsUs} AS ts_us, event_id AS snapshot_id, 'T3' AS ticker,
         |$kYes AS yes, 1.0 - $kYes AS no
         |FROM events WHERE ${S.isKalshi} AND user_id % 8 = 3
         |ORDER BY ts_us, snapshot_id""".stripMargin),

    QuerySpec("ticker_series_poly", (s, d) =>
      TickerSeries.raw(snaps(s, d), condId("T3"), "polymarket"),
      s"""SELECT ${S.tsUs} AS ts_us, event_id AS snapshot_id,
         |$t3Cond AS ticker,
         |CASE WHEN $pMid > 0.5 THEN 1.0 - $pMid ELSE $pMid END AS yes,
         |CASE WHEN $pMid > 0.5 THEN $pMid ELSE 1.0 - $pMid END AS no
         |FROM events WHERE NOT ${S.isKalshi} AND user_id % 8 = 3
         |ORDER BY ts_us, snapshot_id""".stripMargin),

    // range-bounded variant (ref start/end handling, `etl/query.py:109-143`):
    // Jan 10-20 of the fixture's Jan 2024 window
    QuerySpec("ticker_series_range", (s, d) =>
      TickerSeries.raw(snaps(s, d), "T3", "kalshi",
        startUs = Some(1704844800000000L),  // 2024-01-10T00:00:00Z
        endUs = Some(1705708800000000L)),  // 2024-01-20T00:00:00Z
      s"""SELECT ${S.tsUs} AS ts_us, event_id AS snapshot_id, 'T3' AS ticker,
         |$kYes AS yes, 1.0 - $kYes AS no
         |FROM events WHERE ${S.isKalshi} AND user_id % 8 = 3
         |  AND epoch_us(ts) >= 1704844800000000
         |  AND epoch_us(ts) < 1705708800000000
         |ORDER BY ts_us, snapshot_id""".stripMargin),

    // the reference's full period set is 1m/5m/1h/24h (`etl/query.py:146-157`)
    QuerySpec("ticker_series_1m", (s, d) =>
      TickerSeries.downsampled(snaps(s, d), "T3", "kalshi", "1 minute"),
      downsampleOracle("date_trunc('minute', ts)")),

    QuerySpec("ticker_series_5m", (s, d) =>
      TickerSeries.downsampled(snaps(s, d), "T3", "kalshi", "5 minutes"),
      // Spark's window() and DuckDB's time_bucket both align sub-day buckets
      // to the unix epoch, so 5-minute bucket starts agree exactly
      downsampleOracle("time_bucket(INTERVAL '5 minutes', ts)")),

    QuerySpec("ticker_series_1h", (s, d) =>
      TickerSeries.downsampled(snaps(s, d), "T3", "kalshi", "1 hour"),
      downsampleOracle("date_trunc('hour', ts)")),

    QuerySpec("ticker_series_24h", (s, d) =>
      TickerSeries.downsampled(snaps(s, d), "T3", "kalshi", "24 hours"),
      downsampleOracle("date_trunc('day', ts)")),

    QuerySpec("best_price", (s, d) => {
      // four independent extremes per row: four linear kernel scans stay
      // inside whole-stage codegen vs one interpreted from_json that
      // materializes the full nested book
      def ext(fn: String, side: String) =
        call_function(fn, col("full_orderbook"), lit(side))
      val k = snaps(s, d).filter(col("source") === "kalshi")
      k.select(
        col("ts_us"), col("snapshot_id"), col("ticker"),
        ext("kalshi_max_cents", "yes").as("yes_bid_cents"),
        ext("kalshi_min_cents", "yes").as("yes_ask_cents"),
        ext("kalshi_max_cents", "no").as("no_bid_cents"),
        ext("kalshi_min_cents", "no").as("no_ask_cents"),
        Books.centsToDollars(ext("kalshi_max_cents", "yes")).as("yes_bid"))
      // no trailing global sort (r18, the market_scan posture): one
      // output row per snapshot; the compare sorts rows itself
    },
      s"""SELECT ${S.tsUs} AS ts_us, event_id AS snapshot_id,
         |${S.market} AS ticker,
         |CAST(${S.p} AS BIGINT) AS yes_bid_cents,
         |CAST(${S.p} - 1 AS BIGINT) AS yes_ask_cents,
         |CAST(99 - ${S.p} AS BIGINT) AS no_bid_cents,
         |CAST(98 - ${S.p} AS BIGINT) AS no_ask_cents,
         |$kYes AS yes_bid
         |FROM events WHERE ${S.isKalshi}
         |ORDER BY ts_us, snapshot_id""".stripMargin),

    QuerySpec("topofbook", (s, d) => {
      val p = snaps(s, d).filter(col("source") === "polymarket")
        .withColumn("ob",
          Books.parsePoly(col("full_orderbook")).getField("orderbook"))
        .withColumn("tob", Books.topOfBook(col("ob.bids"), col("ob.asks")))
      p.select(
        col("ts_us"), col("snapshot_id"), col("ticker"),
        col("tob.best_bid").as("best_bid"),
        col("tob.best_ask").as("best_ask"),
        col("tob.bid_levels").as("bid_levels"),
        col("tob.ask_levels").as("ask_levels"),
        col("tob.midpoint").as("midpoint"),
        col("tob.spread").as("spread"))
      // no trailing global sort (r18): see best_price
    },
      s"""SELECT ${S.tsUs} AS ts_us, event_id AS snapshot_id,
         |${S.conditionId} AS ticker,
         |$pBid AS best_bid, $pAsk AS best_ask,
         |CAST(2 AS INTEGER) AS bid_levels, CAST(2 AS INTEGER) AS ask_levels,
         |($pBid + $pAsk) / 2.0 AS midpoint, $pAsk - $pBid AS spread
         |FROM events WHERE NOT ${S.isKalshi}
         |ORDER BY ts_us, snapshot_id""".stripMargin),

    // OHLC candles: the canonical financial downsample the reference's
    // last-only series imply — per 1 h bucket: open (first by µs+id),
    // high, low, close (last by µs+id), tick count. ONE hash aggregate
    // with map-side partial min_by/max_by/min/max — never a window sort
    // over the series; the same latest-per-key discipline as W1.
    QuerySpec("ohlc_1h", (s, d) => {
      val k = kalshiTicks(s, d).filter(col("ticker") === "T3")
        .withColumn("bucket_us",
          expr("ts_us DIV 3600000000 * 3600000000"))
      k.groupBy(col("bucket_us"))
        .agg(
          min_by(col("p"), struct(col("ts_us"), col("snapshot_id")))
            .as("open"),
          max(col("p")).as("high"),
          min(col("p")).as("low"),
          max_by(col("p"), struct(col("ts_us"), col("snapshot_id")))
            .as("close"),
          count(lit(1)).as("n_ticks"))
        .orderBy("bucket_us")
    },
      s"""WITH e AS (
         |  SELECT ${S.tsUs} AS u, event_id AS id,
         |    CAST(${S.p} AS BIGINT) AS p,
         |    ${S.tsUs} // 3600000000 * 3600000000 AS bucket_us
         |  FROM events
         |  WHERE ${S.isKalshi} AND ${S.market} = 'T3'),
         |o AS (
         |  SELECT bucket_us, p AS open FROM (
         |    SELECT bucket_us, p, row_number() OVER (PARTITION BY bucket_us
         |      ORDER BY u, id) AS rn FROM e) WHERE rn = 1),
         |c AS (
         |  SELECT bucket_us, p AS close FROM (
         |    SELECT bucket_us, p, row_number() OVER (PARTITION BY bucket_us
         |      ORDER BY u DESC, id DESC) AS rn FROM e) WHERE rn = 1),
         |hl AS (
         |  SELECT bucket_us, max(p) AS high, min(p) AS low,
         |    count(*) AS n_ticks
         |  FROM e GROUP BY bucket_us)
         |SELECT bucket_us, open, high, low, close, n_ticks
         |FROM hl JOIN o USING (bucket_us) JOIN c USING (bucket_us)
         |ORDER BY bucket_us""".stripMargin),

    // Ingestion-efficiency rollup: share of snapshots whose book is
    // byte-identical to the same series' previous snapshot (the
    // reference stores every poll; at scale this ratio is what retention
    // and change-only storage get tuned on). One lag window per
    // (source, ticker) series comparing the RAW book payload; the oracle
    // compares the (p, q1, q2) tuple that fully determines the book.
    QuerySpec("snapshot_redundancy", (s, d) => bookRedundancy(snaps(s, d)),
      // book identity ⟺ (p, q1, q2) identity: both venue book templates
      // are injective in those three fields within a series
      s"""WITH e AS (
         |  SELECT ${S.source} AS source, ${S.ticker} AS ticker,
         |    ${S.tsUs} AS u, event_id AS id,
         |    ${S.p} AS p, ${S.q1} AS q1, ${S.q2} AS q2
         |  FROM events),
         |l AS (
         |  SELECT source,
         |    lag(p) OVER w AS pp, lag(q1) OVER w AS pq1,
         |    lag(q2) OVER w AS pq2, p, q1, q2
         |  FROM e WINDOW w AS (PARTITION BY source, ticker
         |    ORDER BY u, id)),
         |g AS (
         |  SELECT source, count(*) AS n_snapshots,
         |    CAST(sum(CASE WHEN pp IS NULL OR p <> pp OR q1 <> pq1
         |      OR q2 <> pq2 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
         |  FROM l GROUP BY source)
         |SELECT source, n_snapshots, n_changed,
         |  1.0 - CAST(n_changed AS DOUBLE) / CAST(n_snapshots AS DOUBLE)
         |    AS redundancy_ratio
         |FROM g ORDER BY source""".stripMargin),

    // Large-move detector: snapshots where the best bid jumped >= 5 cents
    // vs the previous snapshot of the SAME market — the trigger shape of
    // the reference's opportunity re-evaluation. One lag window per
    // market key (shuffle on market, sort within); integer deltas.
    QuerySpec("price_jumps", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("market"))
        .orderBy(col("ts_us"), col("snapshot_id"))
      kalshiTicks(s, d)
        .withColumn("prev_p", lag(col("p"), 1).over(w))
        .withColumn("delta", col("p") - col("prev_p"))
        .filter(abs(col("delta")) >= 5)
        .select(col("market"), col("ts_us"), col("snapshot_id"),
          col("p"), col("prev_p"), col("delta"))
      // no trailing global sort (r18): the per-market window already
      // ran; a second full sort was presentation-only
    },
      s"""SELECT * FROM (
         |  SELECT ${S.market} AS market, ${S.tsUs} AS ts_us,
         |    event_id AS snapshot_id,
         |    CAST(${S.p} AS BIGINT) AS p,
         |    lag(CAST(${S.p} AS BIGINT)) OVER (PARTITION BY ${S.market}
         |      ORDER BY ${S.tsUs}, event_id) AS prev_p,
         |    CAST(${S.p} AS BIGINT) - lag(CAST(${S.p} AS BIGINT))
         |      OVER (PARTITION BY ${S.market}
         |        ORDER BY ${S.tsUs}, event_id) AS delta
         |  FROM events WHERE ${S.isKalshi})
         |WHERE abs(delta) >= 5
         |ORDER BY market, ts_us, snapshot_id""".stripMargin),

    // Per-market hourly volatility from exact integer power sums: one
    // hash aggregate carrying (n, Σp, Σp²); sample stddev evaluated once
    // from the sums and rounded to 6 (the price_qty_corr discipline),
    // NULL for single-tick buckets.
    QuerySpec("volatility_1h", (s, d) => {
      val k = kalshiTicks(s, d)
        .withColumn("bucket_us",
          expr("ts_us DIV 3600000000 * 3600000000"))
      k.groupBy(col("market"), col("bucket_us"))
        .agg(count(lit(1)).as("n"),
          sum(col("p")).cast("double").as("sx"),
          sum(col("p") * col("p")).cast("double").as("sxx"))
        .select(col("market"), col("bucket_us"), col("n"),
          when(col("n") < 2, lit(null).cast("double"))
            .otherwise(round(sqrt(
              (col("n") * col("sxx") - col("sx") * col("sx")) /
                (col("n") * (col("n") - 1))), 6)).as("stddev_cents"))
      // no trailing global sort (r18): see best_price
    },
      s"""WITH e AS (
         |  SELECT ${S.market} AS market,
         |    ${S.tsUs} // 3600000000 * 3600000000 AS bucket_us,
         |    CAST(${S.p} AS BIGINT) AS p
         |  FROM events WHERE ${S.isKalshi}),
         |g AS (
         |  SELECT market, bucket_us, count(*) AS n,
         |    CAST(sum(p) AS DOUBLE) AS sx,
         |    CAST(sum(p * p) AS DOUBLE) AS sxx
         |  FROM e GROUP BY 1, 2)
         |SELECT market, bucket_us, n,
         |  CASE WHEN n < 2 THEN NULL
         |    ELSE round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6)
         |  END AS stddev_cents
         |FROM g ORDER BY market, bucket_us""".stripMargin),

    // Microstructure: order-book depth imbalance per Polymarket snapshot
    // — (bid_depth − ask_depth) / (bid_depth + ask_depth), the standard
    // pressure signal. Depths are HOF sums over the parsed book arrays
    // (sequential element-order adds of exact-integer-valued doubles, so
    // bit-reproducible); one division at the end.
    QuerySpec("depth_imbalance", (s, d) => {
      val depth = (side: Column) =>
        aggregate(side, lit(0.0), (acc, x) => acc + x.getField("size"))
      val p = snaps(s, d).filter(col("source") === "polymarket")
        .withColumn("ob",
          Books.parsePoly(col("full_orderbook")).getField("orderbook"))
        .withColumn("bid_depth", depth(col("ob.bids")))
        .withColumn("ask_depth", depth(col("ob.asks")))
      p.select(col("ts_us"), col("snapshot_id"), col("ticker"),
        col("bid_depth"), col("ask_depth"),
        ((col("bid_depth") - col("ask_depth")) /
          (col("bid_depth") + col("ask_depth"))).as("imbalance"))
      // no trailing global sort (r18): see best_price
    },
      // bids carry (q1, q2), asks (17, q1); the engine's HOF depth sums add
      // exact-integer-valued doubles in element order, so the closed-form
      // integer sums cast to double are bit-identical
      s"""SELECT ${S.tsUs} AS ts_us, event_id AS snapshot_id,
         |${S.conditionId} AS ticker,
         |CAST(${S.q1} + ${S.q2} AS DOUBLE) AS bid_depth,
         |CAST(17 + ${S.q1} AS DOUBLE) AS ask_depth,
         |(CAST(${S.q1} + ${S.q2} AS DOUBLE) - CAST(17 + ${S.q1} AS DOUBLE))
         |  / (CAST(${S.q1} + ${S.q2} AS DOUBLE)
         |     + CAST(17 + ${S.q1} AS DOUBLE)) AS imbalance
         |FROM events WHERE NOT ${S.isKalshi}
         |ORDER BY ts_us, snapshot_id""".stripMargin),

    // Cross-venue price correlation per market: both legs downsampled to
    // 1-minute last-price series (µs+id max_by, the engine's canonical
    // downsample), joined on (market, bucket), Pearson over the buckets
    // via exact LONG power sums (prices are cents ≤ 96; sums stay far
    // under 2^53) with the closed form evaluated once and rounded to 12 —
    // the price_qty_corr determinism discipline. The kalshi leg reads the
    // book's best yes bid; the poly leg recovers cents from yes_price.
    QuerySpec("venue_correlation", (s, d) => {
      val k = kalshiTicks(s, d)
        .withColumn("bucket", expr("ts_us DIV 60000000"))
        .groupBy(col("market"), col("bucket"))
        .agg(max_by(col("p"), struct(col("ts_us"), col("snapshot_id")))
          .as("kp"))
      val pl = snaps(s, d)
        .withColumn("bucket", expr("ts_us DIV 60000000"))
        .filter(col("source") === "polymarket")
        .withColumn("cents",
          round(Books.parsePoly(col("full_orderbook"))
            .getField("yes_price") * 100.0, 0).cast("long"))
        .groupBy(col("market"), col("bucket"))
        .agg(max_by(col("cents"), struct(col("ts_us"), col("snapshot_id")))
          .as("pp"))
      k.join(pl, Seq("market", "bucket"))
        .groupBy(col("market"))
        .agg(
          count(lit(1)).as("n_buckets"),
          sum(col("kp")).cast("double").as("sx"),
          sum(col("pp")).cast("double").as("sy"),
          sum(col("kp") * col("kp")).cast("double").as("sxx"),
          sum(col("pp") * col("pp")).cast("double").as("syy"),
          sum(col("kp") * col("pp")).cast("double").as("sxy"))
        .withColumn("den",
          sqrt(col("n_buckets") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n_buckets") * col("syy") - col("sy") * col("sy")))
        // zero-variance leg (constant price at small scale) -> undefined
        // correlation, emitted as NULL, never a divide error
        .select(col("market").as("ticker"), col("n_buckets"),
          when(col("den") === 0.0, lit(null).cast("double"))
            .otherwise(round(
              (col("n_buckets") * col("sxy") - col("sx") * col("sy")) /
                col("den"), 12)).as("venue_corr"))
        .orderBy("ticker")
    },
      s"""WITH e AS (
         |  SELECT ${S.market} AS m, ${S.tsUs} // 60000000 AS b,
         |    ${S.tsUs} AS u, event_id, ${S.p} AS p, ${S.isKalshi} AS ik
         |  FROM events),
         |k AS (
         |  SELECT m, b, CAST(p AS BIGINT) AS kp FROM (
         |    SELECT m, b, p, row_number() OVER (PARTITION BY m, b
         |      ORDER BY u DESC, event_id DESC) AS rn
         |    FROM e WHERE ik) WHERE rn = 1),
         |pl AS (
         |  SELECT m, b, CAST(p AS BIGINT) AS pp FROM (
         |    SELECT m, b, p, row_number() OVER (PARTITION BY m, b
         |      ORDER BY u DESC, event_id DESC) AS rn
         |    FROM e WHERE NOT ik) WHERE rn = 1),
         |s AS (
         |  SELECT m, count(*) AS n,
         |    CAST(sum(kp) AS DOUBLE) AS sx, CAST(sum(pp) AS DOUBLE) AS sy,
         |    CAST(sum(kp * kp) AS DOUBLE) AS sxx,
         |    CAST(sum(pp * pp) AS DOUBLE) AS syy,
         |    CAST(sum(kp * pp) AS DOUBLE) AS sxy
         |  FROM k JOIN pl USING (m, b) GROUP BY m)
         |SELECT m AS ticker, n AS n_buckets,
         |  CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) = 0
         |    THEN NULL
         |    ELSE round((n * sxy - sx * sy) /
         |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12)
         |  END AS venue_corr
         |FROM s ORDER BY ticker""".stripMargin),

    QuerySpec("fill_walk", (s, d) => {
      val k = snaps(s, d).filter(col("source") === "kalshi")
        .withColumn("book", Books.parseKalshi(col("full_orderbook")))
      k.select(
        col("ts_us"), col("snapshot_id"), col("ticker"),
        Books.fillWalkAvgPriceDollars(col("book.yes"), lit(25L))
          .as("avg_fill_price"))
      // no trailing global sort (r18): see best_price
    },
      s"""SELECT ${S.tsUs} AS ts_us, event_id AS snapshot_id,
         |${S.market} AS ticker,
         |CASE WHEN ${S.q1} + ${S.q2} < 25 THEN CAST(0.0 AS DOUBLE)
         |     ELSE CAST(LEAST(${S.q1}, 25) * ${S.p}
         |            + LEAST(${S.q2}, 25 - LEAST(${S.q1}, 25)) * (${S.p} - 1)
         |            AS DOUBLE) / (CAST(100 AS DOUBLE) * CAST(25 AS DOUBLE))
         |END AS avg_fill_price
         |FROM events WHERE ${S.isKalshi}
         |ORDER BY ts_us, snapshot_id""".stripMargin),

    // U1: the typed-Aggregator twin of fill_walk. One row per book level
    // (posexplode carries book order), grouped per snapshot and walked by
    // FillWalkAggregator's zero/reduce/finish over the per-group iterator
    // that `flatMapSortedGroups` guarantees sorted by level position — the
    // only aggregation API whose within-group row order is a contract.
    // (A udaf() form was tried first and FillWalkAggregator.merge failed
    // loudly, exactly as designed: ObjectHashAggregateExec falls back to
    // sort-based aggregation past 128 distinct groups, which both splits a
    // group across partial buffers and re-sorts rows by grouping key only,
    // so no hash-aggregate plan can promise level order.) The oracle is
    // fill_walk's closed form — a green row proves the typed-Aggregator
    // walk agrees with the order-safe array-HOF walk.
    QuerySpec("fill_walk_agg", (s, d) => {
      import s.implicits._
      val agg = new graft.functions.FillWalkAggregator(25L)
      snaps(s, d).filter(col("source") === "kalshi")
        .withColumn("book", Books.parseKalshi(col("full_orderbook")))
        .select(col("ts_us"), col("snapshot_id"), col("ticker"),
          posexplode(col("book.yes")).as(Seq("pos", "lvl")))
        .select(col("ts_us"), col("snapshot_id"), col("ticker"), col("pos"),
          element_at(col("lvl"), 1).as("price"),
          element_at(col("lvl"), 2).as("qty"))
        // expression-keyed grouping (`groupBy(...).as[K, V]`) keeps the
        // shuffle key in Tungsten — the lambda `groupByKey(r => ...)` form
        // deserializes EVERY exploded level row just to compute its key,
        // which was the whole cost of this query (8.1 s → ~3 s at sf0.1)
        .groupBy(col("ts_us"), col("snapshot_id"), col("ticker"))
        .as[(Long, Long, String), (Long, Long, String, Int, Long, Long)]
        .flatMapSortedGroups(col("pos")) { (key, rows) =>
          val acc = rows.foldLeft(agg.zero)((a, r) => agg.reduce(a, (r._5, r._6)))
          Iterator((key._1, key._2, key._3, agg.finish(acc)))
        }
        .toDF("ts_us", "snapshot_id", "ticker", "avg_fill_price")
        .orderBy("ts_us", "snapshot_id")
    },
      // identical closed form to fill_walk: the Aggregator must agree
      s"""SELECT ${S.tsUs} AS ts_us, event_id AS snapshot_id,
         |${S.market} AS ticker,
         |CASE WHEN ${S.q1} + ${S.q2} < 25 THEN CAST(0.0 AS DOUBLE)
         |     ELSE CAST(LEAST(${S.q1}, 25) * ${S.p}
         |            + LEAST(${S.q2}, 25 - LEAST(${S.q1}, 25)) * (${S.p} - 1)
         |            AS DOUBLE) / (CAST(100 AS DOUBLE) * CAST(25 AS DOUBLE))
         |END AS avg_fill_price
         |FROM events WHERE ${S.isKalshi}
         |ORDER BY ts_us, snapshot_id""".stripMargin),

    QuerySpec("latency_chain", (s, d) =>
      snaps(s, d).select(
        col("ts_us"), col("snapshot_id"), col("source"),
        expr("(api_response_ns - api_call_start_ns) DIV 1000")
          .as("api_latency_us"),
        expr("(virginia_received_ns - api_response_ns) DIV 1000000")
          .as("ingest_ms"),
        expr("(data_server_stored_ns - api_call_start_ns) DIV 1000000")
          .as("e2e_ms")),
      // ^ no trailing global sort (r18): see best_price
      s"""SELECT ${S.tsUs} AS ts_us, event_id AS snapshot_id,
         |${S.source} AS source,
         |((event_id % 500) + 20) * 1000 AS api_latency_us,
         |(user_id % 50) + 1 AS ingest_ms,
         |((event_id % 500) + 20) + ((user_id % 50) + 1)
         |  + ((event_id % 200) + 5) AS e2e_ms
         |FROM events ORDER BY ts_us, snapshot_id""".stripMargin))

  private def downsampleOracle(bucketExpr: String): String =
    s"""SELECT epoch_us($bucketExpr) AS bucket_us,
       |${S.tsUs} AS ts_us, event_id AS snapshot_id,
       |$kYes AS yes, 1.0 - $kYes AS no
       |FROM events WHERE ${S.isKalshi} AND user_id % 8 = 3
       |QUALIFY row_number() OVER (PARTITION BY $bucketExpr
       |  ORDER BY ts DESC, event_id DESC) = 1
       |ORDER BY bucket_us""".stripMargin
}
