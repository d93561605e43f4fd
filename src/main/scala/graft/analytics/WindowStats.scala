package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryModule, QuerySpec}
import graft.sources.{Snapshots, Tables}
import graft.sources.Snapshots.{sql => S}

/** Window-function operators (A7, W4, W5) and the remaining scalar surface
  * (F7 JSON round-trip, F10 timezone conversion, J4 array semi-join,
  * J5 explode).
  *
  * Rolling aggregates are written as window SUM/COUNT of exact integers
  * with one final double division — the windowed mean itself is then
  * bit-deterministic regardless of evaluation order, which a windowed
  * AVG over doubles would not be. Each window query shuffles once on its
  * partition key; at 100 TB, per-key history is bounded (the reference
  * keeps 50-100 samples), so no partition outgrows an executor.
  */
object WindowStats extends QueryModule {
  /** A7: rolling mean over the last 50 latency samples per source
    * (ref `database/influx/writer.py:386-392`). */
  def rollingLatency(snaps: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("ts_us"), col("snapshot_id"))
      .rowsBetween(-49, 0)
    snaps
      .withColumn("api_latency_us",
        expr("(api_response_ns - api_call_start_ns) DIV 1000"))
      .select(col("ts_us"), col("snapshot_id"), col("source"),
        col("api_latency_us"),
        (sum(col("api_latency_us")).over(w).cast("double") /
          count(lit(1)).over(w)).as("rolling_avg_latency_us"))
      // no trailing global sort (r18, the market_scan posture): the
      // driver's compare sorts rows itself; a second full sort of the
      // per-snapshot output after the per-source window is presentation
  }

  /** W4: retention window — keep the last N rows per key
    * (ref last-100 opportunities, `opportunity_scanner.py:519-521`).
    * Ranked on µs-truncated time + event_id: the oracle's reader only
    * sees µs, so raw-ns ordering could disagree whenever two same-key
    * rows share a µs. */
  def retainLastN(events: DataFrame, n: Int): DataFrame =
    events
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("event_id").desc)))
      .filter(col("rn") <= n)
      .select(col("user_id"), col("event_id"), col("rn"), col("ts_us"))
      .orderBy("user_id", "rn")

  /** W5: last normalized value per series (Flux `last()` per tag set,
    * ref `database/influx/client.py:382-388`). */
  def lastPerSeries(snaps: DataFrame): DataFrame =
    snaps.groupBy(col("ticker"), col("source"))
      .agg(max_by(struct(col("ts_us"), col("snapshot_id"),
        col("full_orderbook")),
        struct(col("ts_us"), col("snapshot_id"))).as("s"))
      .select(col("ticker"), col("source"),
        col("s.ts_us").as("last_ts_us"),
        col("s.snapshot_id").as("last_snapshot_id"))
      .orderBy("ticker", "source")

  /** Per-source sketch estimates WITH their exact twins — HLL++ distinct
    * counts and approx percentiles next to exact count_distinct and
    * rank-window percentiles. The registered `approx_corpus_stats` query
    * projects engine-independent agreement booleans from this frame; the
    * raw estimates stay available for telemetry and for the error-bound
    * assertions in WindowStatsSpec. The exact twins exist for
    * certification — at 100 TB production reads the sketch columns
    * (fixed-size mergeable buffers), not the exact ones. */
  def approxCorpusSketches(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .withColumn("h",
        md5(graft.text.TextOps.norm(col("text")).cast("binary")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        count_distinct(col("h")).as("exact_distinct_docs"),
        approx_count_distinct(col("h")).as("approx_distinct_docs"),
        approx_count_distinct(col("lang")).as("approx_distinct_langs"),
        percentile_approx(col("n_chars"), lit(0.5), lit(10000))
          .as("p50_chars"),
        percentile_approx(col("n_chars"), lit(0.95), lit(10000))
          .as("p95_chars"),
        expr("percentile(n_chars, 0.45)").as("p45_exact"),
        expr("percentile(n_chars, 0.55)").as("p55_exact"),
        expr("percentile(n_chars, 0.90)").as("p90_exact"),
        expr("percentile(n_chars, 1.0)").as("p100_exact"))

  private val NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  val specs: Seq[QuerySpec] = Seq(
    // Exact latency percentiles per source (the reference reports avg
    // latencies; p50/p95/p99 are the production-grade summary). Spark's
    // exact `percentile` and DuckDB's `quantile_cont` share the same
    // linear-interpolation arithmetic — verified bit-identical.
    QuerySpec("latency_quantiles", (s, d) =>
      Snapshots.store(s, d)
        .withColumn("api_latency_us",
          expr("(api_response_ns - api_call_start_ns) DIV 1000"))
        .groupBy("source")
        .agg(expr("percentile(api_latency_us, array(0.5D, 0.95D, 0.99D))")
          .as("q"))
        .select(col("source"),
          element_at(col("q"), 1).as("p50"),
          element_at(col("q"), 2).as("p95"),
          element_at(col("q"), 3).as("p99"))
        .orderBy("source"),
      s"""SELECT ${S.source} AS source,
         |quantile_cont(((event_id % 500) + 20) * 1000, 0.5) AS p50,
         |quantile_cont(((event_id % 500) + 20) * 1000, 0.95) AS p95,
         |quantile_cont(((event_id % 500) + 20) * 1000, 0.99) AS p99
         |FROM events GROUP BY 1 ORDER BY source""".stripMargin),

    QuerySpec("rolling_latency", (s, d) =>
      rollingLatency(Snapshots.store(s, d)),
      s"""SELECT epoch_us(ts) AS ts_us, event_id AS snapshot_id,
         |${S.source} AS source,
         |((event_id % 500) + 20) * 1000 AS api_latency_us,
         |CAST(sum(((event_id % 500) + 20) * 1000) OVER w AS DOUBLE)
         |  / count(*) OVER w AS rolling_avg_latency_us
         |FROM events
         |WINDOW w AS (PARTITION BY ${S.source} ORDER BY ts, event_id
         |  ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
         |ORDER BY source, ts_us, snapshot_id""".stripMargin),

    QuerySpec("retention_window", (s, d) =>
      retainLastN(Tables.events(s, d), 20),
      """SELECT user_id, event_id,
        |CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts DESC,
        |  event_id DESC) AS INTEGER) AS rn,
        |epoch_us(ts) AS ts_us
        |FROM events
        |QUALIFY rn <= 20
        |ORDER BY user_id, rn""".stripMargin),

    QuerySpec("last_per_series", (s, d) => lastPerSeries(Snapshots.store(s, d)),
      s"""SELECT ${S.ticker} AS ticker, ${S.source} AS source,
         |epoch_us(ts) AS last_ts_us, event_id AS last_snapshot_id
         |FROM events
         |QUALIFY row_number() OVER (PARTITION BY ${S.ticker}, ${S.source}
         |  ORDER BY ts DESC, event_id DESC) = 1
         |ORDER BY ticker, source""".stripMargin),

    // J4: snapshot-correlation semi-join — containment on a collected id
    // array (ref `database/postgres/writer.py:470-497`). The collect_set
    // is per-order (bounded), the filter is an array_contains.
    // r17: the containment filter keeps only orders with a partkey-1
    // line (a handful at any scale), but the old plan built a sorted
    // partkey set for EVERY order first and filtered after the
    // aggregate. Pre-reduce with a semi-join on the selective key
    // (guide §2.3 — don't aggregate what the filter will drop): the
    // matching order keys are a tiny distinct broadcast, the aggregate
    // then runs over only their lines. Identical rows. 10x: 6.6 → sub-s.
    QuerySpec("order_parts_semijoin", (s, d) => {
      val li = Tables(s, d, "lineitem")
      val keys = li.filter(col("l_partkey") === 1L)
        .select(col("l_orderkey")).distinct()
      li.join(broadcast(keys), Seq("l_orderkey"), "left_semi")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("partkeys"))
        .filter(array_contains(col("partkeys"), lit(1L)))
        .select(col("l_orderkey"), size(col("partkeys")).as("n_parts"))
        .orderBy("l_orderkey")
    },
      """SELECT l_orderkey, CAST(count(DISTINCT l_partkey) AS INTEGER) AS n_parts
        |FROM lineitem
        |GROUP BY l_orderkey
        |HAVING bool_or(l_partkey = 1)
        |ORDER BY l_orderkey""".stripMargin),

    // J4 exact shape: trades-using-a-snapshot is a disjunction of the
    // direct key AND array containment — `executed_snapshot_id = $1 OR
    // analyzed_snapshot_ids @> [$1]` (ref `database/postgres/writer.py:
    // 482-489`). Derived trades frame: executed id is key arithmetic,
    // analyzed ids are the collected partkeys.
    QuerySpec("snapshot_correlation", (s, d) => {
      // the output only needs the distinct COUNT and a membership FLAG,
      // so the id-set disjunction (`executed = $1 OR analyzed @> [$1]`)
      // is computed without ever materializing the per-order array —
      // collect_set buffers are the one agg shape whose memory is
      // unbounded in group size, exactly what a 100 TB shuffle can't
      // carry. bool_or(l_partkey = 42) ≡ array_contains(set, 42).
      // r17: pre-reduce with a semi-join on the disjunction's order
      // keys (guide §2.3) — both disjuncts are selective (the key
      // arithmetic keeps ~1/3000 of orders, the partkey-42 containment
      // a handful), but the old plan aggregated EVERY order and
      // filtered after. The surviving key set is a tiny distinct
      // broadcast; the aggregate runs over only its lines. Identical
      // rows. 10x: 6.3 → sub-s.
      val li = Tables(s, d, "lineitem")
      val keys = li.filter(
        (col("l_orderkey") * 7) % 3000 === 42 || col("l_partkey") === 42)
        .select(col("l_orderkey")).distinct()
      li.join(broadcast(keys), Seq("l_orderkey"), "left_semi")
        .groupBy(col("l_orderkey"))
        .agg(
          count_distinct(col("l_partkey")).cast("int").as("n_analyzed"),
          bool_or(col("l_partkey") === 42).as("used_in_analysis"))
        .withColumn("executed_snapshot_id", (col("l_orderkey") * 7) % 3000)
        .filter(col("executed_snapshot_id") === 42 || col("used_in_analysis"))
        .select(col("l_orderkey"), col("executed_snapshot_id"),
          col("n_analyzed"), col("used_in_analysis"))
        .orderBy("l_orderkey")
    },
      """SELECT l_orderkey,
        |CAST((l_orderkey * 7) % 3000 AS BIGINT) AS executed_snapshot_id,
        |CAST(count(DISTINCT l_partkey) AS INTEGER) AS n_analyzed,
        |bool_or(l_partkey = 42) AS used_in_analysis
        |FROM lineitem
        |GROUP BY l_orderkey
        |HAVING (l_orderkey * 7) % 3000 = 42 OR bool_or(l_partkey = 42)
        |ORDER BY l_orderkey""".stripMargin),

    // SET1 completion: `array_union` dedup-on-append — the reference's
    // add_analyzed_snapshot appends an id only if absent
    // (ref `database/models/postgres.py:165-168`). Existing vs incoming
    // id sets per order, merged with exact set semantics.
    // r18: the sets only ever feed size/sum, so the per-order
    // collect_set buffers (the one agg shape whose memory is unbounded
    // in group size — the snapshot_correlation lesson, guide §5) are
    // replaced by a TWO-LEVEL aggregate: distinct (order, partkey)
    // grain first with bool_or(line<=3) riding the same exchange, then
    // the per-order counts/sum over already-distinct rows. Set algebra
    // preserved exactly: existing = partkeys with any line<=3 row,
    // merged = all partkeys, id_sum = each distinct partkey once
    // (coalesce keeps the old empty-set 0, not SQL NULL). Map-side
    // partial aggregation replaces array building; no Expand, one
    // full-width exchange + one reduced one.
    QuerySpec("snapshot_append", (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_orderkey"), col("l_partkey"))
        .agg(bool_or(col("l_linenumber") <= 3).as("in_existing"))
        .groupBy(col("l_orderkey"))
        .agg(
          count(when(col("in_existing"), col("l_partkey")))
            .cast("int").as("n_existing"),
          count(col("l_partkey")).cast("int").as("n_merged"),
          coalesce(sum(col("l_partkey")), lit(0L)).as("id_sum")),
      """SELECT l_orderkey,
        |CAST(count(DISTINCT CASE WHEN l_linenumber <= 3 THEN l_partkey END)
        |  AS INTEGER) AS n_existing,
        |CAST(count(DISTINCT l_partkey) AS INTEGER) AS n_merged,
        |CAST(sum(DISTINCT l_partkey) AS BIGINT) AS id_sum
        |FROM lineitem
        |GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin),

    // ^ no trailing sort (r18): one output row per order — the
    // global range sort doubled the aggregate's exchange cost
    // A7 rate form: msgs/sec over the trailing 100-message span per source
    // — the deque-based rate tracker (ref `virginia/broker/receiver.py:
    // 499-504`): rate = (n-1) / (t_newest - t_oldest). Exact integer
    // numerator/denominator, one double division.
    QuerySpec("msg_rate", (s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("ts_us"), col("snapshot_id"))
        .rowsBetween(-99, 0)
      Snapshots.store(s, d)
        .select(col("ts_us"), col("snapshot_id"), col("source"),
          count(lit(1)).over(w).as("n_win"),
          min(col("ts_us")).over(w).as("t0_us"))
        .filter(col("snapshot_id") % 50 === 0)
        .select(col("ts_us"), col("snapshot_id"), col("source"),
          when(col("ts_us") > col("t0_us"),
            ((col("n_win") - 1) * 1000000L).cast("double") /
              (col("ts_us") - col("t0_us")))
            .otherwise(lit(0.0)).as("msgs_per_sec"))
        .orderBy("source", "ts_us", "snapshot_id")
    },
      s"""SELECT * FROM (
         |  SELECT epoch_us(ts) AS ts_us, event_id AS snapshot_id,
         |  ${S.source} AS source,
         |  CASE WHEN epoch_us(ts) > min(epoch_us(ts)) OVER w
         |    THEN CAST((count(*) OVER w - 1) * 1000000 AS DOUBLE)
         |      / (epoch_us(ts) - min(epoch_us(ts)) OVER w)
         |    ELSE 0.0 END AS msgs_per_sec
         |  FROM events
         |  WINDOW w AS (PARTITION BY ${S.source} ORDER BY ts, event_id
         |    ROWS BETWEEN 99 PRECEDING AND CURRENT ROW))
         |WHERE snapshot_id % 50 = 0
         |ORDER BY source, ts_us, snapshot_id""".stripMargin),

    // J5: token-discovery explode (ref `ireland/api/data_feed.py:251-313`):
    // collected id list flattened back to rows.
    QuerySpec("token_explode", (s, d) =>
      Tables(s, d, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("token_ids"))
        .select(col("l_orderkey"), explode(col("token_ids")).as("token_id"))
        .orderBy("l_orderkey", "token_id"),
      """SELECT DISTINCT l_orderkey, l_partkey AS token_id
        |FROM lineitem WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, token_id""".stripMargin),

    // S3/J5: token-discovery lookup join — condition_id → [token_id]
    // mapping flattened to the fetch list (ref `ireland/api/data_feed.py:
    // 251-313`): each pair fans out to its YES/NO clob tokens.
    QuerySpec("token_discovery", (s, _) =>
      Snapshots.pairs(s)
        .filter(col("is_active"))
        .select(col("kalshi_ticker"),
          col("polymarket_condition_id").as("condition_id"),
          explode(array(
            concat(col("polymarket_condition_id"), lit("-Y")),
            concat(col("polymarket_condition_id"), lit("-N"))))
            .as("token_id"))
        .withColumn("outcome",
          when(col("token_id").endsWith("-Y"), lit("YES")).otherwise(lit("NO")))
        .orderBy("kalshi_ticker", "token_id"),
      s"""SELECT kalshi_ticker, polymarket_condition_id AS condition_id,
         |polymarket_condition_id || t.suffix AS token_id, t.outcome
         |FROM ${Snapshots.pairsSql} p,
         |  (VALUES ('-Y', 'YES'), ('-N', 'NO')) t(suffix, outcome)
         |WHERE is_active
         |ORDER BY kalshi_ticker, token_id""".stripMargin),

    // F8: InfluxDB line-protocol formatting at the sink boundary (ref
    // `database/models/influx.py:105-146`): tag escaping, string-field
    // escaping, integer `i` suffix, ns timestamp.
    // (kalshi rows only: the book JSON is all-integer, so the oracle can
    // rebuild the byte-exact line; float rendering would be engine-specific)
    // F8: InfluxDB line-protocol rendering covering all four field types
    // of the reference's renderer (ref `database/models/influx.py:105-146`
    // + the flag-update path `database/influx/client.py:424-455`): tag
    // values escape `,`/`=`/space, string fields escape `"` and newline
    // (exactly the reference's two replacements — backslashes pass
    // through, as there), ints carry the `i` suffix, floats render bare,
    // bools lowercase. Kalshi rows exercise the int+string branches;
    // polymarket rows add the float branch (yes/no price) and a bool
    // flag. The float TEXT is extracted verbatim from the stored JSON
    // (`get_json_object` returns the number's source text, written by
    // the same double-to-shortest-digits rendering) — render equals
    // storage byte-for-byte.
    QuerySpec("line_protocol", (s, d) => {
      def tagEsc(c: Column) =
        regexp_replace(regexp_replace(regexp_replace(c,
          ",", "\\\\,"), "=", "\\\\="), " ", "\\\\ ")
      def strEsc(c: Column) =
        regexp_replace(regexp_replace(c, "\"", "\\\\\""), "\n", "\\\\n")
      val store = Snapshots.store(s, d)
      val head = Seq[Column](
        lit("market_snapshot,source="), tagEsc(col("source")),
        lit(",ticker="), tagEsc(col("ticker")),
        lit(" full_orderbook=\""), strEsc(col("full_orderbook")))
      val timing = Seq[Column](
        lit(",api_call_start_ns="), col("api_call_start_ns"), lit("i"),
        lit(",virginia_received_ns="), col("virginia_received_ns"), lit("i"),
        lit(" "), col("ts_ns"))
      val kalshi = store
        .filter(col("snapshot_id") % 100 === 0 && col("source") === "kalshi")
        .select(col("snapshot_id"),
          concat(head ++ (lit("\"") +: timing): _*).as("line"))
      val poly = store
        .filter(col("snapshot_id") % 100 === 1 &&
          col("source") === "polymarket")
        .select(col("snapshot_id"),
          concat(head ++ Seq[Column](
            lit("\",yes_price="),
            get_json_object(col("full_orderbook"), "$.yes_price"),
            lit(",no_price="),
            get_json_object(col("full_orderbook"), "$.no_price"),
            lit(",executed="),
            when(col("ts_us") % 2 === 0, lit("true")).otherwise(lit("false"))
          ) ++ timing: _*).as("line"))
      kalshi.unionByName(poly).orderBy("snapshot_id")
    },
      {
      // the timing-int suffix shared by both row sets. Single-line on
      // purpose: this fragment is interpolated into a stripMargin
      // template, which would strip the leading `|` of a line-initial
      // `||` concatenation
      val timingSql =
        "',api_call_start_ns=' || " +
          "CAST(epoch_us(ts) * 1000 - ((event_id % 500) + 20) * 1000000 AS VARCHAR) || " +
          "'i,virginia_received_ns=' || " +
          "CAST(epoch_us(ts) * 1000 + ((user_id % 50) + 1) * 1000000 AS VARCHAR) || " +
          "'i ' || CAST(epoch_us(ts) * 1000 AS VARCHAR)"
      // shortest-roundtrip double text, matching the engine's stored JSON
      def d(expr: String) = s"CAST(CAST($expr AS DOUBLE) AS VARCHAR)"
      def cents(expr: String) = d(s"CAST($expr AS DOUBLE) / 100")
      val yes = cents(S.p)
      val no = d(s"CAST(1 AS DOUBLE) - CAST(${S.p} AS DOUBLE) / 100")
      s"""SELECT event_id AS snapshot_id,
         |'market_snapshot,source=kalshi,ticker=' || ${S.market}
         ||| ' full_orderbook="'
         ||| '{\\"yes\\":[[' || CAST(${S.p} AS VARCHAR) || ',' || CAST(${S.q1} AS VARCHAR)
         ||| '],[' || CAST(${S.p} - 1 AS VARCHAR) || ',' || CAST(${S.q2} AS VARCHAR)
         ||| ']],\\"no\\":[[' || CAST(99 - ${S.p} AS VARCHAR) || ',17],['
         ||| CAST(98 - ${S.p} AS VARCHAR) || ',' || CAST(${S.q1} AS VARCHAR) || ']]}'
         ||| '"' || $timingSql AS line
         |FROM events WHERE event_id % 100 = 0 AND ${S.isKalshi}
         |UNION ALL
         |SELECT event_id AS snapshot_id,
         |'market_snapshot,source=polymarket,ticker=' || ${S.conditionId}
         ||| ' full_orderbook="'
         ||| '{\\"condition_id\\":\\"' || ${S.conditionId}
         ||| '\\",\\"yes_price\\":' || $yes
         ||| ',\\"no_price\\":' || $no
         ||| ',\\"orderbook\\":{\\"bids\\":[{\\"price\\":' || ${cents(s"${S.p} - 1")}
         ||| ',\\"size\\":' || ${d(S.q1)}
         ||| '},{\\"price\\":' || ${cents(s"${S.p} - 2")}
         ||| ',\\"size\\":' || ${d(S.q2)}
         ||| '}],\\"asks\\":[{\\"price\\":' || ${cents(s"${S.p} + 1")}
         ||| ',\\"size\\":17.0},{\\"price\\":' || ${cents(s"${S.p} + 2")}
         ||| ',\\"size\\":' || ${d(S.q1)} || '}]}}'
         ||| '",yes_price=' || $yes || ',no_price=' || $no
         ||| ',executed=' || CASE WHEN epoch_us(ts) % 2 = 0
         |                        THEN 'true' ELSE 'false' END
         ||| $timingSql AS line
         |FROM events WHERE event_id % 100 = 1 AND NOT ${S.isKalshi}
         |ORDER BY snapshot_id""".stripMargin
    }),

    // F7: JSON decode of a real JSON column via from_json (the engine-side
    // operator; the oracle parses with a regex — semantics, not plumbing,
    // are compared).
    QuerySpec("json_props", (s, d) =>
      Tables.events(s, d)
        .withColumn("k", from_json(col("props"),
          StructType(Seq(StructField("k", IntegerType)))).getField("k"))
        .filter(col("k") > 50)
        .groupBy("k").count()
        .orderBy("k"),
      """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k,
        |count(*) AS count
        |FROM events
        |WHERE CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) > 50
        |GROUP BY 1 ORDER BY k""".stripMargin),

    // ST3 (batch twin): tumbling-window counts per event type — the
    // oracle-checkable form of StreamingLanes.windowedCounts.
    QuerySpec("events_per_minute", (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 minute").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("bucket_us"),
          col("event_type"), col("n"))
        .orderBy("bucket_us", "event_type"),
      """SELECT epoch_us(date_trunc('minute', ts)) AS bucket_us,
        |event_type, count(*) AS n
        |FROM events GROUP BY 1, 2
        |ORDER BY bucket_us, event_type""".stripMargin),

    // ST4 (batch twin): sliding-window counts — 5-minute window, 1-minute
    // slide — through the SAME transform the streaming lane runs
    // (StreamingLanes.windowedCounts with slide < every; the rolling-rate
    // shape of the reference's stats reports, `virginia/broker/receiver.py:
    // 499-504`). Each row lands in exactly 5 windows; the oracle
    // regenerates the window starts as minute-truncated bucket offsets.
    QuerySpec("events_sliding", (s, d) =>
      graft.streaming.StreamingLanes.windowedCounts(
        Snapshots.store(s, d), every = "5 minutes", slide = Some("1 minute"))
        .select(unix_micros(col("bucket")).as("bucket_us"), col("source"),
          col("n"), col("last_snapshot_id")),
      // every event belongs to the 5 sliding windows whose start is its
      // minute-truncated time minus k minutes, k=0..4 (slide-aligned starts
      // in (ts - 5min, ts]); the HUGEINT composite reproduces Spark's
      // max_by(snapshot_id, struct(ts, snapshot_id)) tiebreak exactly —
      // the 1e12 multiplier keeps event_id in its own digits even for
      // SynthScale-shifted keys (stride 1e8 × up to 10k replicas)
      s"""WITH w AS (
         |  SELECT epoch_us(date_trunc('minute', ts) - (k * INTERVAL 1 MINUTE))
         |    AS bucket_us,
         |  ${S.source} AS source, epoch_us(ts) AS ts_us, event_id
         |  FROM events, (SELECT unnest(generate_series(0, 4)) AS k))
         |SELECT bucket_us, source, count(*) AS n,
         |  arg_max(event_id, CAST(ts_us AS HUGEINT) * 1000000000000 + event_id)
         |    AS last_snapshot_id
         |FROM w GROUP BY bucket_us, source
         |ORDER BY bucket_us, source""".stripMargin),

    // ^ no trailing sort (r18): 5 windows per row make this the
    // engine's widest output frame; the compare sorts rows itself
    // Corpus-level rollup over documents: per-source token/char totals and
    // mean quality inputs (exact integer sums, one final division).
    QuerySpec("corpus_stats", (s, d) =>
      Tables(s, d, "documents")
        .withColumn("n", graft.text.TextOps.norm(col("text")))
        .withColumn("toks", size(split(col("n"), " ")))
        .groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum(col("toks")).as("total_tokens"),
          sum(length(col("n"))).as("total_chars"),
          (sum(col("toks")).cast("double") / count(lit(1)))
            .as("avg_tokens_per_doc"))
        .orderBy("source"),
      s"""SELECT source, count(*) AS docs,
         |CAST(sum(len(string_split($NORM, ' '))) AS BIGINT) AS total_tokens,
         |CAST(sum(length($NORM)) AS BIGINT) AS total_chars,
         |CAST(sum(len(string_split($NORM, ' '))) AS DOUBLE) / count(*)
         |  AS avg_tokens_per_doc
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // Sketch-based corpus telemetry, emitted in its CERTIFIABLE form:
    // the engine computes both the sketches (HyperLogLog++ distincts, a
    // mergeable quantile sketch — the fixed-size map-side-partial
    // buffers the rollup uses at 100 TB) and their exact twins, and
    // emits sketch-vs-exact agreement as booleans the DuckDB oracle can
    // recompute and hash (raw sketch estimates are engine-specific and
    // would never hash-match; the agreement bound is engine-independent).
    // Raw estimates: [[approxCorpusSketches]] (bounds also asserted in
    // WindowStatsSpec).
    QuerySpec("approx_corpus_stats", (s, d) =>
      approxCorpusSketches(s, d)
        .select(col("source"), col("docs"), col("exact_distinct_docs"),
          // HLL++ at default rsd 5%: |est − exact| ≤ 3·rsd·exact (and
          // small groups resolve in exact sparse mode, so ±1 floors it)
          (abs(col("approx_distinct_docs") - col("exact_distinct_docs"))
            <= greatest(lit(1L), col("exact_distinct_docs") * 0.15))
            .as("hll_within_5pct"),
          // percentile_approx at accuracy 10000 returns an element whose
          // rank is within 1/10000 of the target — bounded by the exact
          // rank-window [p−0.05, p+0.05] percentiles
          col("p50_chars").between(col("p45_exact"), col("p55_exact"))
            .as("p50_within_bounds"),
          col("p95_chars").between(col("p90_exact"), col("p100_exact"))
            .as("p95_within_bounds"))
        .orderBy("source"),
      // the oracle recomputes the EXACT columns and expects every
      // sketch-agreement boolean to hold — the sketches themselves are
      // engine-specific and never hashed
      s"""SELECT source, CAST(count(*) AS BIGINT) AS docs,
         |  CAST(count(DISTINCT md5($NORM)) AS BIGINT)
         |    AS exact_distinct_docs,
         |  true AS hll_within_5pct,
         |  true AS p50_within_bounds,
         |  true AS p95_within_bounds
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // F10: UTC → America/Chicago conversion (ref `etl/query.py:107,178`),
    // emitted as a formatted string so the comparison is tz-type-agnostic.
    QuerySpec("tz_chicago", (s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") % 100 === 0)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("utc_time"),
          date_format(from_utc_timestamp(col("ts"), "America/Chicago"),
            "yyyy-MM-dd HH:mm:ss").as("chicago_time"))
        .orderBy("event_id"),
      """SELECT event_id,
        |strftime(ts, '%Y-%m-%d %H:%M:%S') AS utc_time,
        |strftime(timezone('America/Chicago', ts AT TIME ZONE 'UTC'),
        |  '%Y-%m-%d %H:%M:%S') AS chicago_time
        |FROM events WHERE event_id % 100 = 0
        |ORDER BY event_id""".stripMargin))
}
