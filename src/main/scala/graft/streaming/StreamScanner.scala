package graft.streaming

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Books

/** Streaming form of the opportunity scanner (SURVEY §7.1 step 6): the
  * 60 s `pair_complete` gate becomes one keyed stateful operator, the
  * shape of the reference's per-ticker latest-value cache
  * (`current_kalshi_data` / `current_polymarket_data`).
  *
  * Shape: the Kalshi leg and the Polymarket leg (routed onto the Kalshi
  * ticker through the pairs dimension, read once when the query is built)
  * are unioned and grouped by `kalshi_ticker` into one
  * `flatMapGroupsWithState` with an event-time timeout: one shuffle and
  * one state store per shuffle partition. A key's state is one binary
  * column ([[HeldCodec]]) holding each leg's rows still inside `ts + W`;
  * each new row pairs with the other leg's held rows and new rows, so the
  * operator emits exactly the pairs `p.ts BETWEEN k.ts - W AND k.ts + W`
  * of an interval join over the same watermarked legs. Rows behind the
  * watermark are dropped on the way in (ST2), and a held row leaves the
  * state once `ts + W` falls behind the watermark. Margins and thresholds are the same
  * codegen'd arithmetic as the batch scanner, applied after the operator,
  * so streaming and batch scans agree row-for-row on the same inputs.
  */
object StreamScanner {

  /** Kalshi leg: (kalshi_ticker, k_ts, k_yes_bid, k_no_bid). */
  def kalshiLeg(snaps: DataFrame, lateness: String = "60 seconds"): DataFrame =
    snaps.filter(col("source") === "kalshi")
      .withColumn("book", Books.parseKalshi(col("full_orderbook")))
      .select(col("ticker").as("kalshi_ticker"), col("ts").as("k_ts"),
        Books.centsToDollars(Books.kalshiBestBidCents(col("book.yes")))
          .as("k_yes_bid"),
        Books.centsToDollars(Books.kalshiBestBidCents(col("book.no")))
          .as("k_no_bid"))
      .withWatermark("k_ts", lateness)

  /** Polymarket leg keyed by condition_id. */
  def polyLeg(snaps: DataFrame, lateness: String = "60 seconds"): DataFrame =
    snaps.filter(col("source") === "polymarket")
      .withColumn("pb", Books.parsePoly(col("full_orderbook")))
      .select(col("ticker").as("condition_id"), col("ts").as("p_ts"),
        col("pb.yes_price").as("p_yes"), col("pb.no_price").as("p_no"))
      .withWatermark("p_ts", lateness)

  /** One leg's row on the pair key: a Kalshi row (`kalshi`, best bids in
    * `yes`/`no`) or a routed Polymarket row (`condition_id`, prices in
    * `yes`/`no`). Prices stay boxed: a missing side is null, as in SQL. */
  case class Leg(kalshi_ticker: String, kalshi: Boolean, ts: Instant,
                 yes: java.lang.Double, no: java.lang.Double,
                 condition_id: String)

  /** A key's state: each leg's rows still inside `ts + W`. */
  case class Held(k: Seq[Leg], p: Seq[Leg])

  /** [[Held]] as the bytes the state store keeps: per leg the count of
    * held rows, then per row its event time in µs, a null mask and the
    * non-null `yes`, `no` and `condition_id`. The key is the group key and
    * is not stored. A flat binary state spares every task of every
    * micro-batch generating (de)serializers for a nested `Seq[Leg]`. */
  private[streaming] object HeldCodec {
    private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

    def encode(held: Held): Array[Byte] = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bytes)
      def leg(rows: Seq[Leg]): Unit = {
        out.writeInt(rows.size)
        rows.foreach { l =>
          out.writeLong(micros(l.ts))
          out.writeByte((if (l.yes != null) 1 else 0) | (if (l.no != null) 2 else 0) |
            (if (l.condition_id != null) 4 else 0))
          if (l.yes != null) out.writeDouble(l.yes)
          if (l.no != null) out.writeDouble(l.no)
          if (l.condition_id != null) {
            val id = l.condition_id.getBytes(Utf8)
            out.writeInt(id.length)
            out.write(id)
          }
        }
      }
      leg(held.k)
      leg(held.p)
      out.flush()
      bytes.toByteArray
    }

    def decode(key: String, state: Array[Byte]): Held = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(state))
      def leg(kalshi: Boolean): Seq[Leg] = Seq.fill(in.readInt()) {
        val us = in.readLong()
        val mask = in.readByte()
        val yes = if ((mask & 1) != 0) java.lang.Double.valueOf(in.readDouble()) else null
        val no = if ((mask & 2) != 0) java.lang.Double.valueOf(in.readDouble()) else null
        val id = if ((mask & 4) != 0) {
          val b = new Array[Byte](in.readInt())
          in.readFully(b)
          new String(b, Utf8)
        } else null
        Leg(key, kalshi, Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L), yes, no, id)
      }
      Held(leg(kalshi = true), leg(kalshi = false)) // in written order
    }
  }

  /** One (Kalshi, Polymarket) pair inside the window. */
  case class Pair(kalshi_ticker: String, condition_id: String,
                  k_ts: Instant, p_ts: Instant,
                  k_yes_bid: java.lang.Double, k_no_bid: java.lang.Double,
                  p_yes: java.lang.Double, p_no: java.lang.Double)

  private def micros(t: Instant): Long =
    t.getEpochSecond * 1000000L + t.getNano / 1000

  /** The operator's per-key step, for new rows and timeouts alike: pair
    * each new row with the other leg's held rows (new Kalshi rows) or held
    * and new rows (new Polymarket rows), so each new×new pair is emitted
    * once; then hold what is still inside `ts + W` and time the key out at
    * the earliest expiry. Rows behind the watermark never get here: with
    * an event-time timeout the operator drops them on the way in. Pairing
    * runs before eviction because the late-row cut is the previous
    * batch's watermark, so a row admitted this batch may still meet one
    * this batch's watermark expires. */
  private def pairUp(windowUs: Long)(key: String, rows: Iterator[Leg],
                                     state: GroupState[Array[Byte]]): Iterator[Pair] = {
    if (key == null) return Iterator.empty // an equi-key never matches null
    val held = state.getOption.map(HeldCodec.decode(key, _)).getOrElse(Held(Nil, Nil))
    val (newK, newP) = rows.filter(_.ts != null).toSeq.partition(_.kalshi)
    val allK = held.k ++ newK
    val allP = held.p ++ newP
    def pair(k: Leg, p: Leg): Option[Pair] =
      if (math.abs(micros(p.ts) - micros(k.ts)) > windowUs) None
      else Some(Pair(key, p.condition_id, k.ts, p.ts, k.yes, k.no, p.yes, p.no))
    val out = newK.flatMap(k => held.p.flatMap(pair(k, _))) ++
      newP.flatMap(p => allK.flatMap(pair(_, p)))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    def live(l: Leg): Boolean = micros(l.ts) + windowUs > wmUs
    val keep = Held(allK.filter(live), allP.filter(live))
    if (keep.k.isEmpty && keep.p.isEmpty) state.remove()
    else {
      state.update(HeldCodec.encode(keep))
      // fires once the watermark reaches the earliest `ts + W` (ms)
      val expiryUs = (keep.k ++ keep.p).map(l => micros(l.ts)).min + windowUs
      state.setTimeoutTimestamp(math.max(1L, Math.floorDiv(expiryUs - 1, 1000L)))
    }
    out.iterator
  }

  /** Most `pairs` rows [[scan]] routes on. The dimension is collected to
    * the driver and travels in the plan as a literal map, so it must stay
    * small; the reference subscribes to tens of pairs. */
  val MaxPairs = 10000

  /** The pairs dimension as `condition_id → kalshi tickers`, one ticker per
    * row: a duplicated row routes twice and a null condition id routes
    * nothing, as the equi-join it replaces. Fails above [[MaxPairs]]
    * rows, having collected at most one more. */
  private[streaming] def routes(pairs: DataFrame): Map[String, Seq[String]] = {
    val rows = pairs.select(col("polymarket_condition_id").cast("string"),
        col("kalshi_ticker").cast("string"))
      .filter(col("polymarket_condition_id").isNotNull)
      .limit(MaxPairs + 1).collect()
    if (rows.length > MaxPairs)
      throw new IllegalArgumentException(s"the pairs dimension has more than " +
        s"$MaxPairs rows with a condition id (StreamScanner.MaxPairs); route " +
        "a larger dimension per micro-batch with Replay.routedStream")
    rows.toSeq.groupMap(_.getString(0))(_.getString(1))
  }

  /** Stream-stream scan: route the Polymarket leg onto the Kalshi ticker
    * through the pairs dimension, pair the legs within ±`windowSec` of
    * event time in one keyed operator, emit thresholded best-side
    * opportunities. `pairs` maps kalshi_ticker ↔ polymarket_condition_id
    * (static dimension). It is read once, when the query is built, and
    * routes through a literal map (no per-batch broadcast join); a
    * dimension that must refresh every micro-batch goes through
    * [[Replay.routedStream]]. */
  def scan(kalshi: DataFrame, poly: DataFrame, pairs: DataFrame,
           windowSec: Long = 60, minProfitThreshold: Double = 0.02)
  : DataFrame = {
    import kalshi.sparkSession.implicits._
    // route the poly leg onto the kalshi ticker via the dimension (J2/J3):
    // one output row per ticker the condition id maps to, none if unmapped
    val routedPoly = poly.withColumn("kalshi_ticker",
      explode(element_at(typedLit(routes(pairs)), col("condition_id"))))
    val legs = kalshi.select(col("kalshi_ticker"), lit(true).as("kalshi"),
      col("k_ts").as("ts"), col("k_yes_bid").as("yes"),
      col("k_no_bid").as("no"), lit(null).cast("string").as("condition_id"))
      .union(routedPoly.select(col("kalshi_ticker"), lit(false).as("kalshi"),
        col("p_ts").as("ts"), col("p_yes").as("yes"), col("p_no").as("no"),
        col("condition_id")))

    legs.as[Leg].groupByKey(_.kalshi_ticker)
      .flatMapGroupsWithState[Array[Byte], Pair](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(pairUp(windowSec * 1000000L))
      .withColumn("m_yes", (col("k_yes_bid") - col("p_yes")) / col("p_yes"))
      .withColumn("m_no", (col("k_no_bid") - col("p_no")) / col("p_no"))
      .withColumn("direction",
        when(col("m_yes") >= col("m_no"), lit("yes")).otherwise(lit("no")))
      .withColumn("profit_margin", greatest(col("m_yes"), col("m_no")))
      .filter(col("profit_margin") >= minProfitThreshold)
      .select(col("kalshi_ticker"), col("condition_id"), col("k_ts"),
        col("p_ts"), col("direction"), col("profit_margin"))
  }

  // --- ST5 with explicit TTL state: flatMapGroupsWithState ---------------

  case class SnapIn(ticker: String, source: String, ts: Timestamp,
                    snapshot_id: Long, full_orderbook: String)
  case class LatestOut(ticker: String, source: String, ts: Timestamp,
                       snapshot_id: Long)

  /** Latest-value cache with an idle TTL — the explicit-state twin of
    * `StreamingLanes.latestPerKey` for when eviction must be time-driven
    * (the reference's 30 s orderbook cache max-age,
    * `ireland/coordinator.py:295-322`). */
  def latestWithTtl(ds: Dataset[SnapIn], ttlMs: Long)
  : Dataset[LatestOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(s => (s.ticker, s.source))
      .flatMapGroupsWithState[LatestOut, LatestOut](
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case ((ticker, source), rows, state: GroupState[LatestOut]) =>
          if (state.hasTimedOut) {
            state.remove() // stale series evicted (max-age semantics)
            Iterator.empty
          } else {
            val candidates = rows.toSeq
            val newest = (state.getOption.toSeq ++ candidates.map(s =>
              LatestOut(ticker, source, s.ts, s.snapshot_id)))
              .maxBy(o => (o.ts.getTime, o.snapshot_id))
            state.update(newest)
            state.setTimeoutDuration(ttlMs)
            Iterator.single(newest)
          }
      }
  }
}
