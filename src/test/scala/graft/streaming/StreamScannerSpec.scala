package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec
import graft.streaming.StreamScanner.SnapIn

class StreamScannerSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)
  private def kSnap(sec: Long, id: Long, bidCents: Long) =
    Snap(ts(sec), id, "K1", "kalshi",
      s"""{"yes":[[$bidCents,100]],"no":[[${99 - bidCents},100]]}""")
  private def pSnap(sec: Long, id: Long, yes: Double) =
    Snap(ts(sec), id, "0xc1", "polymarket",
      s"""{"condition_id":"0xc1","yes_price":$yes,"no_price":${1.0 - yes},"orderbook":{"bids":[],"asks":[]}}""")

  private val pairs =
    Seq(("K1", "0xc1")).toDF("kalshi_ticker", "polymarket_condition_id")

  test("stream-stream pair scan joins fresh legs and emits the margin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Snap]
    // all data enqueued up front; AvailableNow drains it in bounded
    // batches and terminates (no unbounded no-data micro-batching)
    mem.addData(
      kSnap(100, 1, 45), pSnap(110, 2, 0.40), // fresh: 10s apart -> joins
      kSnap(400, 3, 45), pSnap(700, 4, 0.40), // 300s apart: outside ±60s
      // watermark advancers on tickers outside the pairs dimension
      Snap(ts(5000), 9, "KX", "kalshi", """{"yes":[[1,1]],"no":[[98,1]]}"""),
      Snap(ts(5000), 10, "0xdead", "polymarket",
        """{"condition_id":"0xdead","yes_price":0.5,"no_price":0.5,"orderbook":{"bids":[],"asks":[]}}"""))
    val df = mem.toDF()
    val out = StreamScanner.scan(
      StreamScanner.kalshiLeg(df), StreamScanner.polyLeg(df), pairs)
    val q = out.writeStream.format("memory").queryName("ss_scan")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(180000), "pair scan did not drain")
    finally q.stop()

    val rows = spark.table("ss_scan")
      .filter($"kalshi_ticker" === "K1" && $"profit_margin" > 0.1)
      .select("direction", "profit_margin").collect()
    assert(rows.length === 1)
    assert(rows.head.getString(0) === "yes")
    assert(math.abs(rows.head.getDouble(1) - 0.125) < 1e-12)
    // the 300s-apart pair never joined
    val all = spark.table("ss_scan").collect()
    assert(!all.exists(r => r.getAs[Timestamp]("k_ts") == ts(400)))
  }

  test("pair scan killed and resumed mid-stream emits the single-run opportunity set") {
    // The one lane with stream-stream JOIN state in its checkpoint: a
    // kalshi leg admitted before the kill must still pair with a poly
    // snap arriving after the resume (and vice versa) — provable only
    // if the restored state store carries both legs across the restart.
    val work = java.nio.file.Files.createTempDirectory("scan_restart_")
      .toString
    val snaps = Seq(
      kSnap(100, 1, 45), // k leg, pre-kill
      pSnap(110, 2, 0.40), // joins k100 pre-kill
      pSnap(150, 3, 0.40), // post-resume: joins k100 from RESTORED state
      kSnap(160, 4, 45), // post-resume: joins p110 (restored) and p150
      // watermark advancers outside the pairs dimension flush the tail
      Snap(ts(5000), 9, "KX", "kalshi", """{"yes":[[1,1]],"no":[[98,1]]}"""),
      Snap(ts(5000), 10, "0xdead", "polymarket",
        """{"condition_id":"0xdead","yes_price":0.5,"no_price":0.5,"orderbook":{"bids":[],"asks":[]}}"""))
    // one deterministically-named file per snap, ascending mtimes, so
    // the resumed run and the single-run oracle batch identically
    val slices = snaps.zipWithIndex.map { case (s, i) =>
      val tmp = s"$work/slice$i"
      Seq(s).toDF().coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (part, s"s$i.parquet", 1700000000000L + i * 60000L)
    }
    def copyTo(dir: String, n: Int): Unit = slices.take(n).foreach {
      case (part, name, mtime) =>
        val dst = new java.io.File(dir, name)
        if (!dst.exists()) {
          org.apache.commons.io.FileUtils.copyFile(part, dst)
          dst.setLastModified(mtime)
        }
    }
    val schema = spark.read.parquet(s"$work/slice0").schema
    def runScan(inDir: String, ck: String,
                out: scala.collection.mutable.Set[(Long, Long, String, Double)])
    : Unit = {
      val df = Replay.paced(spark, inDir, schema, maxFilesPerTrigger = 1)
      val q = StreamScanner.scan(
        StreamScanner.kalshiLeg(df), StreamScanner.polyLeg(df), pairs)
        .writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.collect().foreach { r =>
              out += ((r.getAs[Timestamp]("k_ts").getTime / 1000,
                r.getAs[Timestamp]("p_ts").getTime / 1000,
                r.getAs[String]("direction"),
                r.getAs[Double]("profit_margin")))
            }
            ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start()
      try assert(q.awaitTermination(180000), "pair scan did not drain")
      finally q.stop()
    }
    // restarted path: two slices (one completed join), die, resume with
    // the SAME checkpoint once the rest has arrived
    val resumed = scala.collection.mutable.Set[(Long, Long, String, Double)]()
    new java.io.File(s"$work/inA").mkdirs()
    copyTo(s"$work/inA", 2)
    runScan(s"$work/inA", s"$work/ckA", resumed)
    assert(resumed.map(r => (r._1, r._2)) === Set((100L, 110L)),
      s"pre-kill run must emit exactly the completed pair: $resumed")
    copyTo(s"$work/inA", 6)
    runScan(s"$work/inA", s"$work/ckA", resumed)
    // single-run oracle: fresh checkpoint, all slices present up front
    val single = scala.collection.mutable.Set[(Long, Long, String, Double)]()
    new java.io.File(s"$work/inB").mkdirs()
    copyTo(s"$work/inB", 6)
    runScan(s"$work/inB", s"$work/ckB", single)
    assert(resumed === single,
      s"resumed: $resumed\nsingle: $single")
    // the cross-restart pairs are present: each needs a leg admitted
    // BEFORE the kill joined to a leg that arrived AFTER the resume
    assert(resumed.map(r => (r._1, r._2)).contains((100L, 150L)),
      "kalshi state lost across restart")
    assert(resumed.map(r => (r._1, r._2)).contains((160L, 110L)),
      "poly state lost across restart")
    assert(resumed.forall(r => r._3 == "yes" &&
      math.abs(r._4 - 0.125) < 1e-12))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
  }

  // --- edge cases of the pair window, the watermark and the state -----
  // The expected pairs are literals: the interval join the operator
  // replaced emitted exactly these on the same inputs.

  private val W = 60000000L // the scan's default ±60 s, in µs
  private val T0 = 1000000000L // 1,000 s, in µs
  private def tsUs(us: Long) = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  private def kAt(us: Long, ticker: String = "K1") =
    Snap(tsUs(us), us, ticker, "kalshi", """{"yes":[[45,100]],"no":[[54,100]]}""")
  private def pAt(us: Long, cond: String = "0xc1") =
    Snap(tsUs(us), us, cond, "polymarket",
      s"""{"condition_id":"$cond","yes_price":0.4,"no_price":0.6,"orderbook":{"bids":[],"asks":[]}}""")

  /** Each batch as one parquet file, all present when the query starts,
    * read one file per micro-batch. */
  private def fileFeed(dir: java.io.File, batches: Seq[Seq[Snap]]): DataFrame = {
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = new java.io.File(dir, s".tmp$i")
      b.toDF().coalesce(1).write.parquet(tmp.getPath)
      val dst = new java.io.File(dir, f"b$i%03d.parquet")
      assert(tmp.listFiles().find(_.getName.endsWith(".parquet")).get.renameTo(dst))
      dst.setLastModified(1700000000000L + i * 60000L)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    Replay.paced(spark, dir.getPath, Seq.empty[Snap].toDF().schema, 1)
  }

  /** Feeds each of `batches` as one micro-batch of the scan (memory sink)
    * and returns the emitted (k_ts, p_ts) pairs in µs, sorted, with the
    * state rows each progress reported. From a memory stream each batch
    * is followed by the no-data batch a watermark change runs; from files
    * the data batches run back to back, so a batch admits rows behind the
    * watermark its predecessor advanced (the late-row cut is the watermark
    * of the batch before). */
  private def scanBatches(name: String, batches: Seq[Seq[Snap]],
                          asFiles: Boolean = false)
  : (Seq[(Long, Long)], Seq[Long]) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Snap]
    val dir = java.nio.file.Files.createTempDirectory("scan_edge_").toFile
    val df = if (asFiles) fileFeed(dir, batches) else mem.toDF()
    val q = StreamScanner.scan(
      StreamScanner.kalshiLeg(df), StreamScanner.polyLeg(df), pairs)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      if (asFiles) q.processAllAvailable()
      else batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
    val rows = spark.table(name).collect()
    assert(rows.forall(r => r.getAs[String]("kalshi_ticker") == "K1" &&
      r.getAs[String]("condition_id") == "0xc1" &&
      r.getAs[String]("direction") == "yes" &&
      math.abs(r.getAs[Double]("profit_margin") - 0.125) < 1e-12), rows.toSeq)
    def us(t: Timestamp) = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    (rows.toSeq.map(r => (us(r.getAs[Timestamp]("k_ts")), us(r.getAs[Timestamp]("p_ts"))))
      .sorted, q.recentProgress.toSeq.flatMap(_.stateOperators.headOption.map(_.numRowsTotal)))
  }

  test("a pair exactly ±W apart joins, held on either leg") {
    // the p at k - W arrives a batch before k and is held; the p at
    // k + W arrives in k's batch
    val (out, _) = scanBatches("edge_w",
      Seq(Seq(pAt(T0 - W)), Seq(kAt(T0), pAt(T0 + W))))
    assert(out === Seq((T0, T0 - W), (T0, T0 + W)))
  }

  test("a pair W + 1 µs apart does not join") {
    val (out, _) = scanBatches("edge_w1",
      Seq(Seq(pAt(T0 - W - 1)), Seq(kAt(T0), pAt(T0 + W + 1)),
        Seq(pAt(T0 + W))))
    assert(out === Seq((T0, T0 + W)))
  }

  test("both legs in one micro-batch emit each pair once") {
    val (out, _) = scanBatches("edge_once",
      Seq(Seq(kAt(T0), kAt(T0 + 1), pAt(T0 + 5000000L), pAt(T0 + 10000000L))))
    assert(out === Seq((T0, T0 + 5000000L), (T0, T0 + 10000000L),
      (T0 + 1, T0 + 5000000L), (T0 + 1, T0 + 10000000L)))
  }

  test("a leg held across three or more batches still pairs") {
    val (out, _) = scanBatches("edge_held",
      Seq(Seq(kAt(T0)), Seq(pAt(T0 + 1000000L, "0xdead")),
        Seq(kAt(T0 + 2000000L, "KX")), Seq(pAt(T0 + 3000000L, "0xbeef")),
        Seq(pAt(T0 + 50000000L))))
    assert(out === Seq((T0, T0 + 50000000L)))
  }

  test("a Polymarket ticker outside pairs never pairs") {
    val (out, _) = scanBatches("edge_unpaired",
      Seq(Seq(kAt(T0), pAt(T0, "0xdead"), kAt(T0, "KX")),
        Seq(pAt(T0 + 1000000L, "0xdead"), kAt(T0 + 1000000L, "0xdead"))))
    assert(out.isEmpty)
  }

  test("a leg that arrives behind the watermark is dropped") {
    // after the first batch the watermark is T0 - 60 s (= T0 - W) on both
    // legs: a leg at exactly the watermark is late, one 1 µs after it is not
    val (out, _) = scanBatches("edge_late",
      Seq(Seq(kAt(T0), pAt(T0)),
        Seq(kAt(T0 - W), kAt(T0 - W + 1), pAt(T0 - W), pAt(T0 - W + 1))))
    assert(out === Seq((T0 - W + 1, T0 - W + 1), (T0 - W + 1, T0), (T0, T0 - W + 1),
      (T0, T0)))
  }

  test("a held leg still pairs in the batch whose watermark expires it") {
    // the third batch's eviction watermark is T0 + 60 s, which expires
    // the held k at T0; its late-row cut is still T0 - 60 s, so the p at
    // T0 + 30 s is admitted and must meet k before k is evicted
    val (out, _) = scanBatches("edge_expiring",
      Seq(Seq(kAt(T0), pAt(T0, "0xdead")),
        Seq(kAt(T0 + 2 * W, "KX"), pAt(T0 + 2 * W, "0xdead")),
        Seq(pAt(T0 + W / 2))), asFiles = true)
    assert(out === Seq((T0, T0 + W / 2)))
  }

  test("state empties once the watermark passes every held leg (event-time timeout)") {
    // the max policy lets a Polymarket row outside pairs advance the
    // watermark alone, so no advancer is itself held; the held key then
    // has no new rows and leaves the state through its timeout
    val policy = "spark.sql.streaming.multipleWatermarkPolicy"
    spark.conf.set(policy, "max")
    val (out, stateRows) = try scanBatches("edge_evict",
      Seq(Seq(kAt(T0), pAt(T0 + 10000000L)),
        Seq(pAt(T0 + 10000000000L, "0xdead"))))
    finally spark.conf.unset(policy)
    assert(out === Seq((T0, T0 + 10000000L)))
    assert(stateRows.head > 0, stateRows)
    assert(stateRows.last === 0L, stateRows)
  }

  // --- routing through the pairs dimension ----------------------------
  // The expected pairs are literals: the broadcast equi-join the literal
  // routing map replaced emitted exactly these on the same inputs.

  /** Feeds each of `batches` as one micro-batch of the scan routed by
    * `dim` and returns the emitted (kalshi_ticker, condition_id, k_ts,
    * p_ts) rows, times in µs, sorted. */
  private def routedBatches(name: String, dim: DataFrame, batches: Seq[Seq[Snap]])
  : Seq[(String, String, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Snap]
    val df = mem.toDF()
    val q = StreamScanner.scan(
      StreamScanner.kalshiLeg(df), StreamScanner.polyLeg(df), dim)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    def us(t: Timestamp) = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    spark.table(name).collect().toSeq.map(r => (r.getAs[String]("kalshi_ticker"),
      r.getAs[String]("condition_id"), us(r.getAs[Timestamp]("k_ts")),
      us(r.getAs[Timestamp]("p_ts")))).sorted
  }

  test("a condition id mapped to two Kalshi tickers pairs on both") {
    val dim = Seq(("K1", "0xc1"), ("K2", "0xc1"))
      .toDF("kalshi_ticker", "polymarket_condition_id")
    val out = routedBatches("route_two", dim,
      Seq(Seq(kAt(T0), kAt(T0, "K2")), Seq(pAt(T0 + 1000000L))))
    assert(out === Seq(("K1", "0xc1", T0, T0 + 1000000L),
      ("K2", "0xc1", T0, T0 + 1000000L)))
  }

  test("a duplicated dimension row duplicates its pairs") {
    val dim = Seq(("K1", "0xc1"), ("K1", "0xc1"))
      .toDF("kalshi_ticker", "polymarket_condition_id")
    // one routed row held across a batch, one met in its own batch
    val out = routedBatches("route_dup", dim,
      Seq(Seq(pAt(T0)), Seq(kAt(T0 + 1000000L), pAt(T0 + 2000000L))))
    assert(out === Seq(("K1", "0xc1", T0 + 1000000L, T0),
      ("K1", "0xc1", T0 + 1000000L, T0),
      ("K1", "0xc1", T0 + 1000000L, T0 + 2000000L),
      ("K1", "0xc1", T0 + 1000000L, T0 + 2000000L)))
  }

  test("a null polymarket_condition_id routes nothing") {
    val dim = Seq[(String, String)](("K1", null), ("K2", "0xc1"))
      .toDF("kalshi_ticker", "polymarket_condition_id")
    val out = routedBatches("route_null", dim,
      Seq(Seq(kAt(T0), kAt(T0, "K2"), pAt(T0, null), pAt(T0 + 1000000L))))
    assert(out === Seq(("K2", "0xc1", T0, T0 + 1000000L)))
  }

  test("a pairs dimension above the row bound fails with the bound in the message") {
    import org.apache.spark.sql.functions.{concat, lit}
    val dim = spark.range(StreamScanner.MaxPairs + 1L).select(
      concat(lit("K"), $"id".cast("string")).as("kalshi_ticker"),
      concat(lit("0x"), $"id".cast("string")).as("polymarket_condition_id"))
    val df = Seq(kAt(T0)).toDF()
    val e = intercept[IllegalArgumentException](StreamScanner.scan(
      StreamScanner.kalshiLeg(df), StreamScanner.polyLeg(df), dim))
    assert(e.getMessage.contains(StreamScanner.MaxPairs.toString), e.getMessage)
  }

  test("the state codec round-trips nulls, pre-epoch times and non-ASCII ids") {
    import java.time.Instant
    import StreamScanner.{Held, HeldCodec, Leg}
    val t = Instant.ofEpochSecond(-86401L, 999999000L) // 1 µs before a second
    val held = Held(
      Seq(Leg("K1", kalshi = true, t, 0.45, null, null),
        Leg("K1", kalshi = true, Instant.ofEpochSecond(1700000000L), null, 0.54, null)),
      Seq(Leg("K1", kalshi = false, Instant.EPOCH, 0.4, 0.6, "0xc1"),
        Leg("K1", kalshi = false, t.plusNanos(1000L), null, null, "条件-é"),
        Leg("K1", kalshi = false, t, 0.4, 0.6, null)))
    assert(HeldCodec.decode("K1", HeldCodec.encode(held)) === held)
    assert(HeldCodec.decode("K1", HeldCodec.encode(Held(Nil, Nil))) === Held(Nil, Nil))
  }

  test("flatMapGroupsWithState keeps the newest value per series (TTL state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SnapIn]
    val end = mem.addData(
      SnapIn("T1", "kalshi", ts(10), 1, "{}"),
      SnapIn("T1", "kalshi", ts(50), 2, "{}"),
      SnapIn("T2", "kalshi", ts(20), 3, "{}"),
      SnapIn("T1", "kalshi", ts(30), 4, "{}")).json // out-of-order, must lose
    // a processing-time timeout keeps no-data batches running, so this
    // query neither terminates (AvailableNow) nor goes idle
    // (processAllAvailable): stop once a completed batch has read the input
    val q = StreamScanner.latestWithTtl(mem.toDS(), ttlMs = 60000)
      .writeStream.format("memory").queryName("ttl_latest")
      .outputMode(OutputMode.Update())
      .start()
    try {
      def processed = Option(q.lastProgress).exists(_.sources.head.endOffset == end)
      val deadline = System.nanoTime() + 180000000000L
      while (!processed && q.isActive && System.nanoTime() < deadline)
        q.awaitTermination(50)
      assert(processed, "the input was not processed within 180 s")
    } finally q.stop()

    val last = spark.table("ttl_latest")
      .groupBy("ticker").agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.col("snapshot_id"),
        org.apache.spark.sql.functions.col("ts")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(last("T1") === 2L) // id 2 (ts 50) beats the late id 4 (ts 30)
    assert(last("T2") === 3L)
  }
}
