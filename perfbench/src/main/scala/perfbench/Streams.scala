package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.analytics.TickerSeries
import graft.sources.Snapshots
import graft.streaming.{Replay, StreamScanner, StreamingLanes}

/** The open-loop streaming workload. All times are `System.nanoTime`. */
object Streams {
  val ReaderThinkMs = 1000L

  private def now(): Long = System.nanoTime()

  private def waitUntil(deadlineNs: Long)(done: => Boolean): Boolean = {
    while (!done && now() < deadlineNs) Thread.sleep(20)
    done
  }

  private def fileMaps(files: Seq[Feed.FileInfo]): Seq[Map[String, Any]] =
    files.map(f => Map("seq" -> f.seq, "rows" -> f.rows,
      "first_ts_us" -> f.firstTsUs, "last_ts_us" -> f.lastTsUs))

  private def releaseMaps(r: Seq[(Int, Long, Long)]): Seq[Map[String, Any]] =
    r.map { case (seq, due, at) => Map("seq" -> seq, "due_ns" -> due, "at_ns" -> at) }

  /** The 16 series the reader rotates through: 8 markets on both venues,
    * keyed as the snapshot store keys them. */
  def series: Seq[(String, String)] = (0 until 8).flatMap { k =>
    val market = s"T$k"
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(market.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    Seq(market -> "kalshi", s"0x$md5" -> "polymarket")
  }

  private def opportunities(df: DataFrame): Array[Row] =
    df.select(col("kalshi_ticker"), col("condition_id"), unix_micros(col("k_ts")),
      unix_micros(col("p_ts")), col("direction"), col("profit_margin")).collect()

  private def key(r: Row): String =
    Seq(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4),
      java.lang.Double.doubleToLongBits(r.getDouble(5))).mkString("|")

  private def scanQuery(spark: SparkSession, dir: String, schema: StructType, name: String,
                        ck: String, trigger: Trigger)
                       (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val s = Replay.paced(spark, dir, schema, Int.MaxValue)
    StreamScanner.scan(StreamScanner.kalshiLeg(s), StreamScanner.polyLeg(s),
      Snapshots.pairs(spark))
      .writeStream.outputMode("append")
      .foreachBatch((df: DataFrame, id: Long) => sink(df, id))
      .trigger(trigger).queryName(name)
      .option("checkpointLocation", ck).start()
  }

  private val FileEntry = "\"path\":\"[^\"]*/f(\\d+)\\.parquet\".*\"batchId\":(\\d+)".r.unanchored
  private val SourceOffset = "\\{\"logOffset\":(\\d+)\\}".r

  private def lines(dir: String): Seq[(String, List[String])] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.isFile && !f.getName.startsWith(".")).flatMap { f =>
        try {
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try Some(f.getName -> src.getLines().toList) finally src.close()
        } catch { case _: java.io.IOException => None } // a log file mid-rename
      }

  /** Feed file number to the micro-batch that read it, from the
    * checkpoint: the file source's log names each file's source offset,
    * and the offset log names the source offset each micro-batch read up
    * to. The two numberings differ once a no-data batch has run. */
  def consumed(ck: String): Map[Int, Long] = {
    val fileOffset = lines(s"$ck/sources/0").flatMap(_._2.collect {
      case FileEntry(s, o) => s.toInt -> o.toLong
    }).groupBy(_._1).map { case (s, os) => s -> os.map(_._2).min }
    val batchEnd = lines(s"$ck/offsets").collect {
      case (name, ls) if name.forall(_.isDigit) =>
        ls.collectFirst { case SourceOffset(o) => name.toLong -> o.toLong }
    }.flatten.sortBy(_._1)
    fileOffset.flatMap { case (s, o) => batchEnd.find(_._2 >= o).map(b => s -> b._1) }
  }

  /** The opportunities of an AvailableNow drain of every file in `dir`:
    * the reference the live pair-scan lane must reproduce. */
  def drain(spark: SparkSession, dir: String, schema: StructType, ck: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    scanQuery(spark, dir, schema, "pairscan_drain", ck, Trigger.AvailableNow())(
      (df, _) => out ++= opportunities(df).map(key)).awaitTermination()
    out.toList
  }

  /** The `stream` workload, in two phases of the same feed schedule.
    * First the ingest lane (`StreamingLanes.bifurcated`: storage append,
    * then the trading-lane callback) takes the feed while one closed-loop
    * reader runs `TickerSeries.downsampled` on the store that lane appends
    * to; then the pair-scan lane (`StreamScanner.scan`, whose sink collects
    * the opportunities) takes the same feed. Each lane watches its own
    * directory and gets its own staged copy of the files; both are started
    * and warmed up during set-up. Each phase opens with the `lead` files,
    * not measured, so that the measured files meet a lane that is already
    * taking the feed rather than an idle one. */
  def mixed(spark: SparkSession, work: String, warm: Seq[Feed.FileInfo],
            lead: Seq[Feed.FileInfo], measured: Seq[Feed.FileInfo], rate: Double, seed: Long,
            runDrain: Boolean, trace: Option[Trace]): Map[String, Any] = {
    val ingestWatch = s"$work/watch_ingest"; val scanWatch = s"$work/watch_scan"
    val store = s"$work/store"; val scanCk = s"$work/ck_scan"
    Seq(ingestWatch, scanWatch).foreach(new File(_).mkdirs())
    val schema = Feed.schema(spark, warm ++ measured)
    val scanFiles = Feed.copy(warm ++ lead ++ measured, s"$work/feed_scan")
    val (scanWarm, scanFed) = scanFiles.splitAt(warm.size)
    val intervalNs = (measured.head.rows / rate * 1e9).toLong
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    @volatile var ingested = -1
    val ingest = Trace.span(trace, "ingest", "streaming", "start") {
      StreamingLanes.bifurcated(Replay.paced(spark, ingestWatch, schema, Int.MaxValue), store,
        tradingLane = (df, batchId) => {
          val t = now()
          val r = Trace.span(trace, s"batch$batchId", "streaming", "trading")(
            df.agg(min("file_seq"), max("file_seq"), count(lit(1))).head())
          if (r.getLong(2) > 0) {
            batches.synchronized(batches += Map("t_ns" -> t, "batch" -> batchId,
              "min_seq" -> r.getInt(0), "max_seq" -> r.getInt(1), "rows" -> r.getLong(2),
              "callback_ms" -> (now() - t) / 1e6))
            ingested = math.max(ingested, r.getInt(1))
          }
        }, trigger = Trigger.ProcessingTime(0L))
        .queryName("ingest").option("checkpointLocation", s"$work/ck_ingest").start()
    }
    val outs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val keys = mutable.ArrayBuffer.empty[String]
    val sinkAt = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val scan = Trace.span(trace, "pairscan", "streaming", "start")(
      scanQuery(spark, scanWatch, schema, "pairscan", scanCk, Trigger.ProcessingTime(0L)) {
        (df, id) =>
          val rows = Trace.span(trace, s"scan$id", "scanner", "sink")(opportunities(df))
          val t = now()
          if (rows.nonEmpty) outs.synchronized {
            outs += Map("t_ns" -> t, "batch" -> id,
              "later_ts_us" -> rows.map(r => math.max(r.getLong(2), r.getLong(3))).toSeq)
            keys ++= rows.map(key)
          }
          sinkAt.put(id, t)
      })
    def ingestedAll(files: Seq[Feed.FileInfo]): Boolean = ingested >= files.last.seq
    def scannedAll(files: Seq[Feed.FileInfo]): Boolean = {
      val c = consumed(scanCk)
      files.forall(f => c.get(f.seq).exists(sinkAt.containsKey))
    }
    /** Starts releasing `files` into `watch` on the feed schedule, from
      * 200 ms on. */
    def release(files: Seq[Feed.FileInfo], watch: String): Feed.Generator = {
      val g = new Feed.Generator(files, watch, now() + 200000000L, intervalNs)
      g.start()
      g
    }
    val failures = mutable.ArrayBuffer.empty[String]
    try {
      // warm-up (set-up): the warm files on the feed schedule through both
      // lanes at once, then one read
      val w0 = now()
      val (wi, ws) = (release(warm, ingestWatch), release(scanWarm, scanWatch))
      wi.join(); ws.join()
      if (!waitUntil(now() + 120000000000L)(ingestedAll(warm) && scannedAll(scanWarm)))
        throw new IllegalStateException("the warm-up files never went through both lanes")
      val order = new scala.util.Random(seed).shuffle(series)
      def read(i: Int): (Double, Long) = {
        val (ticker, venue) = order(i % order.size)
        val t = now()
        val n = Trace.span(trace, s"read$i", "analytics", "read")(
          TickerSeries.downsampled(spark.read.parquet(store), ticker, venue, "1 hour")
            .collect().length.toLong)
        ((now() - t) / 1e9, n)
      }
      read(0)
      val warmS = (now() - w0) / 1e9

      // measured, phase 1: the ingest lane on the schedule beside the
      // closed-loop reader, which thinks `ReaderThinkMs` between reads so
      // that it leaves the lane part of the cores
      val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
      @volatile var stopReader = false
      val reader = new Thread("perfbench-reader") {
        override def run(): Unit = {
          var i = 0
          while (!stopReader) {
            val r = try {
              val (lat, n) = read(i)
              Map[String, Any]("lat_s" -> lat, "rows" -> n, "ok" -> (n > 0))
            } catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(s"[perfbench] read failed: $e")
                Map[String, Any]("lat_s" -> 0.0, "rows" -> 0L, "ok" -> false)
            }
            reads.synchronized(reads += r)
            i += 1
            if (!stopReader) Thread.sleep(ReaderThinkMs)
          }
        }
      }
      val gc0 = Trace.gcMs()
      LiveHeap.open()
      reader.start()
      val gi = release(lead ++ measured, ingestWatch)
      gi.join()
      if (!waitUntil(now() + 30000000000L)(ingestedAll(measured)))
        failures += "the feed did not go through the ingest lane within 30 s of its last file"
      stopReader = true
      reader.join()
      // phase 2: the pair-scan lane on the same schedule
      val gs = release(scanFed, scanWatch)
      gs.join()
      if (!waitUntil(now() + 30000000000L)(scannedAll(scanFed)))
        failures += "the feed did not go through the pair-scan lane within 30 s of its last file"
      LiveHeap.close()
      val gcMs = Trace.gcMs() - gc0
      ingest.stop(); scan.stop()

      // correctness gate (outside the timed region): the store holds every
      // row; the opportunities are checked against an AvailableNow drain of
      // the same files, recorded in the goldens or run here
      val stored = spark.read.parquet(store).count()
      val storeFiles = org.apache.commons.io.FileUtils
        .listFiles(new File(store), Array("parquet"), true).size
      Map("warm_s" -> warmS, "gc_ms" -> gcMs,
        "files" -> fileMaps(warm ++ lead ++ measured),
        "unmeasured_seqs" -> (warm ++ lead).map(_.seq),
        "released" -> releaseMaps(wi.snapshot ++ gi.snapshot),
        "scan_released" -> releaseMaps(ws.snapshot ++ gs.snapshot),
        "batches" -> batches.synchronized(batches.toList),
        "reads" -> reads.synchronized(reads.toList),
        "stored_rows" -> stored, "store_files" -> storeFiles,
        "scan_consumed" -> consumed(scanCk).map { case (s, b) => Map("seq" -> s, "batch" -> b) },
        "scan_sinks" -> sinkAt.asScala.map { case (b, t) => Map("batch" -> b, "t_ns" -> t) },
        "scan_outs" -> outs.synchronized(outs.toList),
        "scan_keys" -> keys.synchronized(keys.toList),
        "failures" -> failures.toList) ++
        (if (runDrain) Map("reference" -> drain(spark, scanWatch, schema, s"$work/ck_drain"))
         else Map.empty)
    } finally {
      if (ingest.isActive) ingest.stop()
      if (scan.isActive) scan.stop()
    }
  }
}
