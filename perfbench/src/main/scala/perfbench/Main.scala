package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

import graft.sources.{Snapshots, Tables}

/** The benchmark's JVM side. It drives graft through its public entry
  * points only, measures, and writes raw samples as JSON to `--out`;
  * `run.py` turns them into metrics and checks them.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --run-dir DIR --out FILE
  * where W is batch, stream, or goldens (the records `goldens.json`
  * holds). `--drain 1` makes the stream workload run its AvailableNow
  * reference drain itself. The input tables are generated into `--data`
  * on first use; everything a run stages goes under `--run-dir`.
  */
object Main {
  /** Scales of the generated tables the batch queries read: the market
    * queries sit at their per-query floor at sf 0.01 already, while the
    * corpus kernels only do a measurable share of the work at sf 0.1. */
  val BatchSf = 0.01
  val CorpusSf = 0.1
  /** The feed is cut from the snapshot store of this scale's `events`. */
  val FeedSf = 0.1
  val RowsPerFile = 100
  val FeedRate = 1000.0
  /** Files each lane takes on the feed schedule in its warm-up, and at the
    * start of its measured phase before the measured files. */
  val WarmFiles = 10
  val LeadFiles = 10
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Measured laps of the batch workload: one per `LapSeconds` of
    * `--seconds`, at least `MinLaps`. The count depends on the arguments
    * only, so a faster program does not get a best-of over more laps. */
  val MinLaps = 1
  val LapSeconds = 10.0
  /** Unmeasured noop laps of the batch workload, after the gate lap. */
  val WarmLaps = 1

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val runDir = new File(a("run-dir")).getAbsolutePath
    val dataDir = new File(a("data")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    LiveHeap.install()

    val t0 = System.nanoTime()
    val spark = Tables.session(s"local[$cores]", cores)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val feedRows = feedFiles(seconds).toLong * RowsPerFile
    lazy val batchData = ensure(s"$dataDir/batch_sf${BatchSf}_corpus$CorpusSf")(
      Gen.write(spark, _, BatchSf, CorpusSf))
    lazy val feedData = ensure(s"$dataDir/feed_sf${FeedSf}_$feedRows")(
      Gen.writeEvents(spark, _, FeedSf, feedRows))

    // each workload starts the trace's listeners where its traced region
    // begins
    val trace = if (a.get("trace").contains("1")) Some(new Trace(spark)) else None
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "session_s" -> sessionS)
    try out ++= (workload match {
      case "batch" => batch(spark, runDir, batchData, seed, seconds, trace)
      case "stream" => stream(spark, runDir, feedData, seed, seconds,
        a.get("drain").contains("1"), trace)
      case "goldens" => goldens(spark, runDir, batchData, feedData, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    })
    finally {
      trace.foreach(t => out("trace") = t.result())
      out("rss_mb") = peakRssMb()
      out("heap_peak_mb") = LiveHeap.peakMb
      out("heap_live_mb") = LiveHeap.liveMb
      spark.stop()
    }
    Files.write(Paths.get(a("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(out))
  }

  /** Generates `dir` once: written to a sibling, then renamed into place. */
  private def ensure(dir: String)(write: String => Unit): String = {
    if (!new File(dir).exists()) {
      val tmp = s"$dir.tmp"
      org.apache.commons.io.FileUtils.deleteQuietly(new File(tmp))
      write(tmp)
      Files.move(Paths.get(tmp), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
    }
    dir
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Points graft's stores at a fresh temp directory: `Staging` keys its
    * stage directories on `java.io.tmpdir`, so each set-up repetition
    * stages every store again. */
  private def freshTmp(runDir: String, i: Int): Unit = {
    val d = new File(runDir, s"tmp$i")
    d.mkdirs()
    System.setProperty("java.io.tmpdir", d.getPath)
  }

  private def gateEntry(body: => (Long, String)): Map[String, Any] =
    try {
      val ((rows, sum), s) = time(body)
      Map("rows" -> rows, "sum" -> sum, "s" -> s)
    } catch { case scala.util.control.NonFatal(e) => Map("error" -> e.toString) }

  private def batch(spark: SparkSession, runDir: String, data: String, seed: Long,
                    seconds: Double, trace: Option[Trace]): Map[String, Any] = {
    val stageS = stageStore(spark, runDir, data, trace)
    val order = new scala.util.Random(seed).shuffle(Batch.measured)
    // the correctness gate, outside the timed laps: each query built and
    // executed once through the checksum; it also stages every store the
    // queries read
    val (gate, gateS) = time(order.map { case (_, name, fn) =>
      name -> gateEntry(Batch.checksum(fn(spark, data)))
    }.toMap)
    // warm-up: one untraced lap through the noop sink, whose plans (and so
    // their generated code) the checksum plans of the gate do not share;
    // without it the measured lap pays the code generation and JIT
    // compilation, which vary with the machine from run to run
    val (_, warmLapS) = time(Batch.laps(spark, data, order, WarmLaps, None))
    val gc0 = Trace.gcMs()
    val nLaps = math.max(MinLaps, math.round(seconds / LapSeconds).toInt)
    val ops = LiveHeap.during(Batch.laps(spark, data, order, nLaps, None))
    val gcMs = Trace.gcMs() - gc0
    // traced: the same laps again with the listeners on, then once more
    // untraced, so that the tracing overhead is taken against untraced laps
    // on either side of the traced ones rather than against a second JVM
    val traced = trace.toSeq.flatMap { t =>
      t.start()
      val tracedOps = try Batch.laps(spark, data, order, nLaps, trace) finally t.stop()
      Seq("traced_ops" -> opMaps(tracedOps),
        "after_ops" -> opMaps(Batch.laps(spark, data, order, nLaps, None)))
    }
    Map("stage_s" -> stageS, "warm_s" -> (gateS + warmLapS), "gate_lap_s" -> gateS,
      "warm_lap_s" -> warmLapS, "gc_ms" -> gcMs, "ops" -> opMaps(ops),
      "gate" -> gate) ++ traced
  }

  private def opMaps(ops: Seq[Batch.Op]): Seq[Map[String, Any]] =
    ops.map(o => Map("module" -> o.module, "name" -> o.name, "lap" -> o.lap,
      "lat_s" -> o.latS, "ok" -> o.ok))

  /** graft's set-up: stages the snapshot store `SetupReps` times, each in
    * a fresh temp directory; returns the time of each repetition. */
  private def stageStore(spark: SparkSession, runDir: String, data: String,
                         trace: Option[Trace]): Seq[Double] =
    (0 until SetupReps).map { i =>
      freshTmp(runDir, i)
      time(Trace.span(trace, s"stage$i", "sources", "stage")(Snapshots.store(spark, data)))._2
    }

  /** The load generator's set-up: cuts the first `files` feed files from
    * the staged snapshot store. */
  private def stageFeed(spark: SparkSession, runDir: String, data: String,
                        files: Int): (Seq[Feed.FileInfo], Double) =
    time(Feed.stage(Snapshots.store(spark, data), files.toLong * RowsPerFile, RowsPerFile,
      s"$runDir/feed"))

  /** Files each streaming lane takes in its measured phase: the two
    * phases share `--seconds`. */
  private def measuredFiles(seconds: Double): Int =
    math.ceil(seconds / 2 * FeedRate / RowsPerFile).toInt
  private def feedFiles(seconds: Double): Int = WarmFiles + LeadFiles + measuredFiles(seconds)

  private def stream(spark: SparkSession, runDir: String, data: String, seed: Long,
                     seconds: Double, drain: Boolean, trace: Option[Trace]): Map[String, Any] = {
    trace.foreach(_.start())
    val stageS = stageStore(spark, runDir, data, trace)
    val (files, feedS) = stageFeed(spark, runDir, data, feedFiles(seconds))
    val (warm, rest) = files.splitAt(WarmFiles)
    val (lead, measured) = rest.splitAt(LeadFiles)
    Streams.mixed(spark, s"$runDir/stream", warm, lead, measured, FeedRate, seed, drain,
      trace) ++ Map("stage_s" -> stageS, "feed_s" -> feedS)
  }

  /** The golden record: every measured batch query once, checksummed, and
    * the opportunities of an AvailableNow drain of the stream feed. */
  private def goldens(spark: SparkSession, runDir: String, batchData: String,
                      feedData: String, seconds: Double): Map[String, Any] = {
    freshTmp(runDir, 0)
    val gate = Batch.measured.map { case (_, name, fn) =>
      name -> gateEntry(Batch.checksum(fn(spark, batchData)))
    }.toMap
    val (files, _) = stageFeed(spark, runDir, feedData, feedFiles(seconds))
    Map("gate" -> gate, "feed_files" -> files.size,
      "reference" -> Streams.drain(spark, s"$runDir/feed", Feed.schema(spark, files),
        s"$runDir/ck_drain"))
  }
}

/** Heap figures of the measured region; only heap pools count, not
  * Metaspace or the code cache.
  *
  * `liveMb` is the heap the run still holds after a full collection at the
  * end of the region: the data its caches, stores and plans retain. `peakMb`
  * is the largest occupancy left after any collection that started inside
  * the region, which opens with a full collection; it also counts garbage
  * that young collections have promoted but no mixed collection has freed
  * yet, so it moves with the collector's timing (about 15 % between seeds)
  * and is kept in the artifact only.
  */
object LiveHeap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val heapNames = heapPools.map(_.getName).toSet
  private val peak = new AtomicLong()
  @volatile private var live = 0L
  // the region, in ms of JVM uptime (the clock of GcInfo.getStartTime)
  @volatile private var from = Long.MaxValue
  @volatile private var until = Long.MaxValue

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.forEach { gc =>
      gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
        (n: javax.management.Notification, _: Any) =>
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
            if (info.getStartTime >= from && info.getStartTime <= until) {
              val used = info.getMemoryUsageAfterGc.asScala.collect {
                case (pool, u) if heapNames(pool) => u.getUsed
              }.sum
              peak.accumulateAndGet(used, (a, b) => math.max(a, b))
            }
          }, null, null)
    }

  private def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  def open(): Unit = {
    from = uptimeMs
    System.gc()
  }
  /** Closes the region. Blocks that Spark's cleaner frees only once their
    * owners are collected (broadcasts, locally checkpointed RDDs) go by the
    * later collections, so the least of three, 300 ms apart, is taken. */
  def close(): Unit = {
    until = uptimeMs
    live = (1 to 3).map { i =>
      if (i > 1) Thread.sleep(300)
      System.gc()
      heapPools.map(_.getUsage.getUsed).sum
    }.min
  }

  def during[T](body: => T): T = {
    open()
    try body finally close()
  }

  def peakMb: Double = peak.get / 1048576.0
  def liveMb: Double = live / 1048576.0
}
