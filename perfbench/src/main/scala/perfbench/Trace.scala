package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters for the traced run.
  *
  * The harness wraps each call into a graft layer in [[span]], which tags
  * every Spark job started on that thread with the span's layer key. The
  * listeners registered here (public Spark API only) attribute jobs, tasks,
  * executor time, shuffle and spill bytes, and Catalyst phase times to those
  * keys; streaming progress is kept per query. Nothing is registered and no
  * tag is set when tracing is off.
  */
final class Trace(spark: SparkSession) {
  final class Counters {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var planMs = 0.0
    def toMap: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks, "cpu_ns" -> cpuNs, "shuffle_bytes" -> shuffleBytes,
      "spill_bytes" -> spillBytes, "plan_ms" -> planMs)
  }

  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)] // (start wall ms, ms)
  private val spanWall = mutable.ArrayBuffer.empty[(Long, Long, String)]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val t0 = System.nanoTime()

  private def keyOf(tags: String): Option[String] =
    Option(tags).flatMap(_.split(",").find(_.startsWith(Trace.Prefix)))
      .map(_.stripPrefix(Trace.Prefix))
  private def bump(key: String)(f: Counters => Unit): Unit = {
    val c = counters.computeIfAbsent(key, _ => new Counters)
    c.synchronized(f(c))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        keyOf(p.getProperty("spark.job.tags")).foreach { k =>
          bump(k)(_.jobs += 1)
          e.stageIds.foreach(stageKey.put(_, k))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageKey.get(e.stageId)).foreach { k =>
        val m = e.taskMetrics
        bump(k) { c =>
          c.tasks += 1
          if (m != null) {
            c.cpuNs += m.executorCpuTime
            c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    // attributed in `result` to the span whose wall-clock interval holds
    // the planning: the closed-loop batch client runs one query at a time
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) plans.synchronized {
        plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val state = Option(p.stateOperators).toSeq.flatten
      val row = Map[String, Any](
        "query" -> Option(p.name).getOrElse(""),
        "batch" -> p.batchId,
        "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_commit_ms" -> state.map(_.commitTimeMs).sum)
      progress.synchronized(progress += row)
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `body` as a span of `layer`, tagging the jobs it starts. */
  def span[T](name: String, layer: String, phase: String)(body: => T): T = {
    val key = s"$layer:$phase"
    val sc = spark.sparkContext
    sc.addJobTag(Trace.Prefix + key)
    val s = System.nanoTime()
    val ws = System.currentTimeMillis()
    try body
    finally {
      val e = System.nanoTime()
      sc.removeJobTag(Trace.Prefix + key)
      spans.synchronized {
        spanWall += ((ws, System.currentTimeMillis(), key))
        spans += Map("name" -> name, "layer" -> layer, "phase" -> phase,
          "start_ms" -> (s - t0) / 1e6, "end_ms" -> (e - t0) / 1e6)
      }
    }
  }

  def result(): Map[String, Any] = {
    val walls = spans.synchronized(spanWall.toList)
    plans.synchronized(plans.toList).foreach { case (start, ms) =>
      walls.find { case (a, b, _) => a <= start && start <= b }
        .foreach { case (_, _, k) => bump(k)(_.planMs += ms) }
    }
    resultMaps
  }

  private def resultMaps: Map[String, Any] = Map(
    "counters" -> counters.asScala.map { case (k, c) => k -> c.synchronized(c.toMap) }.toMap,
    "spans" -> spans.synchronized(spans.toList),
    "progress" -> progress.synchronized(progress.toList))
}

object Trace {
  val Prefix = "perfbench:"

  /** Runs `body` as a span when tracing, directly otherwise. */
  def span[T](t: Option[Trace], name: String, layer: String, phase: String)(body: => T): T =
    t match {
      case Some(tr) => tr.span(name, layer, phase)(body)
      case None => body
    }

  /** Accumulated JVM garbage-collection time, ms. */
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
