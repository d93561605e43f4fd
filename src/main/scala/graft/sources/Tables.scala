package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-fixture table access (see /root/repo/TESTDATA.md).
  *
  * All engine queries read these deterministic parquet tables; the analytics
  * library itself (graft.analytics / graft.scanner / ...) is schema-driven and
  * works on any DataFrame with the right columns.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events` with a normalized event-time pair:
    *   - `ts_ns`  Long   — epoch nanoseconds
    *   - `ts`     Timestamp — micros-precision event time for window/watermark ops
    *
    * The fixture stores TIMESTAMP(NANOS), whose physical read type depends
    * on the Spark build: older 4.x reads it as Long when
    * `spark.sql.legacy.parquet.nanosAsLong` is set (and refuses otherwise);
    * current 4.1.x reads it natively as µs-truncated TimestampNTZ (the
    * legacy conf no longer exists). All three branches agree on the
    * fixture, which is µs-aligned end to end (verified: zero rows with
    * `epoch_ns(ts) % 1000 <> 0` at every SF) — exactly what the DuckDB
    * oracle sees. The NTZ→Timestamp cast interprets the value in the
    * session time zone; `session` pins UTC (and `SparkEntry.entry`
    * self-provisions it), making the epoch derivation deterministic.
    * `DIV 1000` truncates toward zero — exact floor only for the
    * post-epoch timestamps this fixture guarantees (seed-42, 2024 data).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    val tsNs = raw.schema("ts").dataType match {
      case LongType         => col("ts")
      case TimestampType    => unix_micros(col("ts")) * lit(1000L)
      case TimestampNTZType =>
        unix_micros(col("ts").cast(TimestampType)) * lit(1000L)
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other")
    }
    raw
      .withColumn("ts_ns", tsNs)
      .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
  }

  /** Generated classes Spark keeps compiled per JVM
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One lap of the
    * 221 registered queries at sf0.01 generates 1,932 distinct classes
    * (`Probe compiles`, lap 1); with the default cache each lap evicted
    * every class before its next use and compiled it again. This is the
    * smallest power of two at least twice that count, so a lap and the
    * stream lanes fit with room for new queries. */
  val CodegenCacheEntries: Int = 4096

  /** Session defaults shared by Verify / Bench / tests: UTC, modest shuffle
    * parallelism for local mode, AQE on (scale-out posture: skew joins and
    * runtime coalescing matter at 100 TB, cost nothing here),
    * `LocalFs.scala`'s fork-free filesystem for `file:` paths, and a
    * generated-code cache that holds graft's working set
    * ([[CodegenCacheEntries]]).
    */
  def session(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing stays parallelismFirst (the default): the r17
      // optimization pass MEASURED volume-based coalescing
      // (parallelismFirst=false, advisory 16m) and reverted it — byte
      // size is the wrong proxy for downstream compute here (the
      // quadratic-contrast row dedup_embedding sits behind a 5 MB
      // exchange and went 37 -> 46 s at 10x when that exchange
      // collapsed to two tasks), and the wins on kB-scale exchanges
      // were inside the per-query scheduling floor.
      // inert on Spark builds that dropped this legacy conf (they read
      // TIMESTAMP(NANOS) as TimestampNTZ — see `events`); lets older 4.x
      // builds read the events fixture at all
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // local files through both Hadoop APIs without a shell process per
      // file (see ForkFreeRawLocalFileSystem); other schemes keep Hadoop's
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)
      // static: read once per JVM, when the first plan is compiled
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // AQE numbers a query's codegen stages as it plans them, in an order
      // that follows which shuffle finished first; with the number in the
      // class name a rerun of the same plan compiled its stages anew
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
