package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.Snapshots

class ReplaySpec extends SparkSpec {

  test("ST7: maxFilesPerTrigger paces the replay into multiple micro-batches") {
    val dir = Files.createTempDirectory("graft_replay").toString
    val snaps = Snapshots.frame(spark, "/root/testdata/sf0.001")
    Replay.stage(snaps, dir, slices = 8)

    val schema = spark.read.parquet(dir).schema
    var batches = 0
    var rows = 0L
    val q = Replay.paced(spark, dir, schema, maxFilesPerTrigger = 2)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        rows += df.count()
        ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft_replay_ck").toString)
      .start()
    try assert(q.awaitTermination(120000), "replay did not drain") finally q.stop()

    assert(rows === snaps.count())
    assert(batches >= 4, s"expected >=4 paced batches, got $batches")
  }

  test("ST9: routing dimension is honored per batch (stream-static join)") {
    val dir = Files.createTempDirectory("graft_replay2").toString
    val snaps = Snapshots.frame(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("source") === "kalshi")
    Replay.stage(snaps, dir, slices = 2)
    val schema = spark.read.parquet(dir).schema

    var matched = 0L
    var dimReads = 0
    val q = Replay.routedStream(
      Replay.paced(spark, dir, schema, maxFilesPerTrigger = 1),
      // dimension re-read on every batch: only active pairs route
      () => {
        dimReads += 1
        Snapshots.pairs(spark)
          .filter(org.apache.spark.sql.functions.col("is_active"))
      },
      "ticker", "kalshi_ticker") { (routed, _) =>
        matched += routed.count()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft_replay2_ck").toString)
      .start()
    try assert(q.awaitTermination(120000), "replay did not drain") finally q.stop()
    // the thunk must have been invoked once per micro-batch (2 slices,
    // maxFilesPerTrigger=1 → ≥2 batches), not once at composition time
    assert(dimReads >= 2, s"dimension read $dimReads times, expected per-batch")

    // T7 is the inactive pair: its snapshots must not route
    val expected = snaps
      .filter(org.apache.spark.sql.functions.col("ticker") =!= "T7").count()
    assert(matched === expected)
  }
}
