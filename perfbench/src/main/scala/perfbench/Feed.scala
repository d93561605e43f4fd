package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The open-loop live feed: snapshot rows in event-time order, pre-staged
  * as one parquet file per `rowsPerFile` rows, released into a watched
  * directory by atomic rename on a fixed schedule. */
object Feed {
  /** One staged file: its sequence number, row count and event-time range. */
  case class FileInfo(seq: Int, rows: Long, firstTsUs: Long, lastTsUs: Long, path: String)

  /** Stages the first `nRows` rows of `snaps` (event-time order; the
    * generator numbers snapshots in that order) into `dir`. Each row
    * carries its file's number in `file_seq`. */
  def stage(snaps: DataFrame, nRows: Long, rowsPerFile: Int, dir: String): Seq[FileInfo] = {
    val rows = snaps.filter(col("snapshot_id") < nRows)
      .withColumn("file_seq", (col("snapshot_id") / rowsPerFile).cast("int"))
    val tmp = s"$dir.parts"
    rows.withColumn("fpart", col("file_seq"))
      .repartition(col("fpart")).sortWithinPartitions("ts_us")
      .write.partitionBy("fpart").parquet(tmp)
    val stats = rows.groupBy("file_seq")
      .agg(count(lit(1)), min("ts_us"), max("ts_us")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    new File(dir).mkdirs()
    val files = stats.keys.toSeq.sorted.map { seq =>
      val parts = new File(tmp, s"fpart=$seq").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(parts.length == 1, s"feed file $seq staged as ${parts.length} files")
      val dst = new File(dir, f"f$seq%06d.parquet")
      Files.move(parts.head.toPath, dst.toPath)
      val (n, lo, hi) = stats(seq)
      FileInfo(seq, n, lo, hi, dst.getPath)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new File(tmp))
    files
  }

  /** A second staged copy of `files` in `dir`, for a second watched
    * directory. */
  def copy(files: Seq[FileInfo], dir: String): Seq[FileInfo] = {
    new File(dir).mkdirs()
    files.map { f =>
      val dst = new File(dir, new File(f.path).getName)
      Files.copy(new File(f.path).toPath, dst.toPath)
      f.copy(path = dst.getPath)
    }
  }

  def schema(spark: SparkSession, files: Seq[FileInfo]): StructType =
    spark.read.parquet(files.head.path).schema

  /** Releases files into `watchDir` on a schedule: file i is due at
    * `t0Ns + i * intervalNs`. Records due and actual release times (ns,
    * `System.nanoTime`). `stop` ends the schedule early. */
  final class Generator(files: Seq[FileInfo], watchDir: String, t0Ns: Long,
                        intervalNs: Long) extends Thread("perfbench-gen") {
    val released = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (seq, due, actual)
    @volatile var stopped = false
    setDaemon(true)
    override def run(): Unit =
      files.zipWithIndex.foreach { case (f, i) =>
        if (!stopped) {
          val due = t0Ns + i * intervalNs
          var wait = due - System.nanoTime()
          while (wait > 0 && !stopped) {
            java.util.concurrent.locks.LockSupport.parkNanos(math.min(wait, 50000000L))
            wait = due - System.nanoTime()
          }
          if (!stopped) {
            val src = new File(f.path).toPath
            Files.move(src, new File(watchDir, src.getFileName.toString).toPath,
              StandardCopyOption.ATOMIC_MOVE)
            val now = System.nanoTime()
            released.synchronized(released += ((f.seq, due, now)))
          }
        }
      }
    def snapshot: Seq[(Int, Long, Long)] = released.synchronized(released.toList)
  }
}
