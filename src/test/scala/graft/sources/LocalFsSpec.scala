package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Paths}
import java.sql.Timestamp
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.{Replay, Snap, StreamScanner, StreamingLanes}

/** graft's `file` filesystem against Hadoop's own `LocalFileSystem` /
  * `LocalFs`: each check runs the same operations through both, in
  * sibling directories, and compares what lands on disk. */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Runs `body` once through Hadoop's local filesystems and once through
    * the session's, each in a fresh directory; returns (Hadoop, graft). */
  private def parity[T](body: (FileSystem, FileContext, String) => T): (T, T) = {
    val stock = new Configuration(conf)
    stock.set("fs.file.impl", classOf[LocalFileSystem].getName)
    stock.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val root = Files.createTempDirectory("localfs_").toString
    def run(c: Configuration, name: String): T = {
      val dir = Files.createDirectory(Paths.get(root, name)).toString
      // uncached: the FileSystem cache is keyed by scheme, not by conf
      val fs = FileSystem.newInstance(new URI("file:///"), c)
      try body(fs, FileContext.getFileContext(c), dir) finally fs.close()
    }
    try (run(stock, "hadoop"), run(conf, "graft"))
    finally FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** Octal mode (with the set-ID and sticky bits) of every entry below
    * `dir`, keyed by relative path; links are not followed. */
  private def modes(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> (Files.getAttribute(p, "unix:mode",
        LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff).toOctalString
    }.toMap finally walk.close()
  }

  test("the session resolves file: to graft's filesystem through both Hadoop APIs") {
    assert(FileSystem.get(new URI("file:///"), conf).getClass ===
      classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ===
      classOf[ForkFreeLocalFs])
    // the per-query conf Spark's checkpoint manager and state store build
    val query = spark.sessionState.newHadoopConf()
    assert(FileContext.getFileContext(new URI("file:///"), query)
      .getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
  }

  test("create and mkdirs leave Hadoop's modes and .crc sidecars, default umask and 640") {
    val p640 = new FsPermission("640")
    val (hadoop, ours) = parity { (fs, fc, dir) =>
      fs.create(new Path(s"$dir/fs/a/file")).close()
      fs.create(new Path(s"$dir/fs/f640"), p640, false, 4096, 1.toShort, 1L << 25, null)
        .close()
      fs.mkdirs(new Path(s"$dir/fs/d"))
      fs.mkdirs(new Path(s"$dir/fs/d640"), p640)
      fc.create(new Path(s"$dir/fc/a/file"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent()).close()
      fc.create(new Path(s"$dir/fc/f640"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(p640)).close()
      fc.mkdir(new Path(s"$dir/fc/d"), FsPermission.getDirDefault, true)
      fc.mkdir(new Path(s"$dir/fc/d640"), p640, false)
      modes(dir)
    }
    assert(ours === hadoop)
    for (api <- Seq("fs", "fc")) {
      assert(ours(s"$api/a/file") === "644")
      assert(ours(s"$api/a") === "755")
      assert(ours(s"$api/f640") === "640")
      assert(ours(s"$api/d") === "755")
      assert(ours(s"$api/d640") === "640")
      assert(ours.contains(s"$api/a/.file.crc") && ours.contains(s"$api/.f640.crc"))
    }
  }

  test("a sticky bit or a set-group-ID directory keeps Hadoop's chmod result") {
    val (hadoop, ours) = parity { (fs, _, dir) =>
      fs.mkdirs(new Path(s"$dir/sticky"))
      fs.setPermission(new Path(s"$dir/sticky"), new FsPermission("1777"))
      val sgid = Files.createDirectory(Paths.get(dir, "sgid"))
      Files.setAttribute(sgid, "unix:mode", Int.box(Integer.parseInt("2775", 8)))
      fs.setPermission(new Path(sgid.toString), new FsPermission("750"))
      fs.mkdirs(new Path(s"$dir/sgid/child"))
      modes(dir)
    }
    assert(ours === hadoop)
    assert(ours("sticky") === "1777")
    assert(ours("sgid") === "2750")
    assert(ours("sgid/child") === "2755")
  }

  test("getFileLinkStatus matches Hadoop on files, dirs, symlinks, dangling links, missing paths") {
    def describe(status: => FileStatus, dir: String): String =
      try {
        val s = status
        Seq(s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else "", s.getLen, s.getPath, s.getPermission)
          .mkString(" ").replace(dir, "DIR")
      } catch { case _: FileNotFoundException => "FileNotFoundException" }
    val names = Seq("file", "dir", "link", "dangling", "missing")
    val (hadoop, ours) = parity { (fs, fc, dir) =>
      Files.write(Paths.get(dir, "file"), "x".getBytes(UTF_8))
      Files.createDirectory(Paths.get(dir, "dir"))
      Files.createSymbolicLink(Paths.get(dir, "link"), Paths.get(dir, "file"))
      Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "nowhere"))
      val raw = fs.asInstanceOf[LocalFileSystem].getRaw
      names.map { n =>
        val p = new Path(s"$dir/$n")
        (describe(raw.getFileLinkStatus(p), dir), describe(fc.getFileLinkStatus(p), dir))
      }
    }
    assert(ours === hadoop)
    val byName = names.zip(ours).toMap
    assert(byName("file")._1.startsWith("true false false"))
    assert(byName("dir")._1.startsWith("false true false"))
    for ((n, target) <- Seq("link" -> "DIR/file", "dangling" -> "DIR/nowhere");
         s <- Seq(byName(n)._1, byName(n)._2)) {
      assert(s.startsWith("false false true"), n)
      assert(s.contains(target), n)
    }
    assert(byName("missing") === ("FileNotFoundException", "FileNotFoundException"))
  }

  test("an overwriting FileContext rename moves the data and its .crc, like Hadoop's") {
    val (hadoop, ours) = parity { (_, fc, dir) =>
      def write(name: String, body: String): Unit = {
        val out = fc.create(new Path(s"$dir/$name"),
          EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      write("src", "new")
      write("dst", "old")
      fc.rename(new Path(s"$dir/src"), new Path(s"$dir/dst"), Options.Rename.OVERWRITE)
      val in = fc.open(new Path(s"$dir/dst"))
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      write("src2", "x")
      intercept[FileAlreadyExistsException](
        fc.rename(new Path(s"$dir/src2"), new Path(s"$dir/dst")))
      (body, modes(dir))
    }
    assert(ours === hadoop)
    assert(ours._1 === "new")
    assert(ours._2.keySet === Set("dst", ".dst.crc", "src2", ".src2.crc"))
  }

  test("a checkpointed stream scan and a storage-lane append start no chmod/readlink/stat/ls") {
    import spark.implicits._
    val work = Files.createTempDirectory("zero_fork_").toString
    def snap(sec: Long, id: Long, source: String) = Snap(new Timestamp(sec * 1000L), id,
      if (source == "kalshi") "K1" else "0xc1", source,
      if (source == "kalshi") """{"yes":[[45,100]],"no":[[54,100]]}"""
      else """{"condition_id":"0xc1","yes_price":0.4,"no_price":0.6,"orderbook":{"bids":[],"asks":[]}}""")
    val snaps = Seq(snap(100, 1, "kalshi"), snap(110, 2, "polymarket"),
      snap(150, 3, "polymarket"), snap(160, 4, "kalshi"))
    Replay.stage(snaps.toDF(), s"$work/in", slices = snaps.size)
    val schema = spark.read.parquet(s"$work/in").schema
    val pairs = Seq(("K1", "0xc1")).toDF("kalshi_ticker", "polymarket_condition_id")

    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    var scanBatches = 0
    var found = 0L
    var traded = 0L
    try {
      val df = Replay.paced(spark, s"$work/in", schema, maxFilesPerTrigger = 1)
      val scan = StreamScanner.scan(
        StreamScanner.kalshiLeg(df), StreamScanner.polyLeg(df), pairs)
        .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          scanBatches += 1
          found += batch.count()
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck_scan")
        .start()
      try assert(scan.awaitTermination(180000), "pair scan did not drain")
      finally scan.stop()
      val append = StreamingLanes.bifurcated(
        Replay.paced(spark, s"$work/in", schema, maxFilesPerTrigger = snaps.size),
        s"$work/store", tradingLane = (b, _) => traded += b.count(),
        trigger = Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ck_lane").start()
      try assert(append.awaitTermination(180000), "bifurcated lane did not drain")
      finally append.stop()
    } finally recording.stop()
    val jfr = Paths.get(work, "forks.jfr")
    recording.dump(jfr)
    recording.close()
    val commands = RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command"))
    FileUtils.deleteQuietly(new java.io.File(work))

    assert(scanBatches >= 3)
    assert(found > 0L, "the scan must pair the legs")
    assert(traded === snaps.size.toLong)
    val shell = Set("chmod", "readlink", "stat", "ls")
    val forked = commands.filter(c => shell(c.trim.split("\\s+").head.split('/').last))
    assert(forked.isEmpty, s"${forked.size} shell processes, e.g. ${forked.take(5)}")
  }
}
