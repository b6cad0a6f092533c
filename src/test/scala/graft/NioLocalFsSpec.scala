package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.core.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.StreamingOps

/** The spawn-free `file:` filesystem that GraftSession.configure installs
  * answers like Hadoop's stock `RawLocalFileSystem`, writes the same
  * files with the same modes, and starts no process.
  */
class NioLocalFsSpec extends SparkSpec {

  private def initialized(fs: RawLocalFileSystem, umask: String): RawLocalFileSystem = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every file and directory under `root`, relative, with its mode. */
  private def tree(root: JPath): Map[String, Int] =
    Files.walk(root).iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap

  /** With libhadoop loaded the stock `setPermission` does not fork either. */
  private val stockForks = !org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded

  private def hadoopFsSpawns[T](body: => T): (T, Int) = {
    val spawns = new ProcessSpawns
    var events = Seq.empty[jdk.jfr.consumer.RecordedEvent]
    val out = try body finally events = spawns.stop()
    (out, events.count(ProcessSpawns.fromHadoopFs))
  }

  test("setPermission: modes set directly and through create and mkdirs " +
    "with the umask equal stock; the sticky bit takes the stock path") {
    def exercise(fs: RawLocalFileSystem): Map[String, Int] = {
      val d = Files.createTempDirectory("graft-niofs-perm")
      for (m <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed)) { // 0600 0644 0700 0755
        val f = Files.createFile(d.resolve(f"set-$m%o"))
        fs.setPermission(new Path(f.toString), new FsPermission(m.toShort))
        // the masked/unmasked pair FileContext passes down
        val g = Files.createFile(d.resolve(f"modes-$m%o"))
        fs.setPermission(new Path(g.toString),
          FsCreateModes.create(new FsPermission(m.toShort), FsPermission.getFileDefault))
        fs.create(new Path(d.resolve(f"create-$m%o").toString), new FsPermission(m.toShort),
          false, 4096, 1.toShort, 1L << 25, null).close()
        fs.mkdirs(new Path(d.resolve(f"mkdirs-$m%o").toString), new FsPermission(m.toShort))
      }
      fs.create(new Path(d.toUri.toString + "/create-default")).close()
      fs.mkdirs(new Path(d.toUri.toString + "/mkdirs-default"))
      tree(d)
    }
    for (umask <- Seq("022", "077")) {
      val (stock, stockSpawns) =
        hadoopFsSpawns(exercise(initialized(new RawLocalFileSystem, umask)))
      val (nio, nioSpawns) =
        hadoopFsSpawns(exercise(initialized(new NioRawLocalFileSystem, umask)))
      assert(nio == stock, s"umask $umask")
      assert(stock("set-600") == 0x180 && stock("set-755") == 0x1ed)
      assert(nioSpawns == 0 && (stockSpawns > 0 || !stockForks),
        s"umask $umask: $stockSpawns / $nioSpawns")
    }
    // NIO cannot set the sticky bit: that mode takes the stock path (a chmod
    // fork without libhadoop)
    val nio = initialized(new NioRawLocalFileSystem, "022")
    val dir = Files.createTempDirectory("graft-niofs-sticky")
    val (_, spawns) = hadoopFsSpawns(
      nio.setPermission(new Path(dir.toString), new FsPermission(0x3ff.toShort))) // 01777
    assert(mode(dir) == 0x3ff && spawns == (if (stockForks) 1 else 0))
  }

  test("getFileLinkStatus: file, directory, symlink, dangling symlink and " +
    "missing path, bare and file:-qualified, equal stock") {
    val d = Files.createTempDirectory("graft-niofs-link")
    val file = Files.write(d.resolve("file"), "x".getBytes)
    val dir = Files.createDirectory(d.resolve("dir"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val missing = d.resolve("missing")
    val stock = initialized(new RawLocalFileSystem, "022")
    val nio = initialized(new NioRawLocalFileSystem, "022")
    def status(fs: RawLocalFileSystem, p: Path) =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.getPath.toString, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink.toString else "", s.getLen,
          s.getModificationTime, s.getPermission.toString, s.getOwner))
      } catch { case _: FileNotFoundException => Left("FileNotFoundException") }
    for (p <- Seq(file, dir, link, dangling, missing);
         q <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(status(nio, q) == status(stock, q), q)
    }
    // stock semantics, kept: only a bare path reads as a link (with a
    // qualified target); a qualified one resolves to its target
    assert(status(nio, new Path(link.toString)).exists(s => s._3 && s._4 == s"file:$file"))
    assert(status(nio, new Path(link.toUri)).exists(s => !s._3 && s._5 == 1L))
    assert(status(nio, new Path(dangling.toString)).exists(_._3))
    assert(status(nio, new Path(dangling.toUri)).isLeft)
    assert(status(nio, new Path(missing.toString)).isLeft)
  }

  test("a GraftSession resolves file: FileSystem and FileContext to the spawn-free classes") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(conf).getClass == classOf[NioLocalFileSystem])
      assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
      assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
    }
  }

  /** Three micro-batches of a checkpointed `thresholdFlags` query, then a
    * parquet write and read: the checkpoint and parquet trees (job ids
    * masked) with their modes.
    */
  private def checkpointedRun(session: SparkSession, name: String): Map[String, Int] = {
    implicit val sqlCtx = session.sqlContext
    import session.implicits._
    val root = Files.createTempDirectory("graft-niofs-run")
    val input = MemoryStream[(Timestamp, Double)]
    val query = StreamingOps.thresholdFlags(input.toDF().toDF("ts", "v"), "ts", "v",
        windowDuration = "10 seconds", watermark = "5 seconds", threshold = 5.0)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", root.resolve("checkpoint").toString).start()
    try {
      def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
      for (batch <- Seq(Seq((ts(1), 1.0), (ts(12), 9.0)), Seq((ts(40), 0.0)), Seq((ts(59), 0.0)))) {
        input.addData(batch)
        query.processAllAvailable()
      }
    } finally query.stop()
    assert(session.table(name).count() == 3)
    val pq = root.resolve("parquet").toString
    session.range(100).write.parquet(pq)
    assert(session.read.parquet(pq).count() == 100)
    val uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"
    tree(root).map { case (p, m) => p.replaceAll(uuid, "<id>") -> m }
  }

  test("checkpointed stream and parquet I/O start no process from Hadoop's fs " +
    "and write the same files with the same modes as the stock classes") {
    // the classes Hadoop picks without GraftSession's keys (for
    // `FileSystem`, the scheme's ServiceLoader registration)
    val stockSession = spark.newSession()
    stockSession.conf.set("fs.file.impl",
      FileSystem.getFileSystemClass("file", new Configuration()).getName)
    stockSession.conf.set("fs.file.impl.disable.cache", "true")
    stockSession.conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val (stock, stockSpawns) = hadoopFsSpawns(checkpointedRun(stockSession, "niofs_stock"))
    val (nio, nioSpawns) = hadoopFsSpawns(checkpointedRun(spark, "niofs_graft"))
    assert(nioSpawns == 0, s"$nioSpawns processes started from org.apache.hadoop.fs")
    assert(stockSpawns > 100, s"the stock classes started only $stockSpawns")
    // a state delta, Spark's checksum file for it, Hadoop's `.crc` files
    // for both, and parquet parts are all in the compared trees
    val state = "checkpoint/state/0/0"
    assert(Seq(s"$state/1.delta", s"$state/1.delta.crc", s"$state/.1.delta.crc",
      s"$state/.1.delta.crc.crc").forall(nio.contains))
    assert(nio.keySet.exists(_.startsWith("parquet/part-")))
    assert(nio == stock,
      s"graft only: ${(nio.toSet -- stock.toSet).toSeq.sorted}; " +
        s"stock only: ${(stock.toSet -- nio.toSet).toSeq.sorted}")
  }
}
